package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Every input a workload gives the program is a
  * pure function of the seed, and each generator keeps its own tallies of
  * what it wrote, so outputs are checked against numbers the program
  * never saw.
  */
object Inputs {

  /** A vocabulary of `n` distinct a–z words, 3 to 9 letters long. */
  def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = 3 + rng.nextInt(7)
      val sb = new StringBuilder(len)
      var j = 0
      while (j < len) { sb.append(('a' + rng.nextInt(26)).toChar); j += 1 }
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Zipf(s = 1) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int) {
    private val cdf = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val k = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (k >= 0) k else -k - 1)
    }
  }

  /** A text corpus of `files` files for the reference's two jobs, with
    * the per-word counts and per-(word, file) presence it wrote. Words
    * are drawn Zipf-distributed from an a–z vocabulary; line-initial
    * capitals, trailing punctuation and blank lines give the cleaning
    * step real work without changing what a cleaned token is.
    */
  final case class Corpus(dir: String, fileNames: Array[String], vocab: Array[String],
      counts: Array[Long], present: Array[java.util.BitSet], bytes: Long) {
    def distinctWords: Int = counts.count(_ > 0)
  }

  def corpus(dir: String, seed: Long, files: Int, bytesPerFile: Int,
      vocabSize: Int): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng, vocabSize)
    val zipf = new Zipf(vocabSize)
    val counts = new Array[Long](vocabSize)
    val present = Array.fill(files)(new java.util.BitSet(vocabSize))
    val names = Array.tabulate(files)(f => f"part-$f%05d.txt")
    new File(dir).mkdirs()
    var total = 0L
    val punct = Array(".", ",", ";", "!", "?", ":")
    for (f <- 0 until files) {
      val fileRng = rng.split()
      val out = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, names(f))), UTF_8), 1 << 16)
      var written = 0L
      try {
        while (written < bytesPerFile) {
          if (fileRng.nextInt(20) == 0) { out.write("\n"); written += 1 }
          else {
            val n = 6 + fileRng.nextInt(12)
            val line = new StringBuilder
            var i = 0
            while (i < n) {
              val k = zipf.sample(fileRng)
              counts(k) += 1
              present(f).set(k)
              val w = vocab(k)
              if (i > 0) line.append(' ')
              if (i == 0 && fileRng.nextInt(3) == 0) line.append(w.capitalize)
              else line.append(w)
              i += 1
            }
            if (fileRng.nextInt(2) == 0) line.append(punct(fileRng.nextInt(punct.length)))
            line.append('\n')
            out.write(line.toString)
            written += line.length
          }
        }
      } finally out.close()
      total += written
    }
    Corpus(dir, names, vocab, counts, present, total)
  }

  /** One row of the `documents` table. */
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** One row of the `embeddings` table. */
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  private val DocWords = Array(
    "data", "query", "join", "filter", "vector", "stream", "batch", "table",
    "spark", "scan", "sort", "merge", "hash", "group", "window", "value",
    "key", "row", "column", "order", "customer", "part", "line", "agg",
    "fast", "slow", "big", "small", "the", "a", "index", "shuffle", "cache",
    "plan", "task", "stage", "memory", "disk", "file", "node")

  private val NavWords = Array("HOME", "ABOUT", "CONTACT", "LOGIN", "MENU", "SEARCH")

  /** The `documents` table: `n` documents over a fixed 40-word
    * vocabulary, one to four lines each. The duplicate structure is fixed
    * by position so that every seed gives the dedup queries the same
    * amount of work: in each block of ten, documents 3 and 4 are near
    * copies (one word changed) of 2 and 3, a chain the
    * connected-components loop must follow, document 7 a near copy of 6,
    * and document 9 an exact copy of 5. Every twelfth document ends in an
    * upper-case navigation line, which the line filter drops.
    */
  def documents(rng: SplittableRandom, n: Int): Array[Doc] = {
    val zipf = new Zipf(DocWords.length)
    val langs = Array("en", "en", "en", "zh", "es", "fr", "de")
    def nearCopy(src: String): String = {
      val words = src.split(" ", -1)
      val k = rng.nextInt(words.length)
      if (!words(k).contains('\n')) words(k) = DocWords(rng.nextInt(DocWords.length))
      words.mkString(" ")
    }
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      texts(i) = i % 10 match {
        case 3 | 4 | 7 => nearCopy(texts(i - 1))
        case 9 => texts(i - 4)
        case _ =>
          val lines = 1 + rng.nextInt(4)
          val sb = new StringBuilder
          for (l <- 0 until lines) {
            if (l > 0) sb.append('\n')
            val m = 8 + rng.nextInt(25)
            sb.append((0 until m).map(_ => DocWords(zipf.sample(rng))).mkString(" "))
          }
          if (i % 12 == 11)
            sb.append('\n').append((0 until 4).map(_ => NavWords(rng.nextInt(NavWords.length))).mkString(" "))
          sb.toString
      }
    }
    Array.tabulate(n)(i => Doc(i.toLong, texts(i), langs(rng.nextInt(langs.length)),
      s"src${rng.nextInt(20)}", texts(i).length.toLong))
  }

  /** The `embeddings` table: `n` unit vectors of dimension 64 around ten
    * labelled centres; in each block of ten, vector 7 is a near copy of
    * vector 4.
    */
  def embeddings(rng: SplittableRandom, n: Int): Array[Emb] = {
    val dim = 64
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val centres = Array.fill(10)(Array.fill(dim)(rng.nextDouble() * 2 - 1))
    val out = new Array[Emb](n)
    for (i <- 0 until n) {
      out(i) =
        if (i % 10 == 7) {
          val src = out(i - 3)
          Emb(i.toLong, unit(src.embedding.map(x => x + (rng.nextDouble() - 0.5) * 1e-3)), src.label)
        } else {
          val label = i % 10
          Emb(i.toLong, unit(centres(label).map(x => x + (rng.nextDouble() * 2 - 1) * 0.9)), label)
        }
    }
    out
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`, the
    * layout the engine's table loaders read.
    */
  def writeTables(spark: SparkSession, dir: String, docs: Array[Doc], embs: Array[Emb]): Unit = {
    import spark.implicits._
    docs.toSeq.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embs.toSeq.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
