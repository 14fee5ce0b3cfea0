package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper

/** Checks a published word-count or inverted-index result against the
  * generator's tallies, reading the artifact with a plain JSON parser:
  * exactly one data file, one object per line, keys strictly ascending.
  */
object ResultCheck {
  private val mapper = new ObjectMapper()

  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))

  private def lines(dir: String, errors: Seq[String] => Unit): Seq[String] = {
    val files = dataFiles(dir)
    if (files.length != 1) { errors(Seq(s"$dir: ${files.length} data files, expected 1")); Nil }
    else java.nio.file.Files.readAllLines(files.head.toPath).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty)
  }

  private def ascending(dir: String, keys: Seq[String]): Seq[String] =
    keys.zip(keys.drop(1)).collectFirst { case (a, b) if a.compareTo(b) >= 0 =>
      s"$dir: keys not strictly ascending at '$a', '$b'" }.toSeq

  def wordCount(dir: String, c: Inputs.Corpus): Seq[String] = {
    var errs = Seq.empty[String]
    val rows = lines(dir, e => errs ++= e).map(mapper.readTree)
    val keys = rows.map(_.get("word").asText)
    errs ++= ascending(dir, keys)
    val got = rows.map(r => r.get("word").asText -> r.get("count").asLong).toMap
    val want = c.vocab.indices.filter(c.counts(_) > 0).map(k => c.vocab(k) -> c.counts(k)).toMap
    if (got.size != rows.size) errs :+= s"$dir: duplicate keys"
    if (got != want) {
      val bad = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))
      errs :+= s"$dir: ${got.size} words vs ${want.size} expected; first mismatch ${bad.map(k =>
        s"'$k' got ${got.get(k)} want ${want.get(k)}").getOrElse("")}"
    }
    errs
  }

  def invertedIndex(dir: String, c: Inputs.Corpus): Seq[String] = {
    var errs = Seq.empty[String]
    val rows = lines(dir, e => errs ++= e).map(mapper.readTree)
    val keys = rows.map(_.get("word").asText)
    errs ++= ascending(dir, keys)
    val index = c.vocab.zipWithIndex.toMap
    var compared = 0
    rows.foreach { r =>
      val w = r.get("word").asText
      val docs = Seq.tabulate(r.get("docs").size)(i => r.get("docs").get(i).asText)
      index.get(w) match {
        case None => errs :+= s"$dir: unexpected word '$w'"
        case Some(k) =>
          compared += 1
          val want = c.fileNames.indices.filter(f => c.present(f).get(k)).map(c.fileNames(_))
          if (docs != want && errs.size < 5) errs :+= s"$dir: '$w' docs ${docs.take(3)}… want ${want.take(3)}…"
      }
    }
    if (compared != c.distinctWords) errs :+= s"$dir: $compared words vs ${c.distinctWords} expected"
    errs
  }

  /** Expected `/lookup` answer of a word-count result for `w`. */
  def expectedCount(c: Inputs.Corpus, w: String): Option[Long] = {
    val k = c.vocab.indexOf(w)
    if (k >= 0 && c.counts(k) > 0) Some(c.counts(k)) else None
  }

  /** Parse a `/lookup` body (`[{"count":n,"word":"w"}]` or `[]`). */
  def lookupCount(body: String): Option[Long] = {
    val t = mapper.readTree(body)
    if (t.size == 0) None else Some(t.get(0).get("count").asLong)
  }

  def tree(body: String) = mapper.readTree(body)
}
