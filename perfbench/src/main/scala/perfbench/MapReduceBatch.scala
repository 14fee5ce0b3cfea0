package perfbench

import org.apache.spark.sql.SparkSession

import graft.{Engine, JobConfig, OperationRegistry}
import graft.sources.{CorpusReader, Sinks}

/** `mapreduce_batch`: the reference's own job. One round runs
  * `Engine.run` word count, then inverted index, over a generated corpus,
  * each publishing its sorted single-file JSON result to the same path
  * every round.
  */
object MapReduceBatch {
  val Files = 16
  val BytesPerFile = 1000000
  val Vocab = 30000

  def run(a: RunArgs, tracer: Tracer): Outcome = {
    val (spark, setup) = Harness.coldSession(a, tracer)
    val corpus = Inputs.corpus(a.dir("corpus"), a.seed, Files, BytesPerFile, Vocab)
    Harness.log("inputs written")
    val wcOut = a.dir("out/wordcount")
    val iiOut = a.dir("out/invertedindex")
    def job(op: String, out: String) = {
      spark.sparkContext.setLocalProperty("perfbench.tag", op)
      tracer.timed(s"Engine.run[$op]")(Engine.run(spark, JobConfig(op, corpus.dir, out)))._2
    }
    // one untimed round first: it carries class loading and compilation,
    // and took about 1.5 times a later round
    job("wordcount", wcOut)
    job("invertedindex", iiOut)
    Harness.log("warmed up")
    val listeners = new Listeners
    val wc = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ii = scala.collection.mutable.ArrayBuffer.empty[Double]
    val Harness.Rounds(roundSecs, liveHeap) = Harness.rounds(a.seconds) { _ =>
      if (a.trace) { listeners.attach(spark); tracer.record = true }
      val (_, secs) = tracer.timed("round") {
        wc += job("wordcount", wcOut)
        ii += job("invertedindex", iiOut)
      }
      if (a.trace) { listeners.detach(); tracer.record = false }
      secs
    }
    Harness.log(s"${roundSecs.size} rounds")
    val errors = ResultCheck.wordCount(wcOut, corpus) ++ ResultCheck.invertedIndex(iiOut, corpus)
    val mb = corpus.bytes / 1048576.0
    val detail = Map(
      "corpus_mb" -> mb, "rounds" -> roundSecs.size.toDouble,
      "wordcount_s" -> Harness.median(wc.toSeq), "invertedindex_s" -> Harness.median(ii.toSeq),
      "batch_mb_per_s" -> mb / Harness.median(wc.toSeq.zip(ii).map { case (x, y) => x + y }))
    Harness.log("checked")
    val layers = if (a.trace) this.layers(a, spark, tracer, corpus, wcOut, iiOut, listeners) ++ Map(
      "engine.wordcount_s" -> detail("wordcount_s"), "engine.invertedindex_s" -> detail("invertedindex_s"),
      "batch.mb_per_s" -> detail("batch_mb_per_s"))
      else Map.empty[String, Double]
    spark.stop()
    Outcome(attempted = 2L * roundSecs.size, failed = 0, errors, (setup, setup),
      e2e = Map("work_s" -> Harness.median(roundSecs), "heap_live_mb" -> liveHeap),
      layers, detail)
  }

  /** Per-layer figures of a traced run: the rounds' own spans and
    * listener totals, then each layer of the job called on its own
    * (after the timed rounds, so the rounds stay comparable).
    */
  private def layers(a: RunArgs, spark: SparkSession, tracer: Tracer, corpus: Inputs.Corpus,
      wcOut: String, iiOut: String, listeners: Listeners): Map[String, Double] = {
    tracer.record = true
    spark.sparkContext.setLocalProperty("perfbench.tag", "layers")
    val cleaned = CorpusReader.cleaned(spark, corpus.dir)
    val scan = tracer.timed("CorpusReader.cleaned")(Harness.noop(CorpusReader.cleaned(spark, corpus.dir)))._2
    val pipe = Seq("wordcount", "invertedindex").map { op =>
      op -> tracer.timed(s"OperationRegistry[$op]")(Harness.noop(OperationRegistry(op)(cleaned, false)))._2
    }.toMap
    val (fetched, fetchSecs) = tracer.timed("Engine.fetchResult") {
      Seq(wcOut, iiOut).map { p => val df = Engine.fetchResult(spark, p).cache(); df.count(); df }
    }
    val sink = fetched.zipWithIndex.map { case (df, i) =>
      tracer.timed("Sinks.sortedSingleFileJson")(
        Sinks.sortedSingleFileJson(df, "word", a.dir(s"out/sink$i")))._2
    }.sum
    fetched.foreach(_.unpersist())
    val terms = corpus.vocab.take(5)
    val lookups = terms.map(t => tracer.timed("Engine.lookup")(
      Engine.lookup(spark, wcOut, t).collect())._2 * 1e3)
    listeners.totals ++ Map(
      "checkpoints.retired" -> graft.operators.Checkpoints.retiredCount.toDouble,
      "session_cache.fills" -> graft.operators.SessionCache.fills.toDouble,
      "session_cache.size" -> graft.operators.SessionCache.size.toDouble,
      "sources.scan_clean_s" -> scan, "sources.sink_json_s" -> sink, "sources.fetch_s" -> fetchSecs,
      "pipeline.wordcount_s" -> pipe("wordcount"), "pipeline.invertedindex_s" -> pipe("invertedindex"),
      "engine.lookup_ms" -> Harness.median(lookups.toSeq))
  }
}
