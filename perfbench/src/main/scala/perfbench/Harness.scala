package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run of a workload reports. `setup` holds the seconds of its
  * cold set-up and of the session start within it, `e2e` the other
  * end-to-end metrics of an untraced run, `layers` the per-layer metrics
  * of a traced one; `detail` holds workload-specific figures that are
  * printed beside the result but are not part of the benchmark's metric
  * set.
  */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String], setup: (Double, Double),
    e2e: Map[String, Double], layers: Map[String, Double], detail: Map[String, Double])

final case class RunArgs(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
    probe: Boolean) {
  val cores: String = math.min(4, Runtime.getRuntime.availableProcessors()).toString
  def dir(name: String): String = new File(work, name).getAbsolutePath
}

/** Benchmark entry point: runs one workload against the engine and prints
  * one JSON line with the outcome. Usage:
  *
  * {{{
  * perfbench.Harness --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--probe 1]
  * }}}
  *
  * With `--probe 1` it instead times the workload's set-up once, cold, in
  * this fresh JVM, over the inputs a full run left in `--work`, and prints
  * `{"setup_s": .., "session_s": ..}`.
  */
object Harness {

  val Workloads: Map[String, (RunArgs, Tracer) => Outcome] = Map(
    "mapreduce_batch" -> MapReduceBatch.run,
    "curate_iterative" -> CurateIterative.run,
    "serve_mixed" -> ServeMixed.run)

  /** Cold set-up of each workload, in a fresh JVM: seconds of the whole
    * set-up and of its `EngineSession.local` call.
    */
  val Probes: Map[String, RunArgs => (Double, Double)] = Map(
    "mapreduce_batch" -> sessionProbe,
    "curate_iterative" -> sessionProbe,
    "serve_mixed" -> ServeMixed.probe)

  /** End-to-end metrics the harness reports, with their units. `run.py`
    * adds `setup_s` from the run's own cold set-up and the probes'.
    */
  val EndToEnd: Seq[(String, String)] = Seq("work_s" -> "s", "heap_live_mb" -> "MB")

  val CurateQueries: Seq[String] = Seq("dedup_clusters", "dedup_canonical",
    "dedup_clusters_multi", "pipeline_curate_full", "embedding_kmeans", "bpe_merges")

  /** Per-layer metrics every traced run reports (0 where a workload does
    * not reach the layer), with their units.
    */
  val PerLayer: Seq[(String, String)] =
    CurateQueries.flatMap(q => Seq(
      s"$q.build_s" -> "s", s"$q.plan_s" -> "s", s"$q.exec_s" -> "s",
      s"$q.jobs" -> "count", s"$q.tasks" -> "count", s"$q.shuffle_write_mb" -> "MB",
      s"$q.spill_mb" -> "MB", s"$q.task_max_ms" -> "ms")) ++ Seq(
      "checkpoints.retired" -> "count", "checkpoints.drain_s" -> "s",
      "session_cache.fills" -> "count", "session_cache.size" -> "count",
      "sources.scan_clean_s" -> "s", "sources.sink_json_s" -> "s", "sources.fetch_s" -> "s",
      "pipeline.wordcount_s" -> "s", "pipeline.invertedindex_s" -> "s",
      "engine.wordcount_s" -> "s", "engine.invertedindex_s" -> "s",
      "engine.lookup_ms" -> "ms",
      "http.lookup_p50_ms" -> "ms", "http.lookup_p90_ms" -> "ms",
      "http.bm25_p50_ms" -> "ms", "http.bm25_p90_ms" -> "ms",
      "http.launch_p50_s" -> "s", "http.rps" -> "1/s",
      "batch.mb_per_s" -> "MB/s",
      "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.sql_executions" -> "count",
      "jvm.gc_s" -> "s", "jvm.cpu_s" -> "s",
      "trace.work_s" -> "s", "trace.spans" -> "count")

  private val started = System.nanoTime()

  /** A progress line in the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s: $msg")

  def session(a: RunArgs, name: String): SparkSession = {
    val s = graft.EngineSession.local(a.cores, name)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The first session of the JVM, timed; the set-up of `mapreduce_batch`
    * and `curate_iterative`.
    */
  def coldSession(a: RunArgs, tracer: Tracer): (SparkSession, Double) =
    tracer.timed("EngineSession.local")(session(a, "perfbench"))

  private def sessionProbe(a: RunArgs): (Double, Double) = {
    val (spark, secs) = coldSession(a, new Tracer(System.nanoTime()))
    spark.stop()
    (secs, secs)
  }

  /** Execute `df` fully without keeping its rows (Spark's noop sink). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
    }

  /** The timed rounds of a run, and the live heap after the last one. */
  final case class Rounds(secs: Seq[Double], liveHeapMb: Double)

  /** Run `round` (which returns its own timed seconds) until `seconds` of
    * wall time have passed, always whole rounds and at least `least`. Every
    * round starts after a full collection, outside its timing. The live
    * heap is read after the last round, so growth from round to round
    * shows. A request's buffers (an 18 MB page on `serve_mixed`) are
    * sometimes still held when a round ends, so it is read twice, over half
    * a second apart, and the smaller reading kept.
    */
  def rounds(seconds: Int, least: Int = 1)(round: Int => Double): Rounds = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (out.size < least || (System.nanoTime() - t0) / 1e9 < seconds) {
      System.gc()
      out += round(out.length)
      log(f"round ${out.length - 1}: ${out.last}%.3f s")
    }
    val live = Jvm.liveHeapMb
    Thread.sleep(300)
    Rounds(out.toSeq, math.min(live, Jvm.liveHeapMb))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private def parse(argv: Array[String]): RunArgs = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    RunArgs(w, need("seed").toLong, seconds, need("trace") == "1", new File(need("work")),
      m.get("probe").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.probe) {
      val (setup, session) = Probes(a.workload)(a)
      println(s"""{"setup_s": ${Json.num(setup)}, "session_s": ${Json.num(session)}}""")
      System.exit(0)
    }
    deleteRecursively(a.work)
    a.work.mkdirs()
    val tracer = new Tracer(System.nanoTime())
    log(s"${a.workload} seed ${a.seed}")
    val o = Workloads(a.workload)(a, tracer)
    log("done")
    if (a.trace) tracer.write(new File(a.work, "spans.jsonl").toPath)
    val (names, values) =
      if (a.trace) (PerLayer, o.layers ++ Map("trace.work_s" -> o.e2e("work_s"),
        "trace.spans" -> tracer.all.size.toDouble))
      else (EndToEnd, o.e2e)
    val metrics = names.map { case (n, u) =>
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(values.getOrElse(n, 0.0))}, ${Json.str("unit")}: ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val detail = o.detail.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val errors = o.errors.map(Json.str).mkString("[", ", ", "]")
    val setup = s"""{"setup_s": ${Json.num(o.setup._1)}, "session_s": ${Json.num(o.setup._2)}}"""
    println(s"""{"correct": ${o.errors.isEmpty}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": $metrics, "setup": $setup, "detail": $detail, "errors": $errors}""")
    // Spark's non-daemon threads must not keep a finished run alive
    System.exit(0)
  }
}
