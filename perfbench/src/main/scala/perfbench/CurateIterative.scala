package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.SparkEntry
import graft.operators.{Checkpoints, SessionCache}

/** `curate_iterative`: the dedup and curation catalog queries whose cost
  * is the connected-components loop, checkpoints, `SessionCache` fills and
  * eager driver-side rounds. One round builds and executes each query
  * once, cold, in a session of its own: a second run in the same session
  * would be served by `SessionCache`.
  */
object CurateIterative {
  val Docs = 250
  val Embeddings = 250

  /** One query's figures in one round. */
  final case class QueryRun(build: Double, plan: Double, exec: Double, drain: Double,
      retired: Int) {
    def seconds: Double = build + plan + exec + drain
  }

  def run(a: RunArgs, tracer: Tracer): Outcome = {
    val (writer, setup) = Harness.coldSession(a, tracer)
    val rng = new SplittableRandom(a.seed)
    val docs = Inputs.documents(rng.split(), Docs)
    val embs = Inputs.embeddings(rng.split(), Embeddings)
    val dir = a.dir("tables")
    Inputs.writeTables(writer, dir, docs, embs)
    writer.stop()
    Harness.log("inputs written")
    // the queries' first round runs in a session of its own, like the rest
    var spark = Harness.session(a, "perfbench")
    Harness.log("set up")
    val listeners = new Listeners
    val outputs = new java.io.File(a.work, "outputs")
    outputs.mkdirs()
    val firstRows = mutable.Map.empty[String, Seq[String]]
    val runs = mutable.Map.empty[String, mutable.ArrayBuffer[QueryRun]]
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var fills = 0L
    val Harness.Rounds(roundSecs, liveHeap) = Harness.rounds(a.seconds) { i =>
      if (i > 0) {
        SessionCache.clear()
        spark.stop()
        spark = Harness.session(a, "perfbench")
      }
      if (a.trace) { listeners.attach(spark); tracer.record = true }
      val catalog = SparkEntry.queries
      val fills0 = SessionCache.fills
      val results = mutable.ArrayBuffer.empty[(String, Array[org.apache.spark.sql.Row])]
      val (_, secs) = tracer.timed("round") {
        Harness.CurateQueries.foreach { q =>
          spark.sparkContext.setLocalProperty("perfbench.tag", q)
          try {
            val (df, build) = tracer.timed(s"SparkEntry.queries[$q]")(catalog(q)(spark, dir))
            val plan = tracer.timed("QueryExecution.executedPlan")(df.queryExecution.executedPlan)._2
            val (rows, exec) = tracer.timed("Dataset.collect")(df.collect())
            val retired = Checkpoints.retiredCount
            val drain = tracer.timed("Checkpoints.drain")(Checkpoints.drain())._2
            runs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += QueryRun(build, plan, exec, drain, retired)
            results += q -> rows
          } catch {
            case e: Exception =>
              failed += 1
              errors += s"$q failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
              Checkpoints.drain()
          }
        }
      }
      if (a.trace) { fills += SessionCache.fills - fills0; listeners.detach(); tracer.record = false }
      // outside the timing: keep the first round's rows for the oracle
      // check, and hold later rounds to them
      results.foreach { case (q, rows) =>
        val json = rows.toSeq.map(_.json)
        firstRows.get(q) match {
          case None =>
            firstRows(q) = json.sorted
            java.nio.file.Files.write(new java.io.File(outputs, s"$q.jsonl").toPath,
              json.mkString("", "\n", "\n").getBytes("UTF-8"))
            java.nio.file.Files.writeString(new java.io.File(outputs, s"$q.sql").toPath,
              SparkEntry.oracleSql(q))
          case Some(first) =>
            if (first != json.sorted) errors += s"$q: round $i rows differ from round 0"
        }
      }
      secs
    }
    Harness.log(s"${roundSecs.size} rounds")
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        def med(q: String, f: QueryRun => Double) =
          Harness.median(runs.getOrElse(q, Nil).map(f).toSeq)
        val n = listeners.rounds
        val perQuery = Harness.CurateQueries.flatMap { q =>
          val t = listeners.jobs.get(q)
          Seq(s"$q.build_s" -> med(q, _.build), s"$q.plan_s" -> med(q, _.plan),
            s"$q.exec_s" -> med(q, _.exec),
            s"$q.jobs" -> t.jobs.toDouble / n, s"$q.tasks" -> t.tasks.toDouble / n,
            s"$q.shuffle_write_mb" -> t.shuffleWrite / 1048576.0 / n,
            s"$q.spill_mb" -> t.spill / 1048576.0 / n,
            s"$q.task_max_ms" -> t.taskMaxMs.toDouble)
        }
        val all = runs.values.flatten.toSeq
        listeners.totals ++ perQuery ++ Map(
          "checkpoints.retired" -> all.map(_.retired).sum.toDouble / n,
          "checkpoints.drain_s" -> all.map(_.drain).sum / n,
          "session_cache.fills" -> fills.toDouble / n,
          "session_cache.size" -> SessionCache.size.toDouble)
      }
    SessionCache.clear()
    spark.stop()
    val detail = Harness.CurateQueries.map(q =>
      s"$q.s" -> Harness.median(runs.getOrElse(q, Nil).map(_.seconds).toSeq)).toMap ++
      Map("rounds" -> roundSecs.size.toDouble, "documents" -> Docs.toDouble,
        "embeddings" -> Embeddings.toDouble)
    Outcome(attempted = Harness.CurateQueries.size.toLong * roundSecs.size, failed,
      errors.toSeq, (setup, setup),
      e2e = Map("work_s" -> Harness.median(roundSecs), "heap_live_mb" -> liveHeap),
      layers, detail)
  }
}
