package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession

import graft.{Engine, HttpFrontEnd, JobConfig, OperationRegistry}
import graft.operators.{Checkpoints, SessionCache}
import graft.sources.{CorpusReader, Sinks}

/** `serve_mixed`: the HTTP front end under a closed loop, writes beside
  * reads. A round has a fixed composition, so every run attempts the same
  * operations in the same proportions:
  *
  *  1. a `/lookup` that overlaps a `/launch_map_reduce` re-run of the boot
  *     word count onto its own output path, while the `/bm25` client sends
  *     one request;
  *  2. two `/lookup` clients send `LookupsPerClient` requests each while
  *     the `/bm25` client sends another.
  *
  * The overlap is put on a fixed schedule with [[Gate]]: the lookup lists
  * the published result, its first read of a result file is held, the
  * launch is sent, and the read goes on once the launch has answered.
  * `Sinks.swapInto` has deleted the files the lookup listed by then, so it
  * fails every time with FILE_NOT_EXIST, and is counted as failed. Should
  * the launch make no progress while the read is held (a front end that
  * makes launches wait for lookups), the read goes on after `StallMs`.
  */
object ServeMixed {
  val Files = 20
  val BytesPerFile = 100000
  val Vocab = 5000
  val Docs = 2000
  val LookupsPerClient = 4
  val Bm25K = 10
  val StallMs = 300L
  /** Timed rounds a run makes at the least. Rounds still speed up after
    * the warm-up, so a run whose host is slow enough to fit fewer rounds
    * in `--seconds` would also weigh its slowest, first round more.
    */
  val LeastRounds = 4

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  final case class Reply(code: Int, body: String, secs: Double)

  private def call(port: Int, method: String, path: String): Reply = {
    val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
    val r = if (method == "POST") req.POST(HttpRequest.BodyPublishers.noBody()) else req.GET()
    val t0 = System.nanoTime()
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    Reply(resp.statusCode(), resp.body(), (System.nanoTime() - t0) / 1e9)
  }

  /** Okapi BM25 top-k over the generated documents, written from the
    * front end's documented definition (Robertson idf ratio without the
    * logarithm, k1 = 1.2, b = 0.75, ties by ascending doc_id).
    */
  def bm25(docs: Array[Inputs.Doc], query: String, k: Int): Seq[(Long, Double)] = {
    val k1 = 1.2
    val b = 0.75
    val terms = query.split("[,\\s]+").map(_.toLowerCase.filter(c => c >= 'a' && c <= 'z'))
      .filter(_.nonEmpty).distinct.toSeq
    val toks = docs.map(d => d.doc_id -> d.text.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
    val nd = toks.length.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / nd
    val tf = toks.map { case (id, ts) => id -> terms.map(t => ts.count(_ == t)) }
    val df = terms.indices.map(i => tf.count(_._2(i) > 0).toDouble)
    val dl = toks.map { case (id, ts) => id -> ts.length.toDouble }.toMap
    tf.filter(_._2.exists(_ > 0)).map { case (id, counts) =>
      val score = terms.indices.map { i =>
        if (counts(i) == 0) 0.0
        else {
          val t = counts(i).toDouble
          ((nd - df(i) + 0.5) / (df(i) + 0.5)) * (t * (k1 + 1.0)) /
            (t + k1 * ((1.0 - b) + (b * dl(id)) / avgdl))
        }
      }.reduce(_ + _)
      id -> score
    }.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
  }

  final case class Server(spark: SparkSession, http: HttpServer) {
    def port: Int = http.getAddress.getPort
    def stop(): Unit = { http.stop(0); spark.stop() }
  }

  /** The program's set-up, cold (the first session of the JVM): session
    * start, the boot word count of `config` and the front end. Returns the
    * server and the seconds of the whole set-up and of the session start.
    */
  private def setUp(a: RunArgs, tracer: Tracer, config: JobConfig): (Server, (Double, Double)) = {
    GatedLocalFileSystem.install()
    val ((server, session), secs) = tracer.timed("set-up") {
      val (spark, session) = Harness.coldSession(a, tracer)
      tracer.span("Engine.run[wordcount]")(Engine.run(spark, config))
      (Server(spark, tracer.span("HttpFrontEnd.start")(
        HttpFrontEnd.start(spark, Some(config), 0, Some(a.dir("tables"))))), session)
    }
    (server, (secs, session))
  }

  /** The set-up alone, in a fresh JVM, over the corpus a run left in its
    * work directory.
    */
  def probe(a: RunArgs): (Double, Double) = {
    val (server, secs) = setUp(a, new Tracer(System.nanoTime()),
      JobConfig("wordcount", a.dir("corpus"), a.dir("probe/wordcount")))
    server.stop()
    secs
  }

  def run(a: RunArgs, tracer: Tracer): Outcome = {
    val rng = new SplittableRandom(a.seed)
    val corpus = Inputs.corpus(a.dir("corpus"), rng.nextLong(), Files, BytesPerFile, Vocab)
    val out = a.dir("out/wordcount")
    val (server, setup) = setUp(a, tracer, JobConfig("wordcount", corpus.dir, out))
    val spark = server.spark
    Harness.log("set up")
    val docs = Inputs.documents(rng.split(), Docs)
    val tables = a.dir("tables")
    Inputs.writeTables(spark, tables, docs, Inputs.embeddings(rng.split(), 10))

    // what each request must answer, fixed per seed
    val byRank = Seq(0, 2, 10, 40, 200, 1000, Vocab - 1).map(corpus.vocab(_))
    val lookupTerms = Seq.tabulate(2)(c => Seq.tabulate(LookupsPerClient)(i =>
      if ((i + c) % LookupsPerClient == LookupsPerClient - 1) "absentword" + c
      else byRank((i + 3 * c) % byRank.length)))
    // fixed queries: their cost must not depend on the seed, only the
    // documents they rank do
    val bm25Queries = Seq("join filter vector", "stream batch table")
    val bm25Expected = bm25Queries.distinct.map(q => q -> bm25(docs, q, Bm25K)).toMap
    Harness.log("inputs written")

    val port = server.port
    val pool = Executors.newFixedThreadPool(3)
    val latencies = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var requests = 0L
    var heldReads = 0L
    var stalls = 0L
    val listeners = new Listeners
    val fills0 = SessionCache.fills

    // off during the warm-up rounds, which are neither timed nor counted
    @volatile var counting = false
    def record(kind: String, r: Reply)(check: Reply => Option[String]): Unit = synchronized {
      if (counting) {
        requests += 1
        val problem = if (r.code != 200) Some(s"HTTP ${r.code}: ${r.body.take(200)}") else check(r)
        problem match {
          case Some(p) => failed += 1; if (errors.size < 10) errors += s"$kind: $p"
          case None => latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += r.secs
        }
      }
    }
    def checkLookup(term: String)(r: Reply): Option[String] = {
      val got = scala.util.Try(ResultCheck.lookupCount(r.body)).toOption.flatten
      val want = ResultCheck.expectedCount(corpus, term)
      if (got == want) None else Some(s"'$term' answered ${r.body.take(100)}, expected $want")
    }
    def lookup(term: String): Unit =
      record("lookup", tracer.span("GET /lookup")(
        call(port, "GET", "/lookup?term=" + URLEncoder.encode(term, UTF_8))))(checkLookup(term))
    def bm25Request(q: String): Unit = {
      val r = tracer.span("GET /bm25")(call(port, "GET",
        s"/bm25?k=$Bm25K&q=" + URLEncoder.encode(q, UTF_8)))
      record("bm25", r) { r =>
        val t = ResultCheck.tree(r.body)
        val got = Seq.tabulate(t.size)(i => t.get(i).get("doc_id").asLong -> t.get(i).get("score").asDouble)
        val want = bm25Expected(q)
        val ok = got.size == want.size && got.zip(want).forall { case ((g, gs), (w, ws)) =>
          g == w && math.abs(gs - ws) <= 1e-9 * math.max(1.0, math.abs(ws)) }
        if (ok) None else Some(s"'$q' top-$Bm25K ${got.take(3)}… expected ${want.take(3)}…")
      }
    }
    def launch(): Unit = {
      val r = tracer.span("POST /launch_map_reduce")(call(port, "POST", "/launch_map_reduce"))
      record("launch", r) { r =>
        if (r.body.contains(s""""rows":${corpus.distinctWords}""")) None
        else Some(s"answered ${r.body.take(200)}, expected ${corpus.distinctWords} rows")
      }
    }
    def submit[A](task: () => A) = {
      val parent = tracer.open
      pool.submit(new Callable[A] { def call(): A = tracer.under(parent)(task()) })
    }
    def concurrently(tasks: (() => Unit)*): Unit = tasks.map(submit(_)).foreach(_.get())

    /** The lookup that overlaps a launch (see the class comment). */
    def overlapped(): Unit = {
      val listed = Option(new java.io.File(out).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).toSet
      Gate.arm(listed, Seq(corpus.dir, out))
      val term = byRank.head
      val read = submit(() => tracer.span("GET /lookup")(
        call(port, "GET", "/lookup?term=" + URLEncoder.encode(term, UTF_8))))
      try {
        val held = Gate.awaitHeld(30000)(read.isDone)
        val before = Gate.progress
        val sent = System.nanoTime()
        val writes = Seq(submit(() => launch()), submit(() => bm25Request(bm25Queries(0))))
        while (held && !writes.head.isDone &&
          (Gate.progress != before || System.nanoTime() - sent < StallMs * 1000000L)) Thread.sleep(2)
        if (counting) synchronized {
          if (held) heldReads += 1
          if (held && !writes.head.isDone) stalls += 1
        }
        Gate.release()
        writes.foreach(_.get())
      } finally Gate.release()
      val r = read.get()
      if (r.code == 500 && r.body.contains("FILE_NOT_EXIST")) {
        if (counting) synchronized { requests += 1; failed += 1 }
      } else record("lookup_overlapped", r)(checkLookup(term))
    }

    def round(): Unit = {
      overlapped()
      concurrently(
        () => lookupTerms(0).foreach(lookup),
        () => lookupTerms(1).foreach(lookup),
        () => bm25Request(bm25Queries(1)))
    }

    // compilation speeds rounds up: the first takes about twice as long
    // as the next
    round()
    counting = true
    Harness.log("warmed up")
    val Harness.Rounds(roundSecs, liveHeap) = Harness.rounds(a.seconds, LeastRounds) { _ =>
      if (a.trace) { listeners.attach(spark); tracer.record = true }
      val secs = tracer.timed("round")(round())._2
      if (a.trace) { listeners.detach(); tracer.record = false }
      secs
    }
    Harness.log(s"${roundSecs.size} rounds")
    pool.shutdown()
    errors ++= ResultCheck.wordCount(out, corpus)
    def lat(kind: String) = latencies.getOrElse(kind, Nil).toSeq
    val http = Map(
      "lookup_p50_ms" -> Harness.median(lat("lookup")) * 1e3,
      "lookup_p90_ms" -> Harness.percentile(lat("lookup"), 90) * 1e3,
      "bm25_p50_ms" -> Harness.median(lat("bm25")) * 1e3,
      "bm25_p90_ms" -> Harness.percentile(lat("bm25"), 90) * 1e3,
      "launch_p50_s" -> Harness.median(lat("launch")),
      "rps" -> latencies.values.map(_.size).sum / roundSecs.sum)
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        tracer.record = true
        spark.sparkContext.setLocalProperty("perfbench.tag", "layers")
        val scan = tracer.timed("CorpusReader.cleaned")(Harness.noop(CorpusReader.cleaned(spark, corpus.dir)))._2
        val pipe = tracer.timed("OperationRegistry[wordcount]")(
          Harness.noop(OperationRegistry("wordcount")(CorpusReader.cleaned(spark, corpus.dir), false)))._2
        val (fetched, fetchSecs) = tracer.timed("Engine.fetchResult") {
          val df = Engine.fetchResult(spark, out).cache(); df.count(); df
        }
        val sink = tracer.timed("Sinks.sortedSingleFileJson")(
          Sinks.sortedSingleFileJson(fetched, "word", a.dir("out/sink")))._2
        fetched.unpersist()
        val direct = byRank.map(t => tracer.timed("Engine.lookup")(
          Engine.lookup(spark, out, t).collect())._2 * 1e3)
        listeners.totals ++ Map(
          "checkpoints.retired" -> Checkpoints.retiredCount.toDouble,
          "session_cache.fills" -> (SessionCache.fills - fills0).toDouble,
          "session_cache.size" -> SessionCache.size.toDouble,
          "sources.scan_clean_s" -> scan, "sources.sink_json_s" -> sink, "sources.fetch_s" -> fetchSecs,
          "pipeline.wordcount_s" -> pipe, "engine.lookup_ms" -> Harness.median(direct)) ++
          http.map { case (k, v) => s"http.$k" -> v }
      }
    server.stop()
    val detail = Map("rounds" -> roundSecs.size.toDouble, "requests" -> requests.toDouble,
      "held_reads" -> heldReads.toDouble, "stalls" -> stalls.toDouble) ++
      http.map { case (k, v) => (if (k == "rps") "serve_rps" else k) -> v }
    Outcome(requests, failed, errors.toSeq, setup,
      e2e = Map("work_s" -> Harness.median(roundSecs), "heap_live_mb" -> liveHeap),
      layers, detail)
  }
}
