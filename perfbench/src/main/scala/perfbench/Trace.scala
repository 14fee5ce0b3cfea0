package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program: `name`, start and end (ns since the
  * run began), and the span that caused it (-1 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the program, kept in memory.
  * Timing is always taken (the end-to-end metrics need it); `record`
  * decides whether the span itself is kept, which is what a traced run
  * adds.
  */
final class Tracer(t0: Long) {
  @volatile var record = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val next = new AtomicLong(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }

  /** Time `body` as a span named `name`; returns its value and seconds. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val id = next.getAndIncrement().toInt
    val parent = current.get()
    current.set(id)
    val s = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - s) / 1e9)
    } finally {
      val e = System.nanoTime()
      if (record) spans.synchronized { spans += Span(id, parent, name, s - t0, e - t0) }
      current.set(parent)
    }
  }

  def span[A](name: String)(body: => A): A = timed(name)(body)._1

  /** The open span of the calling thread, for work handed to another. */
  def open: Int = current.get()

  /** Run `body` with `parent` as its open span (on a pool thread). */
  def under[A](parent: Int)(body: => A): A = {
    val saved = current.get()
    current.set(parent)
    try body finally current.set(saved)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counters, attributed to whatever tag the submitting thread set
  * (`perfbench.tag` local property) when the job started.
  */
final class SparkCounters extends SparkListener {
  final class Tally {
    var jobs = 0L; var tasks = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var taskMaxMs = 0L
  }
  private val byTag = mutable.Map.empty[String, Tally]
  private val stageTag = mutable.Map.empty[Int, String]

  private def tally(tag: String): Tally = byTag.getOrElseUpdate(tag, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.tag"))).getOrElse("")
    tally(tag).jobs += 1
    e.stageInfos.foreach(si => stageTag(si.stageId) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageTag.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    if (e.taskInfo != null) t.taskMaxMs = math.max(t.taskMaxMs, e.taskInfo.duration)
  }

  def get(tag: String): Tally = synchronized(byTag.getOrElse(tag, new Tally))

  def sum: Tally = synchronized {
    val s = new Tally
    byTag.values.foreach { t =>
      s.jobs += t.jobs; s.tasks += t.tasks
      s.shuffleWrite += t.shuffleWrite; s.shuffleRead += t.shuffleRead; s.spill += t.spill
      s.taskMaxMs = math.max(s.taskMaxMs, t.taskMaxMs)
    }
    s
  }
}

/** SQL executions the session completed. */
final class QueryCounters extends QueryExecutionListener {
  val executions = new AtomicLong(0)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    executions.incrementAndGet()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The listeners of a traced run. They are attached to each session for
  * its rounds, and their tallies outlive the session.
  */
final class Listeners {
  val jobs = new SparkCounters
  val sql = new QueryCounters
  /** Number of traced rounds, the divisor of every per-round figure. */
  var rounds = 0
  private var on: Option[SparkSession] = None
  private var gc = 0.0
  private var cpu = 0.0
  private var gc0 = 0.0
  private var cpu0 = 0.0

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(jobs)
    s.listenerManager.register(sql)
    on = Some(s)
    rounds += 1
    gc0 = Jvm.gcSeconds; cpu0 = Jvm.cpuSeconds
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def settle(): Unit = on.foreach(s => org.apache.spark.perfbench.Bus.waitUntilEmpty(s.sparkContext))

  def detach(): Unit = on.foreach { s =>
    gc += Jvm.gcSeconds - gc0; cpu += Jvm.cpuSeconds - cpu0
    settle()
    s.sparkContext.removeSparkListener(jobs)
    s.listenerManager.unregister(sql)
    on = None
  }

  /** Spark and JVM figures per traced round. */
  def totals: Map[String, Double] = {
    val t = jobs.sum
    Map("spark.jobs" -> t.jobs.toDouble, "spark.tasks" -> t.tasks.toDouble,
      "spark.shuffle_write_mb" -> t.shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> t.shuffleRead / 1048576.0,
      "spark.spill_mb" -> t.spill / 1048576.0,
      "spark.sql_executions" -> sql.executions.get().toDouble,
      "jvm.gc_s" -> gc, "jvm.cpu_s" -> cpu).map { case (k, v) => k -> v / math.max(1, rounds) }
  }
}

/** JVM-wide figures: live heap, GC time and process CPU time. */
object Jvm {
  /** Heap still in use after a full collection, in MB: what the program
    * keeps live (cached relations, checkpoint blocks, session state), not
    * how much garbage the collector let pile up before running.
    */
  def liveHeapMb: Double = {
    // Spark frees broadcast and shuffle state asynchronously once a GC has
    // found it unreachable; the second collection sees it gone
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
