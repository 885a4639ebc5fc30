package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus Spark's own
  * job and task counters, kept in memory and written when the run ends.
  *
  * A span records its name, parent, the top-level span (the op) it
  * belongs to and its start and end in epoch microseconds. Jobs carry
  * the submitting thread's span id as a local property; the attribution
  * of jobs to spans (and the fallback by time, for jobs a layer submits
  * from its own thread pool) is done after the run by metrics.py.
  */
final class Tracer(val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Epoch microseconds of a System.nanoTime reading. */
  def usAt(ns: Long): Long = t0Ms * 1000 + (ns - t0Ns) / 1000
  def nowUs: Long = usAt(System.nanoTime())

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        startUs: Long, endUs: Long, extra: Map[String, Double])

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val extras = ThreadLocal.withInitial[mutable.Map[String, Double]](
    () => mutable.Map.empty)

  /** Attach a number to the innermost open span of this thread. */
  def note(key: String, value: Double): Unit =
    if (enabled && stack.get.nonEmpty) extras.get(key) = value

  def span[T](sc: SparkContext, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val op = if (outer.isEmpty) id else outer.last
      val savedExtras = extras.get.clone()
      extras.get.clear()
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val start = nowUs
      try body
      finally {
        val end = nowUs
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, outer.headOption.map(_.toString).orNull)
        spans.add(Span(id, outer.headOption.getOrElse(0), op, name, start, end,
          extras.get.toMap))
        extras.get.clear()
        extras.get ++= savedExtras
      }
    }

  def spansJson: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    val ex = s.extra.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
      s""""start_us":${s.startUs},"end_us":${s.endUs},"extra":$ex}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Per-job counters from Spark's listener bus: start/end times, the span
  * property, and task totals (count, executor CPU, shuffle-write, input
  * and output bytes).
  */
final class JobCounters extends SparkListener {
  final class Job(val id: Int, val span: String, val startMs: Long) {
    @volatile var endMs: Long = -1
    var tasks, cpuNs, shuffleWrite, inBytes, outBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    jobs(e.jobId) = new Job(e.jobId, span.orNull, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.inBytes += m.inputMetrics.bytesRead
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def json: String = synchronized {
    jobs.values.map { j =>
      s"""{"id":${j.id},"span":${if (j.span == null) "null" else j.span},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""cpu_ns":${j.cpuNs},"shuffle_write":${j.shuffleWrite},"in_bytes":${j.inBytes},""" +
        s""""out_bytes":${j.outBytes}}"""
    }.mkString("[", ",\n", "]")
  }
}

/** Bytes of the raw-input files each completed query scanned, stamped
  * with the end of its planning phase, so metrics.py can charge them to
  * the span that ran the query (a scan under a reused exchange runs
  * once and is counted once).
  */
final class RawScans(rawDir: String) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val scans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val bytes = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(rawDir)) =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
    if (bytes > 0) {
      val t = qe.tracker.phases.get("planning").map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      scans.add((t, bytes))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def json: String = scans.asScala.toSeq.sortBy(_._1)
    .map { case (t, b) => s"""{"t_ms":$t,"bytes":$b}""" }.mkString("[", ",", "]")
}

object Bus {
  /** Block until Spark's listener bus has delivered every queued event.
    * `waitUntilEmpty` is package-private in Scala only; the JVM method
    * is public.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** A collected value, typed so the checker can compare it exactly:
    * timestamps as epoch microseconds, dates as ISO strings, doubles in
    * Java's round-trip decimal form.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp =>
      (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }
}
