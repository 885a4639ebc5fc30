package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.analytics.Views
import graft.etl.{Pipeline, Quality}
import graft.io.{Manifest, Sinks, Sources}
import graft.model.Schemas
import graft.ops.DedupIndex

/** The benchmark's JVM side: builds the session, sets up one workload
  * from the generated inputs, runs it as a closed loop for the given
  * number of seconds and writes everything it observed to one JSON
  * file. Metrics and correctness checks are computed from that file by
  * run.py; this program only drives the repo's public functions and
  * records what happened.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *             <seed> <outJson>
  */
object Main {

  final case class Op(kind: String, index: Int, startUs: Long, wallMs: Double,
                      traced: Boolean, error: String, payload: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, secondsS, traceS, seedS, outPath) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val seed = seedS.toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    val box = mutable.LinkedHashMap[String, String]()

    HeapWatch.start()
    val tracer = new Tracer(trace)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobCounters
    val rawScans = new RawScans(new File(inDir, "raw").getAbsolutePath)
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(rawScans)
    }
    val sessionReadyMs = System.currentTimeMillis()
    // inputs are generated while the JVM starts; wait for the marker
    val ready = new File(inDir, "READY")
    val giveUp = System.nanoTime() + 120e9.toLong
    while (!ready.exists && System.nanoTime() < giveUp) Thread.sleep(5)
    require(ready.exists, s"inputs not ready under $inDir")
    val inputsReadyMs = System.currentTimeMillis()
    box("load_start") = Json.num(loadAvg())
    box("calib_before") = Calib.json(cpus)
    val cpuStart = cpuTicks()

    val wl: Workload = workload match {
      case "daily_etl" => new DailyEtl(spark, tracer, inDir, workDir)
      case "corpus_dedup" => new CorpusDedup(spark, tracer, inDir, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val preloadStart = System.nanoTime()
    wl.preload()
    val preloadMs = (System.nanoTime() - preloadStart) / 1e6
    val warmStart = System.nanoTime()
    wl.warmup()
    val warmupMs = (System.nanoTime() - warmStart) / 1e6
    val loopStartMs = System.currentTimeMillis()

    val ops = wl.run(seconds, trace)
    val loopEndMs = System.currentTimeMillis()
    box("retained_heap_mb") = Json.num(retainedHeapMb())
    val finalState = wl.finish()
    if (trace) Bus.drain(spark.sparkContext)
    box("load_end") = Json.num(loadAvg())
    val cpuEnd = cpuTicks()
    box("steal_pct") = Json.num(100.0 * (cpuEnd._2 - cpuStart._2) / math.max(cpuEnd._1 - cpuStart._1, 1L))
    box("gc_ms") = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum.toString
    }
    box("calib_after") = Calib.json(cpus)
    box("nproc") = cpus.toString
    box("heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    box("jdk") = Json.str(System.getProperty("java.version"))
    box("spark") = Json.str(spark.version)
    box("peak_rss_mb") = Json.num(peakRssMb())
    val conf = spark.conf.getAll.toSeq.sorted
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k == "spark.ui.enabled" || k == "spark.driver.memory" }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""workload":${Json.str(workload)},"seed":$seed,"trace":$trace,"""
    out ++= s""""seconds":$seconds,"session_ready_ms":$sessionReadyMs,"inputs_ready_ms":$inputsReadyMs,"""
    out ++= s""""preload_ms":${Json.num(preloadMs)},"""
    out ++= s""""warmup_ms":${Json.num(warmupMs)},"loop_start_ms":$loopStartMs,"loop_end_ms":$loopEndMs,"""
    out ++= s""""box":${box.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},"""
    out ++= s""""session_conf":$conf,"""
    out ++= s""""final":$finalState,"""
    out ++= "\"ops\":" + ops.map { o =>
      s"""{"kind":${Json.str(o.kind)},"i":${o.index},"start_us":${o.startUs},""" +
        s""""wall_ms":${Json.num(o.wallMs)},"traced":${o.traced},"error":${Json.str(o.error)},""" +
        s""""payload":${if (o.payload == null) "null" else o.payload}}"""
    }.mkString("[", ",\n", "]") + ","
    out ++= "\"spans\":" + tracer.spansJson + ","
    out ++= "\"jobs\":" + jobs.json + ","
    out ++= "\"raw_scans\":" + rawScans.json + ","
    out ++= "\"gc\":" + HeapWatch.json
    out ++= "}\n"
    Files.write(Paths.get(outPath), out.toString.getBytes("UTF-8"))
    spark.stop()
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap the program still holds once the timed loop is over. */
  def retainedHeapMb(): Double = {
    collect(300)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Two full collections around a pause in which Spark's cleaner drops
    * the blocks of the RDDs and broadcasts the first one found
    * unreferenced, so the second frees them too.
    */
  def collect(pauseMs: Long): Unit = {
    System.gc()
    Thread.sleep(pauseMs)
    System.gc()
  }

  /** (total, steal) jiffies of all CPUs from /proc/stat ((0, 0) where
    * absent): CPU time the hypervisor gave to other guests shows here.
    */
  def cpuTicks(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (v.sum, if (v.length > 7) v(7) else 0L)
      } finally src.close()
    }
  }

  /** High-water resident set of this JVM, from /proc (0 where absent). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Rows as a JSON array of arrays, plus the schema, for the checker. */
  def rowsJson(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fields.map(f =>
      s"[${Json.str(f.name)},${Json.str(f.dataType.simpleString)}]").mkString("[", ",", "]")
    val body = rows.map(r => r.toSeq.map(Json.value).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""{"cols":$cols,"rows":$body}"""
  }

  /** Time one op; a thrown exception marks it failed, never drops it.
    * Each op starts from a fully collected heap, outside its wall, so
    * the heap it peaks at holds its own data and not what earlier ops
    * left behind.
    */
  def timed(kind: String, index: Int, traced: Boolean, tracer: Tracer)(
      body: => String): Op = {
    collect(100)
    val t = System.nanoTime()
    val start = tracer.usAt(t)
    val (err, payload) =
      try (null, body)
      catch { case e: Throwable => (s"${e.getClass.getName}: ${e.getMessage}", null) }
    Op(kind, index, start, (System.nanoTime() - t) / 1e6, traced, err, payload)
  }
}

/** Every garbage collection of the run: when it ended (epoch ms) and the
  * heap occupancy it left. The checker takes each op's peak from these.
  */
object HeapWatch {
  private val events = mutable.ArrayBuffer[String]()

  def start(): Unit = {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values().stream()
            .mapToLong(_.getUsed).sum()
          val e = s"""{"end_ms":${jvmStartMs + info.getGcInfo.getEndTime},""" +
            s""""used_mb":${Json.num(used / 1048576.0)}}"""
          synchronized { events += e }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  def json: String = synchronized(events.mkString("[", ",\n", "]"))
}

/** Single-thread and all-core CPU calibration spins: a fixed arithmetic
  * kernel timed on one thread, then on every core at once. Recorded
  * with each run so a throttled or shared box shows in the output;
  * never used to adjust a number.
  */
object Calib {
  private def kernel(n: Int): Long = {
    var x = 1L
    var i = 0
    while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    x
  }
  private val N = 20000000

  def json(cpus: Int): String = {
    kernel(N / 10)
    val t1 = System.nanoTime(); val sink1 = kernel(N); val one = (System.nanoTime() - t1) / 1e6
    val t2 = System.nanoTime()
    val threads = (0 until cpus).map(_ => new Thread(() => { kernel(N); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = (System.nanoTime() - t2) / 1e6
    s"""{"single_ms":${Json.num(one)},"all_core_ms":${Json.num(all)},"threads":$cpus,"sink":${sink1 & 1}}"""
  }
}

trait Workload {
  /** Build the standing state the timed loop starts from. */
  def preload(): Unit
  def warmup(): Unit
  def run(seconds: Double, trace: Boolean): Seq[Main.Op]
  /** End-of-run facts for the checker (a JSON object). */
  def finish(): String
}

/** The reference's daily DAG, replayed as a backfill by one caller.
  * Each day: read the day's raw JSON → parseWeatherJson → transform →
  * upsertPartitioned → qualityMetrics + gate → appendMetrics and the
  * load-history append → first pages of the 4 views over Manifest.read.
  */
class DailyEtl(spark: SparkSession, tracer: Tracer, inDir: String, workDir: String)
    extends Workload {
  val keys = Seq("city", "country", "timestamp")
  val Page = 50
  val days: IndexedSeq[(String, Long)] = {
    val meta = scala.io.Source.fromFile(s"$inDir/days.tsv").getLines().toIndexedSeq
    meta.map { l => val Array(f, n) = l.split("\t"); (s"$inDir/raw/$f", n.toLong) }
  }
  val history: Int = scala.io.Source.fromFile(s"$inDir/history.txt").mkString.trim.toInt
  val table = s"$workDir/weather"
  val metricsPath = s"$workDir/quality_metrics"
  val historyPath = s"$workDir/load_history"
  var nextDay = 0
  // days run untimed after the bulk load, until plan shapes are
  // compiled and the JIT has settled (README.md, "Steadiness")
  val Warmup = 4

  private def sc = spark.sparkContext
  private def span[T](name: String)(body: => T): T = tracer.span(sc, name)(body)

  /** The logical run time of day `d`'s DAG run: 02:00 UTC the next day. */
  def loadTs(d: Int): Timestamp = {
    val day0 = java.time.LocalDate.parse("2024-01-01").plusDays(d + 1L)
    Timestamp.from(day0.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.plusSeconds(7200))
  }

  private val metricsSchema = StructType(
    StructField("load_timestamp", TimestampType) +: Quality.qualityMetrics(
      spark.createDataFrame(java.util.List.of[Row](), Schemas.weather)
        .transform(Pipeline.transform(_)), 0L).schema.fields)

  /** One DAG run over `files`; returns the view pages as JSON. */
  def runDay(files: Seq[String], inputCount: Long, d: Int, traced: Boolean): String = {
    val raw = spark.read.text(files: _*)
    val parsed = Sources.parseWeatherJson(raw, "value")
    val clean = Pipeline.transform(parsed)
    if (traced) {
      // lazy layers are forced inside their spans: the parse by an eager
      // local checkpoint, the transform over that checkpoint through the
      // noop sink, so the transform's time excludes the parse
      val parsedM = span("io.Sources.parseWeatherJson") {
        parsed.localCheckpoint(true)
      }
      span("etl.Pipeline.transform") {
        Pipeline.transform(parsedM).write.format("noop").mode("overwrite").save()
      }
    }
    val t = System.nanoTime()
    val before = if (traced) committedFiles() else Map.empty[String, Set[String]]
    span("io.Sinks.upsertPartitioned") {
      Sinks.upsertPartitioned(spark, clean, table, keys, "date")
      if (traced) {
        val after = committedFiles()
        tracer.note("partitions_touched",
          (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k)).toDouble)
      }
    }
    val loadSec = (System.nanoTime() - t) / 1e9
    val m = span("etl.Quality") {
      val row = Quality.qualityMetrics(clean, inputCount).head()
      Quality.gate(row)
      row
    }
    span("io.Sinks.appendMetrics") {
      Sinks.appendMetrics(spark.createDataFrame(
        java.util.List.of(Row.fromSeq(loadTs(d) +: m.toSeq)), metricsSchema), metricsPath)
      val kept = m.getAs[Long]("records_after_cleaning")
      Sinks.append(spark.createDataFrame(java.util.List.of(Row(loadTs(d), kept, 0L,
        inputCount - kept, loadSec, "SUCCESS", null)), Schemas.loadHistory), historyPath)
    }
    val pages = span("analytics.Views") {
      val w = span("io.Manifest.read") { Manifest.read(spark, table) }
      Seq("daily_summary" -> Views.dailyWeatherSummary(w),
        "latest_weather" -> Views.latestWeather(w),
        "quality_summary" -> Views.dataQualitySummary(spark.read.parquet(metricsPath)),
        "seasonal_trends" -> Views.seasonalTrends(w)).map { case (n, v) =>
        val page = v.limit(Page)
        (n, page.schema, page.collect())
      }
    }.map { case (n, schema, rows) => s"${Json.str(n)}:${Main.rowsJson(schema, rows)}" }
    s"""{"day":$d,"records_after_cleaning":${m.getAs[Long]("records_after_cleaning")},""" +
      s""""input_count":$inputCount,"pages":${pages.mkString("{", ",", "}")}}"""
  }

  /** Partition directory -> committed file entries of the table's
    * latest manifest (`len\tmtime\trelpath` lines, see io.Manifest).
    */
  def committedFiles(): Map[String, Set[String]] = {
    val md = new File(table, Manifest.DirName)
    val latest = Option(md.listFiles).toSeq.flatten.map(_.getName)
      .filter(_.matches("v\\d{12}\\.list")).sorted.lastOption
    latest.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(new File(md, f))
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }.map { l =>
      val rel = l.split("\t", 3)(2)
      (rel.substring(0, math.max(rel.lastIndexOf('/'), 0)), l)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  }

  /** Bulk-load the history days as one batch (the table's first write). */
  def preload(): Unit = {
    val (files, counts) = days.take(history).unzip
    runDay(files, counts.sum, history - 1, traced = false)
    nextDay = history
  }

  /** One daily run of the next day; an op. */
  def day(traced: Boolean): Main.Op = {
    val d = nextDay
    nextDay += 1
    val (file, n) = days(d)
    Main.timed("day", d, traced, tracer) {
      if (traced) span("day") { runDay(Seq(file), n, d, traced = true) }
      else runDay(Seq(file), n, d, traced = false)
    }
  }

  def warmup(): Unit = (0 until Warmup).foreach { _ =>
    val op = day(traced = false)
    if (op.error != null) throw new IllegalStateException(s"warm-up day failed: ${op.error}")
  }

  def run(seconds: Double, trace: Boolean): Seq[Main.Op] = {
    val ops = mutable.ArrayBuffer[Main.Op]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end && nextDay < days.size)
      ops += day(traced = trace && ops.size % 2 == 1)
    if (nextDay >= days.size) println("perfbench: generated days exhausted")
    ops.toSeq
  }

  /** Layout facts of the final table for the checker. */
  def finish(): String = {
    val rows = Manifest.read(spark, table).count()
    s"""{"table":${Json.str(table)},"metrics":${Json.str(metricsPath)},""" +
      s""""days_loaded":$nextDay,"rows":$rows,"history":$history}"""
  }
}

/** Daily LLM-corpus ingest against a persisted dedup index: dedupBatch,
  * write the survivors, append them to the index.
  */
class CorpusDedup(spark: SparkSession, tracer: Tracer, inDir: String, workDir: String)
    extends Workload {
  val batches: IndexedSeq[String] =
    new File(s"$inDir/batches").listFiles.map(_.getName).sorted
      .map(n => s"$inDir/batches/$n").toIndexedSeq
  val index = s"$workDir/index"
  var next = 0
  val N = 3
  val Threshold = 0.5
  // batches run untimed after the index build (README.md, "Steadiness")
  val Warmup = 3

  private def sc = spark.sparkContext
  private def span[T](name: String)(body: => T): T = tracer.span(sc, name)(body)

  def preload(): Unit =
    DedupIndex.build(spark.read.parquet(s"$inDir/corpus.parquet"), "doc_id", "text", N, index)

  def batch(traced: Boolean): Main.Op = {
    val b = next
    next += 1
    Main.timed("batch", b, traced, tracer) {
      def body(): String = {
        val docs = spark.read.parquet(batches(b))
        val surv = span("ops.DedupIndex.dedupBatch") {
          DedupIndex.dedupBatch(spark, docs, index, "doc_id", "text", N, Threshold)
            .localCheckpoint(true)
        }
        span("write_survivors") {
          surv.select("doc_id").write.mode("overwrite").parquet(s"$workDir/survivors/b$b")
        }
        span("ops.DedupIndex.append") {
          DedupIndex.append(surv, "doc_id", "text", N, index)
        }
        // the candidate edge dedupBatch chose (the program records it)
        val decision = graft.BenchAttribution.snapshot.toMap
        s"""{"batch":$b,"survivors":${Json.str(s"$workDir/survivors/b$b")},""" +
          s""""edge_banded":${Json.num(decision.getOrElse("dedup_index.edge_banded", -1.0))},""" +
          s""""cand_per_doc":${Json.num(decision.getOrElse("dedup_index.batch_cand_per_doc", -1.0))}}"""
      }
      if (traced) span("batch")(body()) else body()
    }
  }

  def warmup(): Unit = (0 until Warmup).foreach { _ =>
    val op = batch(traced = false)
    if (op.error != null) throw new IllegalStateException(s"warm-up batch failed: ${op.error}")
  }

  def run(seconds: Double, trace: Boolean): Seq[Main.Op] = {
    val ops = mutable.ArrayBuffer[Main.Op]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end && next < batches.size)
      ops += batch(traced = trace && ops.size % 2 == 1)
    if (next >= batches.size) println("perfbench: generated batches exhausted")
    ops.toSeq
  }

  def finish(): String =
    s"""{"index":${Json.str(index)},"batches_done":$next,"survivors_dir":""" +
      s"""${Json.str(s"$workDir/survivors")}}"""
}
