package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** Benchmark JVM: one workload, one process.
  *
  * Setup opens a session on `local[cores]` and runs one untimed warm
  * pass, which also writes each query's result as parquet in the layout
  * `graft.Verify` uses, for the oracle check that `run.py` runs after
  * the JVM exits. The timed phase then runs seeded-shuffled passes over
  * the workload's queries until the time budget is spent. Each query is
  * built through the public registry
  * (`SparkEntry.queries(name)(spark, dir)`) and forced with the `noop`
  * action; hygiene between queries and passes runs with the clock
  * stopped.
  *
  * With `trace=1` the timed passes mix untraced and traced ones. A
  * traced pass attaches [[Recorder]]'s listeners and keeps spans in
  * memory; they are written to `spans.jsonl` at the end. The traced run
  * also probes `GraftSession.table` for every table in the data dir.
  *
  * Everything measured goes to `result.json`; the metrics themselves
  * are computed by `run.py`.
  *
  * Usage: perfbench.Harness key=value ... with keys data, out,
  * queries (comma list), seed, seconds, trace, cores.
  */
object Harness {

  /** Epoch-microsecond clock on the monotonic timer. Listener
    * timestamps are epoch milliseconds, so both share one time axis.
    */
  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuNs: Long = osBean.getProcessCpuTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private def vmHwmKb: Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  final case class Sample(pass: Int, traced: Boolean, qid: Long,
                          name: String, startUs: Long, buildUs: Long,
                          endUs: Long, cpuNs: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = kv("data")
    val outDir = new File(kv("out"))
    val names = kv("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = kv("seed").toLong
    val budgetUs = (kv("seconds").toDouble * 1e6).toLong
    val trace = kv.getOrElse("trace", "0") == "1"
    val cores = kv("cores").toInt
    outDir.mkdirs()

    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // -------- setup: session, warm pass --------
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()

    // drop persisted intermediates and drained streams' state stores
    // after every query, so none of them taxes the next one
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    }

    val failures = mutable.LinkedHashMap[String, String]()
    def attempt(name: String)(body: => Unit): Boolean =
      try { body; true }
      catch { case e: Throwable =>
        failures.getOrElseUpdate(name,
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
      }

    // the warm pass also writes each result for the oracle check, in
    // the layout graft.Verify uses
    val verifyDir = new File(outDir, "verify")
    val written = names.filter { n =>
      val t0 = nowUs
      val ok = attempt(n)(registry(n)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(new File(verifyDir, n).getPath))
      System.err.println(f"[perfbench] warm $n ${(nowUs - t0) / 1e6}%.4f s")
      hygiene()
      ok
    }
    Files.write(Paths.get(verifyDir.getPath, "oracle_sql.json"),
      Json.obj(written.filter(SparkEntry.oracleSql.contains)
        .map(n => n -> Json.str(SparkEntry.oracleSql(n)))).getBytes(
        StandardCharsets.UTF_8))
    val setupDoneMs = System.currentTimeMillis()

    // -------- timed passes --------
    val recorder = new Recorder(spark)
    val samples = mutable.ArrayBuffer[Sample]()
    val passes = mutable.ArrayBuffer[(Int, Boolean, Long, Long)]()
    var qid = 0L
    val tStart = nowUs
    var pass = 0
    // untraced runs need three passes for a median; traced runs two of
    // each kind. Past that, a pass starts only if one more average pass
    // still fits the budget.
    val minPasses = if (trace) 4 else 3
    while (pass < minPasses ||
           (nowUs - tStart) * (pass + 1) / pass <= budgetUs) {
      // U T T U order: passes keep getting faster, and this way the
      // drift cancels out of the traced-vs-untraced comparison
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) recorder.attach(pass)
      val order = new Random(seed * 7919L + pass)
        .shuffle(names.filterNot(failures.contains))
      // one collection per pass, outside the clock, so no pass inherits
      // the previous one's garbage
      System.gc()
      val passStart = nowUs
      order.foreach { n =>
        qid += 1
        sc.setLocalProperty(Recorder.QidKey, qid.toString)
        val fn = registry(n)
        val gc0 = gcMs
        val cpu0 = processCpuNs
        val t0 = nowUs
        var t1 = t0
        val ok = attempt(n) {
          val df = fn(spark, dataDir)
          t1 = nowUs
          df.write.format("noop").mode("overwrite").save()
        }
        val t2 = nowUs
        val cpu = processCpuNs - cpu0
        val gc = gcMs - gc0
        sc.setLocalProperty(Recorder.QidKey, null)
        if (ok) samples += Sample(pass, traced, qid, n, t0, t1, t2, cpu, gc)
        System.err.println(f"[perfbench] pass=$pass $n ${(t2 - t0) / 1e6}%.4f s")
        hygiene()
      }
      passes += ((pass, traced, passStart, nowUs))
      if (traced) recorder.detach()
      pass += 1
    }
    val rssPeakKb = vmHwmKb

    // -------- table.open probe (traced runs) --------
    val probe = mutable.ArrayBuffer[(String, Long, Double)]()
    if (trace) {
      val tables = Option(new File(dataDir).listFiles()).getOrElse(Array())
        .map(_.getName).filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).sorted
      recorder.attach(-1)
      for (rep <- 0 until 3; t <- tables) {
        qid += 1
        sc.setLocalProperty(Recorder.QidKey, qid.toString)
        val t0 = nowUs
        GraftSession.table(spark, dataDir, t)
        val ms = (nowUs - t0) / 1000.0
        sc.setLocalProperty(Recorder.QidKey, null)
        // the first round opens each table cold in this probe
        if (rep > 0) probe += ((t, qid, ms))
      }
      recorder.detach()
    }

    // -------- artifact --------
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Json.obj(Seq(
      "jvm_start_ms" -> rt.getStartTime.toString,
      "session_ready_ms" -> sessionReadyMs.toString,
      "setup_done_ms" -> setupDoneMs.toString,
      "data_dir" -> Json.str(dataDir),
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark_version" -> Json.str(spark.version),
      "rss_peak_kb" -> rssPeakKb.toString,
      "passes" -> Json.arr(passes.toSeq.map { case (p, tr, s, e) =>
        Json.obj(Seq("pass" -> p.toString, "traced" -> tr.toString,
          "start_us" -> s.toString, "end_us" -> e.toString)) }),
      "samples" -> Json.arr(samples.toSeq.map { s =>
        Json.obj(Seq("pass" -> s.pass.toString,
          "traced" -> s.traced.toString, "qid" -> s.qid.toString,
          "name" -> Json.str(s.name), "start_us" -> s.startUs.toString,
          "build_end_us" -> s.buildUs.toString,
          "end_us" -> s.endUs.toString, "cpu_ns" -> s.cpuNs.toString,
          "gc_ms" -> s.gcMs.toString)) }),
      "failures" -> Json.obj(failures.toSeq.map { case (n, e) =>
        n -> Json.str(e) }),
      "verify_written" -> Json.arr(written.map(Json.str)),
      "table_probe" -> Json.arr(probe.toSeq.map { case (t, q, ms) =>
        Json.obj(Seq("table" -> Json.str(t), "qid" -> q.toString,
          "ms" -> ms.toString)) }),
      "pin_counters" -> Json.arr(recorder.pinCounters.toSeq.map { case (p, n, b) =>
        Json.obj(Seq("pass" -> p.toString, "blocks" -> n.toString,
          "peak_bytes" -> b.toString)) })))
    if (trace) recorder.writeSpans(new File(outDir, "spans.jsonl"))
    Files.write(Paths.get(outDir.getPath, "result.json"),
      result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    // a drained streaming query or a driver-loop pool may leave a
    // non-daemon thread behind; the artifact is complete, so end here
    System.exit(0)
  }
}

/** Listeners the benchmark attaches for a traced pass: scheduler events,
  * query planning phases, streaming micro-batch progress and block
  * manager updates. All spans stay in memory until [[writeSpans]].
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer[String]()
  private var pass = -1

  // block manager: live RDD blocks (pins) and their bytes
  private val live = mutable.HashMap[String, Long]()
  private var liveBytes = 0L
  private var passBlocks = 0L
  private var passPeak = 0L
  val pinCounters = mutable.ArrayBuffer[(Int, Long, Long)]()

  private def span(kind: String, name: String, id: String, startUs: Long,
                   endUs: Long, qid: String, parent: String,
                   attrs: Seq[(String, Double)]): Unit = spans.synchronized {
    spans += Json.obj(Seq("kind" -> Json.str(kind), "name" -> Json.str(name),
      "id" -> Json.str(id), "pass" -> pass.toString,
      "start_us" -> startUs.toString, "end_us" -> endUs.toString,
      "qid" -> (if (qid == null) "null" else qid),
      "parent" -> (if (parent == null) "null" else Json.str(parent)),
      "attrs" -> Json.obj(attrs.map { case (k, v) => k -> v.toString })))
  }

  private val jobStarts = mutable.HashMap[Int, (Long, String)]()
  private val stageJob = mutable.HashMap[Int, (Int, String)]()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val qid = Option(e.properties).map(_.getProperty(QidKey)).orNull
      jobStarts(e.jobId) = (e.time, qid)
      e.stageIds.foreach(s => stageJob(s) = (e.jobId, qid))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, qid) =>
        span("job", "job", s"job${e.jobId}", t0 * 1000, e.time * 1000, qid,
          null, Nil)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val (job, qid) = stageJob.getOrElse(si.stageId, (-1, null))
      val t0 = si.submissionTime.getOrElse(0L)
      val t1 = si.completionTime.getOrElse(t0)
      val attrs: Seq[(String, Double)] =
        if (m == null) Seq("tasks" -> si.numTasks.toDouble)
        else Seq(
          "tasks" -> si.numTasks.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "in_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "in_rows" -> m.inputMetrics.recordsRead.toDouble,
          "out_bytes" -> m.outputMetrics.bytesWritten.toDouble,
          "out_rows" -> m.outputMetrics.recordsWritten.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
          "spill_bytes" ->
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      span("stage", si.name.take(60), s"stage${si.stageId}.${si.attemptNumber()}",
        t0 * 1000, t1 * 1000, qid, if (job >= 0) s"job$job" else null, attrs)
    }
    // streaming progress reaches a session's StreamingQueryListeners only
    // for queries that session started; drains run in cloned sessions,
    // so the listener is fed from the context-wide bus instead
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        streaming.onQueryProgress(p)
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        val bytes = b.memSize + b.diskSize
        val old = live.getOrElse(key, 0L)
        if (b.storageLevel.isValid && bytes > 0) {
          if (!live.contains(key)) passBlocks += 1
          live(key) = bytes
          liveBytes += bytes - old
        } else if (live.contains(key)) {
          live.remove(key)
          liveBytes -= old
        }
        passPeak = passPeak.max(liveBytes)
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        span("plan", phase, s"plan-$phase", s.startTimeMs * 1000,
          s.endTimeMs * 1000, null, null, Nil)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators.toSeq
      span("batch", "batch", s"batch-${p.runId}-${p.batchId}", t0 * 1000,
        (t0 + d.getOrElse("triggerExecution", 0.0).toLong) * 1000, null, null,
        Seq("input_rows" -> p.numInputRows.toDouble,
          "addbatch_ms" -> d.getOrElse("addBatch", 0.0),
          "commit_ms" -> (d.getOrElse("walCommit", 0.0) +
            d.getOrElse("commitOffsets", 0.0)),
          "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
          "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum))
    }
  }

  def attach(p: Int): Unit = {
    pass = p
    passBlocks = 0L
    passPeak = liveBytes
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(planning)
  }

  /** Waits for the listener bus to deliver every event of the pass,
    * then detaches, so untraced passes pay no listener work.
    */
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(scheduler)
    spark.listenerManager.unregister(planning)
    if (pass >= 0) pinCounters += ((pass, passBlocks, passPeak))
  }

  def writeSpans(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach(w.println) finally w.close()
  }
}

object Recorder {
  /** Local property naming the benchmark query a job belongs to; jobs
    * carry their submitting thread's local properties.
    */
  val QidKey = "perfbench.qid"
}

/** Minimal JSON writer for the artifact: values arrive pre-rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
