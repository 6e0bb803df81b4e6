package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Runs one workload against the program's registered queries and writes
  * raw measurements as JSON lines; `perfbench/run.py` turns them into
  * metrics and checks the outputs.
  *
  * Every layer is measured from outside: the harness times its own calls
  * into `graft.SparkEntry.queries(name)` (the `build` span) and into the
  * same xxhash fold `graft.Bench.force` runs (the `force` span, which also
  * keeps the xor as the output fingerprint), then repeats Bench's hermetic
  * cleanup. Spark and streaming counters come from listeners registered
  * here. Jobs are tagged with the local property `perfbench.query` before
  * each call; the streaming execution thread inherits it.
  *
  * Pass 0 is an untimed warm pass; passes 1.. are timed and run until
  * `--seconds` have elapsed. `--seed` permutes the query order of each
  * pass. With `--trace 0` only the streaming-progress and GC listeners are
  * installed (both cost one callback per epoch or per collection); with
  * `--trace 1` the job, stage, task and SQL-execution listener is added.
  *
  * Usage: Harness --data DIR --queries a,b,.. --seed N --seconds S
  *        --trace 0|1 --cores N --t0-ms EPOCH_MS --scratch DIR --out FILE
  */
object Harness {

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  /** Epoch milliseconds on the monotonic clock, comparable with the
    * wall-clock times Spark stamps on listener events. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Query currently being run by the driver thread: (pass, name). */
  @volatile private var current: (Int, String) = (-1, "")

  private val out = new mutable.ArrayBuffer[String]()
  private def emit(fields: (String, Any)*): Unit = out.synchronized {
    out += fields.map { case (k, v) => s"${q(k)}:${js(v)}" }.mkString("{", ",", "}")
  }
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${q(k.toString)}:${js(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val names = opt("queries").split(",").toIndexedSeq
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores")
    val t0Ms = opt("t0-ms").toDouble
    val outPath = opt("out")
    val mainMs = nowMs

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("scratch"))
      .config("spark.sql.warehouse.dir", s"${opt("scratch")}/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")

    val all = graft.SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val layerOf: Map[String, String] = {
      import graft.operators._
      val llm = Seq(LlmOps.queries, TrainingDataOps.queries, AnnOps.queries,
        BpeOps.queries, PcaOps.queries, Multimodal.queries).flatMap(_.keys).toSet
      val streaming = graft.streaming.StreamingOps.queries.keySet
      names.map { n =>
        n -> (if (streaming(n)) "streaming" else if (llm(n)) "llm" else "relational")
      }.toMap
    }

    spark.streams.addListener(new StreamListener)
    val heap = new HeapWatch
    if (trace) {
      sc.addSparkListener(new JobListener)
    }

    def runPass(pass: Int): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val p0 = nowMs
      order.zipWithIndex.foreach { case (name, i) =>
        runQuery(spark, data, all(name), pass, i, name, layerOf(name), trace)
      }
      emit("kind" -> "pass", "pass" -> pass, "start_ms" -> p0, "end_ms" -> nowMs)
    }

    val sessionMs = nowMs
    // One warm pass pays class loading and codegen. The first timed pass
    // after it still runs slower while the JIT settles, by a different
    // amount every run; wall_s is the median over the timed passes.
    runPass(0)
    val setupS = (nowMs - t0Ms) / 1e3
    heap.active = true
    val timed0 = nowMs
    var pass = 1
    while (pass == 1 || nowMs - timed0 < seconds * 1e3) {
      runPass(pass)
      pass += 1
    }
    heap.active = false
    PerfbenchBus.drain(sc)
    emit("kind" -> "run", "setup_s" -> setupS, "timed_passes" -> (pass - 1),
      "cores" -> cores.toInt, "peak_old_gen_bytes" -> heap.peak,
      "jvm_start_s" -> (mainMs - t0Ms) / 1e3, "session_s" -> (sessionMs - mainMs) / 1e3)
    val w = new PrintWriter(outPath, "UTF-8")
    try out.foreach(w.println) finally w.close()
    spark.stop()
  }

  /** One query: build, force, then Bench's hermetic cleanup. */
  private def runQuery(spark: SparkSession, data: String,
      fn: (SparkSession, String) => DataFrame, pass: Int, i: Int,
      name: String, layer: String, trace: Boolean): Unit = {
    val sc = spark.sparkContext
    val q0 = nowMs
    current = (pass, name)
    sc.setLocalProperty("perfbench.query", name)
    sc.setLocalProperty("perfbench.pass", pass.toString)
    val preexisting = sc.getPersistentRDDs.keySet
    var error: String = null
    var rows = -1L
    var xor = 0L
    val b0 = nowMs
    val df = try fn(spark, data) catch {
      case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"; null
    }
    val b1 = nowMs
    if (df != null) try {
      // The fold of graft.Bench.force, keeping the xor it discards.
      val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)")).head()
      rows = r.getLong(0)
      xor = if (r.isNullAt(1)) 0L else r.getLong(1)
    } catch {
      case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"
    }
    val f1 = nowMs
    val persisted =
      if (trace) sc.getRDDStorageInfo.filterNot(r => preexisting(r.id))
        .map(r => r.memSize + r.diskSize).sum
      else 0L
    val c0 = nowMs
    val dropped = sc.getPersistentRDDs.filterNot { case (id, _) => preexisting(id) }
    dropped.values.foreach(_.unpersist(blocking = true))
    try {
      spark.streams.active.foreach(_.stop())
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_mem_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      System.gc()
    } catch {
      case e: Throwable => if (error == null) error = s"cleanup: ${e.getMessage}"
    }
    val c1 = nowMs
    sc.setLocalProperty("perfbench.query", null)
    sc.setLocalProperty("perfbench.pass", null)
    emit("kind" -> "q", "pass" -> pass, "i" -> i, "name" -> name, "layer" -> layer,
      "start_ms" -> q0, "build_start_ms" -> b0, "build_end_ms" -> b1,
      "force_end_ms" -> f1, "cleanup_start_ms" -> c0, "end_ms" -> c1,
      "rows" -> rows, "xor" -> xor, "error" -> error,
      "persisted_bytes" -> persisted, "unpersisted" -> dropped.size)
  }

  /** Per-epoch progress; ownership is fixed when the query starts, which
    * Spark reports synchronously on the thread calling `start()`. */
  private class StreamListener extends StreamingQueryListener {
    private val owner = new ConcurrentHashMap[java.util.UUID, (Int, String)]()
    private def owned(run: java.util.UUID) = Option(owner.get(run)).getOrElse(current)

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      owner.put(e.runId, current)
      val (p, n) = current
      emit("kind" -> "sq", "event" -> "start", "run" -> e.runId.toString,
        "pass" -> p, "q" -> n, "ms" -> nowMs)
    }

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val pr = e.progress
      val (p, n) = owned(pr.runId)
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val st = pr.stateOperators
      emit("kind" -> "epoch", "run" -> pr.runId.toString, "pass" -> p, "q" -> n,
        "batch" -> pr.batchId,
        "start_ms" -> java.time.Instant.parse(pr.timestamp).toEpochMilli,
        "rows" -> pr.numInputRows, "dur" -> d,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_updated" -> st.map(_.numRowsUpdated).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum)
    }

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val (p, n) = owned(e.runId)
      emit("kind" -> "sq", "event" -> "end", "run" -> e.runId.toString,
        "pass" -> p, "q" -> n, "ms" -> nowMs)
    }
  }

  /** Largest old-generation occupancy reported after any collection while
    * `active`; the cleanup's System.gc() gives one full-collection
    * reading per query. */
  private class HeapWatch extends NotificationListener {
    @volatile var active = false
    @volatile var peak = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if ((pool.contains("Old Gen") || pool.contains("Tenured")) && u.getUsed > peak)
            peak = u.getUsed
        }
      }
  }

  /** Jobs, stages and task totals per stage; runs on the listener bus. */
  private class JobListener extends SparkListener {
    private def prop(p: Properties, k: String): String =
      if (p == null) null else p.getProperty(k)

    private val stageJob = mutable.Map[Int, Int]()
    private val stageTotals = mutable.Map[(Int, Int), Array[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      val p = e.properties
      emit("kind" -> "job", "event" -> "start", "id" -> e.jobId, "ms" -> e.time,
        "q" -> prop(p, "perfbench.query"), "pass" -> prop(p, "perfbench.pass"),
        "batch" -> prop(p, "streaming.sql.batchId"),
        "exec" -> prop(p, "spark.sql.execution.id"))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("kind" -> "job", "event" -> "end", "id" -> e.jobId, "ms" -> e.time)

    // Task counters, in this order, summed per stage attempt.
    private val Tasks = 0; private val RunMs = 1; private val CpuNs = 2
    private val SchedMs = 3; private val GcMs = 4; private val InBytes = 5
    private val InRows = 6; private val SwBytes = 7; private val SrBytes = 8
    private val FetchMs = 9; private val SpillBytes = 10; private val Failed = 11
    private val Empty = 12

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = stageTotals.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](13))
      t(Tasks) += 1
      if (e.reason != Success) t(Failed) += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        t(RunMs) += m.executorRunTime
        t(CpuNs) += m.executorCpuTime
        t(SchedMs) += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        t(GcMs) += m.jvmGCTime
        t(InBytes) += m.inputMetrics.bytesRead
        t(InRows) += m.inputMetrics.recordsRead
        t(SwBytes) += m.shuffleWriteMetrics.bytesWritten
        t(SrBytes) += m.shuffleReadMetrics.totalBytesRead
        t(FetchMs) += m.shuffleReadMetrics.fetchWaitTime
        t(SpillBytes) += m.diskBytesSpilled
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
          t(Empty) += 1
      }
    }

    // A QueryExecutionListener sees the plan but not the execution id that
    // tags the jobs; the execution-end event carries both.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchSql.planOf(end).foreach { qe =>
          emit("kind" -> "exec", "id" -> end.executionId, "bcast_bytes" -> Plans.broadcastBytes(qe))
        }
      case _ => ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val t = stageTotals.remove((s.stageId, s.attemptNumber())).getOrElse(new Array[Long](13))
      emit("kind" -> "stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "job" -> stageJob.getOrElse(s.stageId, -1),
        "start_ms" -> s.submissionTime, "end_ms" -> s.completionTime,
        "tasks" -> t(Tasks), "run_ms" -> t(RunMs), "cpu_ns" -> t(CpuNs),
        "sched_ms" -> t(SchedMs), "gc_ms" -> t(GcMs), "in_bytes" -> t(InBytes),
        "in_rows" -> t(InRows), "sw_bytes" -> t(SwBytes), "sr_bytes" -> t(SrBytes),
        "fetch_ms" -> t(FetchMs), "spill_bytes" -> t(SpillBytes),
        "failed" -> t(Failed), "empty" -> t(Empty))
    }
  }

  /** Largest broadcast-exchange `dataSize` of a finished plan. */
  private object Plans extends AdaptiveSparkPlanHelper {
    def broadcastBytes(qe: QueryExecution): Long =
      (0L +: collectWithSubqueries(qe.executedPlan) {
        case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }).max
  }
}
