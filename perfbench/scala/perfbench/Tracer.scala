package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced mode: one QueryExecutionListener, one SparkListener and one
  * StreamingQueryListener, all registered from the benchmark's side of the
  * program's public API. Counters cover the timed region only (events that
  * start before [[begin]] are dropped); spans stay in memory and are
  * written when the run ends.
  *
  * Span kinds: `entry` (one catalog entry, or the whole stream run),
  * `query` (a QueryExecution) with `phase` children (analysis,
  * optimization, planning), `job` with `stage` children, and `batch` (a
  * micro-batch: progress timestamp + triggerExecution). Parents that the
  * events name (stage → job, phase → query) are set here; the rest are
  * assigned by time containment when the report is read (benchmath.py).
  */
final class Tracer private (spark: SparkSession) {
  @volatile private var t0 = Long.MaxValue
  private val spanSeq = new AtomicLong()
  private val spanQ = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val count = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val sum = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val streamStarts = TrieMap.empty[String, Long]
  private val jobStart = TrieMap.empty[Int, Long]
  private val jobSpan = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  @volatile private var heapLivePeak = 0L
  @volatile private var open: Option[(String, Long, Long)] = None
  private var codegen0 = (0L, 0.0)
  private var gcListeners = List.empty[(NotificationEmitter, NotificationListener)]

  private def inc(k: String, n: Long = 1L): Unit =
    count.computeIfAbsent(k, _ => new LongAdder).add(n)
  private def add(k: String, v: Double): Unit =
    sum.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  private def span(kind: String, name: String, start: Long, end: Long,
      parent: Option[Long] = None, attrs: Map[String, Any] = Map.empty): Long = {
    val id = spanSeq.incrementAndGet()
    spanQ.add(Map("id" -> id, "kind" -> kind, "name" -> name,
      "start_ms" -> start, "end_ms" -> end, "parent" -> parent.orNull,
      "attrs" -> attrs))
    id
  }

  /** Opens the top span that child spans will be attributed to. */
  def enter(name: String, startMs: Long): Unit =
    open = Some((name, startMs, spanSeq.incrementAndGet()))

  def exit(): Unit = open.foreach { case (name, s, id) =>
    spanQ.add(Map("id" -> id, "kind" -> "entry", "name" -> name,
      "start_ms" -> s, "end_ms" -> System.currentTimeMillis(),
      "parent" -> null, "attrs" -> Map.empty))
    open = None
  }

  def begin(startMs: Long): Unit = {
    codegen0 = Tracer.codegen()
    t0 = startMs
  }

  private val qel = new QueryExecutionListener {
    private def record(name: String, qe: QueryExecution, ns: Long,
        failed: Boolean): Unit = {
      val phases = qe.tracker.phases
      if (phases.isEmpty || phases.values.map(_.startTimeMs).min < t0) return
      inc("catalyst.queries")
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => add(s"catalyst.${p}_s", s.durationMs / 1e3))
      }
      val rewrote = qe.optimizedPlan.exists(_.nodeName == "TopKPerKey")
      if (rewrote) inc("plans.topk_rewrites")
      val s = phases.values.map(_.startTimeMs).min
      val e = phases.values.map(_.endTimeMs).max + ns / 1000000L
      val id = span("query", name, s, e,
        attrs = Map("failed" -> failed, "topk_rewrite" -> rewrote))
      phases.foreach { case (p, ps) =>
        span("phase", p, ps.startTimeMs, ps.endTimeMs, Some(id))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, qe, ns, failed = false)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(f, qe, 0L, failed = true)
  }

  private val sl = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.time >= t0) {
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        jobStart.put(e.jobId, e.time)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { s =>
        inc("exec.jobs")
        jobSpan.put(e.jobId, span("job", s"job ${e.jobId}", s, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageJob.get(i.stageId).foreach { job =>
        inc("exec.stages")
        val s = i.submissionTime.getOrElse(0L)
        val end = i.completionTime.getOrElse(s)
        span("stage", s"stage ${i.stageId}", s, end,
          attrs = Map("job_id" -> job, "tasks" -> i.numTasks))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      if (ti.launchTime < t0) return
      inc("exec.tasks")
      if (!ti.successful) inc("exec.task_failures")
      val core = (ti.finishTime - ti.launchTime) / 1e3
      add("exec.core_s", core)
      Option(e.taskMetrics).foreach { m =>
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime
        add("exec.sched_delay_s",
          math.max(0L, ti.duration - overhead - ti.gettingResultTime) / 1e3)
        inc("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        inc("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        inc("spill.disk_bytes", m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (t0 != Long.MaxValue && b.blockId.isRDD && b.storageLevel.isValid) {
        inc("pins.blocks")
        inc("pins.bytes", b.memSize + b.diskSize)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (t0 != Long.MaxValue) {
        inc("stream.queries")
        streamStarts.put(e.runId.toString,
          java.time.Instant.parse(e.timestamp).toEpochMilli)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      val run = p.runId.toString
      if (!streamStarts.contains(run)) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val state = p.stateOperators.toSeq.map { o =>
        Map("update_ms" -> o.allUpdatesTimeMs, "commit_ms" -> o.commitTimeMs,
          "rows_total" -> o.numRowsTotal, "memory_bytes" -> o.memoryUsedBytes,
          "custom" -> o.customMetrics.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap)
      }
      val sources = p.sources.toSeq.map { s =>
        def off(x: String): Long = Option(x).flatMap(v =>
          scala.util.Try(v.trim.toLong).toOption).getOrElse(-1L)
        Map("rows" -> s.numInputRows, "start" -> off(s.startOffset),
          "end" -> off(s.endOffset), "latest" -> off(s.latestOffset))
      }
      progress.add(Map("run" -> run, "batch" -> p.batchId, "ts_ms" -> ts,
        "query_start_ms" -> streamStarts(run),
        "rows" -> p.numInputRows, "duration_ms" -> d, "state" -> state,
        "sources" -> sources))
      if (p.numInputRows > 0 || d.contains("addBatch"))
        span("batch", s"batch ${p.batchId}", ts,
          ts + d.getOrElse("triggerExecution", 0L),
          attrs = Map("run" -> run, "rows" -> p.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def install(): Tracer = {
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
    spark.streams.addListener(streamListener)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    gcListeners = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
      .collect { case em: NotificationEmitter =>
        val l: NotificationListener = (n: Notification, _: Any) =>
          if (n.getType == "com.sun.management.gc.notification" && t0 != Long.MaxValue) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (live > heapLivePeak) heapLivePeak = live
          }
        em.addNotificationListener(l, null, null)
        (em, l)
      }
    this
  }

  /** Drains the listener bus, detaches, and fixes the counters. */
  def finish(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(sl)
    spark.streams.removeListener(streamListener)
    gcListeners.foreach { case (em, l) => em.removeNotificationListener(l) }
    val (n1, ms1) = Tracer.codegen()
    inc("codegen.classes", n1 - codegen0._1)
    add("codegen.compile_s", (ms1 - codegen0._2) / 1e3)
  }

  def counters: Map[String, Any] =
    count.asScala.map { case (k, v) => k -> v.sum }.toMap ++
      sum.asScala.map { case (k, v) => k -> v.sum }.toMap ++
      Map("jvm.heap_live_peak_mb" -> heapLivePeak / 1048576.0,
        "stream.progress" -> progress.asScala.toSeq,
        "stream.start_ms" -> streamStarts.toMap)

  def spans: Seq[Map[String, Any]] = {
    // Stage spans name their job id; resolve it to the job span's id.
    spanQ.asScala.toSeq.map { s =>
      if (s("kind") == "stage") {
        val job = s("attrs").asInstanceOf[Map[String, Any]]("job_id").asInstanceOf[Int]
        s + ("parent" -> jobSpan.get(job).getOrElse(null))
      } else s
    }
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = new Tracer(spark).install()

  /** (classes compiled, total compile ms) from Spark's CodegenMetrics. The
    * histogram keeps every sample up to its 1028-entry reservoir; past
    * that the total is the mean times the count.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val total = if (snap.size >= n) snap.getValues.map(_.toDouble).sum
      else snap.getMean * n
    (n, total)
  }
}
