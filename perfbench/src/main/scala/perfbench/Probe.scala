package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a Spark call site (`<op> at <File>.scala:<line>`) to the module whose
  * code launched the work: `graft.<package>` for files under
  * `src/main/scala/graft`, `perfbench` for the benchmark's own files. Spark
  * skips `org.apache.spark.*` frames when it records a call site, so
  * `graftnative` operators land on their graft caller. */
final class Modules(fileToModule: Map[String, String]) {
  def of(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val file = (if (at >= 0) callSite.substring(at + 4) else callSite).takeWhile(_ != ':')
    fileToModule.getOrElse(file, "other")
  }
}

object Modules {
  /** Scans the source tree the program was built from. */
  def scan(repoRoot: java.io.File): Modules = {
    def walk(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    val graftRoot = new java.io.File(repoRoot, "src/main/scala/graft")
    val graft = walk(graftRoot).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = graftRoot.toPath.relativize(f.getParentFile.toPath).toString
      f.getName -> (if (rel.isEmpty) "graft" else "graft." + rel.replace('/', '.'))
    }
    val own = walk(new java.io.File(repoRoot, "perfbench/src/main/scala"))
      .filter(_.getName.endsWith(".scala")).map(_.getName -> "perfbench")
    new Modules((graft ++ own).toMap)
  }
}

/** Counters of one op (a batch or a query), keyed by per-layer metric name. */
final class Counters {
  val values: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = values(k) = math.max(values.getOrElse(k, v), v)
  def get(k: String): Double = values.getOrElse(k, 0.0)
  def ++=(o: Counters): Unit = o.values.foreach { case (k, v) =>
    if (k.startsWith("max:")) max(k, v) else add(k, v) }
}

/** The traced run's instruments: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (planning, exchanges, plan hazards, scans) and a
  * StreamingQueryListener (micro-batch phases), all registered from outside
  * the program. Events arrive on Spark's listener bus; [[drain]] flushes the
  * bus after each op and turns what arrived into spans and counters of that
  * op. Jobs find their benchmark span through a local property set before
  * each call ([[span]]); stream threads inherit it when they start, and map
  * to their micro-batch through the query's run id (the job group). */
final class Probe(spark: SparkSession, val spans: SpanRecorder, modules: Modules) {
  import Probe._

  private val sc = spark.sparkContext


  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private val planPhases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val pending = new Counters

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val last = e.stageInfos.maxByOption(_.stageId)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId) = JobRec(e.jobId, spans.nextId(),
        prop(SpanKey).map(_.toLong).getOrElse(0L), prop(TraceKey).map(_.toLong).getOrElse(0L),
        prop("spark.jobGroup.id").getOrElse(""), last.map(_.name).getOrElse("?"),
        Spans.fromEpochMs(e.time))
      pending.add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = Spans.fromEpochMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      pending.add("spark.tasks", 1)
      if (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative) pending.add("spark.task_retries", 1)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (si.attemptNumber() > 0) pending.add("spark.task_retries", si.numTasks)
      if (m != null) {
        pending.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        pending.add("spark.executor_run_s", m.executorRunTime / 1e3)
        pending.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        pending.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        pending.add("spark.shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        pending.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        pending.add("spark.input_bytes", m.inputMetrics.bytesRead)
      }
      val start = si.submissionTime.map(Spans.fromEpochMs).getOrElse(0L)
      val end = si.completionTime.map(Spans.fromEpochMs).getOrElse(start)
      if (si.numTasks == 1) pending.add("spark.single_task_stage_s", (end - start) / 1e9)
      taskTimes.remove((si.stageId, si.attemptNumber())).foreach { ts =>
        if (ts.length >= 2) {
          val med = Stats.median(ts.map(_.toDouble).toSeq)
          if (med > 0) pending.max("max:spark.task_skew", ts.max / med)
        }
      }
      val job = stageJob.get(si.stageId).flatMap(jobs.get)
      stages += StageRec(job.map(_.spanId).getOrElse(0L), job.map(_.trace).getOrElse(0L),
        si.name, start, end)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        val phases = qe.tracker.phases
        pending.add("sql.plan_s", phases.values.map(_.durationMs).sum / 1e3)
        phases.foreach { case (name, ph) =>
          planPhases += ((name, Spans.fromEpochMs(ph.startTimeMs), Spans.fromEpochMs(ph.endTimeMs))) }
        pending.add("sql.executions", 1)
        val plan = qe.executedPlan
        val nodes = flatten(plan)
        pending.add("sql.exchanges", nodes.count(_.isInstanceOf[Exchange]))
        pending.add("sql.plan_hazards", nodes.count(isHazard))
        nodes.foreach { n =>
          if (n.nodeName.contains("Scan") && n.metrics.contains("numFiles")) {
            pending.add("scan.files", n.metrics("numFiles").value)
            n.metrics.get("filesSize").foreach(m => pending.add("scan.bytes", m.value))
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** A benchmark span whose id and trace ride on the Spark local properties,
    * so every job launched inside it (also from threads started inside it)
    * becomes its child. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val prevSpan = sc.getLocalProperty(SpanKey)
    val prevTrace = sc.getLocalProperty(TraceKey)
    spans.span(name, layer) {
      val (id, trace) = spans.current.get
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(TraceKey, trace.toString)
      try body
      finally {
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(TraceKey, prevTrace)
      }
    }
  }

  private var gcMark = gcMs()

  /** The traced run's stack sampler, which names the module behind stream jobs. */
  @volatile var sampler: Option[StackSampler] = None

  /** Flush the listener bus and take what arrived since the last call as the
    * counters of the op whose root span is `root` and whose benchmark spans
    * are `opSpans`. Micro-batches become child spans of `streamParent` (the
    * op's `runOnce` span), with their phases laid out in execution order;
    * stream jobs hang under the `addBatch` phase of their run. Catalyst's
    * planning phases become `catalyst` spans under the innermost span open
    * when they started. */
  def drain(root: Span, streamParent: Option[Span], opSpans: Seq[Span]): Counters = {
    SparkBus.flush(sc)
    lock.synchronized {
      val out = new Counters
      out ++= pending
      pending.values.clear()
      val g = gcMs(); out.add("jvm.gc_s", (g - gcMark) / 1e3); gcMark = g

      val addBatchOf = mutable.Map.empty[String, mutable.ArrayBuffer[Span]]
      for (p <- progress; parent <- streamParent) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = Spans.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val trigger = Span(spans.nextId(), parent.id, parent.trace, s"trigger.${p.name}",
          "graft.pipeline", start, start + d.getOrElse("triggerExecution", 0L) * 1000000L)
        spans.add(trigger)
        var t = start
        PhaseOrder.foreach { ph =>
          d.get(ph).filter(_ > 0).foreach { ms =>
            val s = Span(spans.nextId(), trigger.id, parent.trace, s"stream.$ph",
              "graft.pipeline", t, t + ms * 1000000L)
            spans.add(s)
            if (ph == "addBatch") addBatchOf.getOrElseUpdate(p.runId.toString,
              mutable.ArrayBuffer.empty) += s
            t += ms * 1000000L
          }
        }
        val stream = if (p.name == "cdc_events_audit") "audit" else "snapshots"
        out.add(s"pipeline.trigger_s.$stream", d.getOrElse("triggerExecution", 0L) / 1e3)
        if (stream == "snapshots") out.add("pipeline.add_batch_s.snapshots", d.getOrElse("addBatch", 0L) / 1e3)
        out.add("pipeline.planning_s", d.getOrElse("queryPlanning", 0L) / 1e3)
        out.add("pipeline.offset_commit_s", (d.getOrElse("latestOffset", 0L) +
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)) / 1e3)
      }
      progress.clear()

      val done = jobs.values.filter(_.end >= 0).toList
      val layerOfJob = mutable.Map.empty[Long, String]
      done.foreach { j =>
        // A stream job's call site is the stream's start; the sampled
        // stack of its run's thread during the job names the real caller.
        // A job the benchmark's own action (or an AQE stage thread)
        // launched is Spark running the plan, unless a graft span was open.
        val module = (if (j.group.nonEmpty) sampler.flatMap(_.moduleOf(j.group, j.start, j.end)) else None)
          .getOrElse(modules.of(j.callSite)) match {
            case m if m.startsWith("graft") => m
            case _ => spans.layerOf(j.parent).filter(_.startsWith("graft")).getOrElse("spark")
          }
        layerOfJob(j.spanId) = module
        val inBatch = addBatchOf.get(j.group).flatMap(_.find(s => s.start <= j.start && j.start <= s.end))
        val (parent, trace) = inBatch.map(s => (s.id, s.trace))
          .getOrElse(if (j.spanId != 0 && j.parent != 0) (j.parent, j.trace) else (root.id, root.trace))
        spans.add(Span(j.spanId, parent, trace, s"job ${j.callSite}", module, j.start, j.end))
        val short = shortModule(module)
        out.add(s"exec_s.${if (ExecModules(short)) short else "other"}", (j.end - j.start) / 1e9)
        if (j.group.nonEmpty) out.add("pipeline.jobs", 1)
        jobs -= j.id
      }
      stages.foreach { s =>
        spans.add(Span(spans.nextId(), if (s.jobSpan != 0) s.jobSpan else root.id,
          if (s.trace != 0) s.trace else root.trace, s"stage ${s.name}",
          layerOfJob.getOrElse(s.jobSpan, "spark"), s.start, s.end))
      }
      stages.clear()
      val open = (opSpans ++ addBatchOf.values.flatten).filter(_.trace == root.trace)
      planPhases.foreach { case (name, start, end) =>
        val parent = open.filter(s => s.start <= start && start <= s.end).maxByOption(_.start).getOrElse(root)
        spans.add(Span(spans.nextId(), parent.id, root.trace, s"plan.$name", "catalyst", start, end))
      }
      planPhases.clear()
      out
    }
  }

  /** Forget everything recorded since the last [[drain]]: the untimed
    * set-up, and the traced run's probes between ops. */
  def discard(): Unit = {
    SparkBus.flush(sc)
    lock.synchronized {
      pending.values.clear(); progress.clear(); stages.clear(); taskTimes.clear(); planPhases.clear()
      jobs.filterInPlace((_, j) => j.end < 0)
      gcMark = gcMs()
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  private final case class JobRec(id: Int, spanId: Long, parent: Long, trace: Long,
      group: String, callSite: String, start: Long, var end: Long = -1L)
  private final case class StageRec(jobSpan: Long, trace: Long, name: String, start: Long, end: Long)

  val SpanKey = "perfbench.span"
  val TraceKey = "perfbench.trace"

  /** Micro-batch phases in the order a trigger runs them. */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Layers with an `exec_s.<layer>` metric of their own (`spark`: plans
    * the benchmark's own actions run); other graft modules add up under
    * `exec_s.other`. */
  val ExecModules: Set[String] = Set("pipeline", "cdc", "table", "sources", "analytics", "spark")

  /** The metric suffix of a module: `graft.table` → `table`. */
  def shortModule(m: String): String = m.stripPrefix("graft.") match {
    case "" | "graft" => "graft"
    case s => s.replace('.', '_')
  }

  /** Every node of an executed plan, looking through adaptive wrappers and
    * query stages to the AQE final plan, and into subqueries. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  /** The plan shapes that funnel work through one task or square it: a
    * Window with no partition spec over an unbounded child, a Cartesian
    * product, a broadcast nested-loop join. */
  def isHazard(n: SparkPlan): Boolean = n.nodeName match {
    case "Window" | "WindowGroupLimit" =>
      n.requiredChildDistribution.headOption.exists(_.toString.contains("AllTuples")) &&
        !n.children.exists(c => c.nodeName.contains("Limit") || c.nodeName.contains("TakeOrdered"))
    case "CartesianProduct" | "BroadcastNestedLoopJoin" => true
    case _ => false
  }
}
