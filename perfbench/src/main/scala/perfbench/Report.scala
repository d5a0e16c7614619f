package perfbench

import scala.collection.mutable

/** Where the driver threads spend the timed region, by sampling their
  * stacks every 10 ms from outside the program: the client thread and the
  * pipeline's stream threads. Each sample goes to the innermost `graft.*`
  * frame's package (the module whose code is running or waiting), and is
  * marked `busy` when the thread is runnable (computing or doing file I/O
  * on the driver) or `wait` when it is blocked, which on these threads is
  * almost always a wait for Spark jobs to finish. */
final class StackSampler(client: Thread) extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile var paused = false
  @volatile private var running = true
  val IntervalMs = 10L
  /** Nanoseconds per (module, state): each tick weighs the time since the
    * previous one, so sleep overshoot does not bias the totals. */
  val samples: mutable.Map[(String, String), Long] = mutable.Map.empty
  /** Stream-thread samples in time order: (span clock, stream run id, module,
    * waiting), which [[Probe.drain]] uses to name the module behind each
    * stream job (stream jobs all carry the stream's start call site). */
  private val timeline = mutable.ArrayBuffer.empty[(Long, String, String, Boolean)]
  private val RunId = """runId = ([0-9a-f-]+)""".r.unanchored

  /** The module stream run `run` was most often sampled in, waiting,
    * between `start` and `end`. */
  def moduleOf(run: String, start: Long, end: Long): Option[String] = timeline.synchronized {
    val hits = timeline.filter(s => s._2 == run && s._4 && s._1 >= start && s._1 <= end)
    if (hits.isEmpty) None else Some(hits.groupBy(_._3).maxBy(_._2.size)._1)
  }

  private def targets(): Seq[Thread] = {
    var g = Thread.currentThread().getThreadGroup
    while (g.getParent != null) g = g.getParent
    val arr = new Array[Thread](g.activeCount() * 2 + 16)
    val n = g.enumerate(arr, true)
    client +: arr.take(n).filter(t => t != null && t.getName.startsWith("stream execution thread"))
  }

  override def run(): Unit = {
    var last = System.nanoTime()
    while (running) {
      val now = System.nanoTime()
      val weight = now - last
      last = now
      if (!paused) targets().foreach(t => sample(t, weight))
      Thread.sleep(IntervalMs)
    }
  }

  private def sample(t: Thread, weight: Long): Unit = {
    val st = t.getStackTrace
    val waitingOnStreams = t == client && st.exists(_.getMethodName == "awaitTermination")
    if (st.nonEmpty && !waitingOnStreams) {
      val module = st.find(_.getClassName.startsWith("graft."))
        .map(f => f.getClassName.substring(0, f.getClassName.lastIndexOf('.')))
        .getOrElse(if (st.exists(_.getClassName.startsWith("perfbench."))) "perfbench"
          else if (t == client) "spark" else "spark.streaming")
      val waiting = t.getState != Thread.State.RUNNABLE
      val k = (module, if (waiting) "wait" else "busy")
      samples(k) = samples.getOrElse(k, 0L) + weight
      t.getName match {
        case RunId(run) => timeline.synchronized { timeline += ((Spans.now(), run, module, waiting)) }
        case _ =>
      }
    }
  }

  def stopNow(): Unit = { running = false; join() }

  /** Sampled seconds of one module in one state. */
  def seconds(module: String, state: String): Double =
    samples.getOrElse((module, state), 0L) / 1e9
}

/** The traced run's report sections. */
object Report {

  def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "trace" -> s.trace.toString,
    "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
    "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))

  /** Self time per layer over the timed ops' traces, stage call sites by
    * module, and the stack-sample split, as JSON fields. */
  def traceSections(all: Seq[Span], wallS: Double, sampler: StackSampler): Seq[(String, String)] = {
    val timed = all.filter(s => s.parent == 0 && (s.name == "batch" || s.name == "query")).map(_.trace).toSet
    val spans = all.filter(s => timed(s.trace))
    val self = Spans.selfTimeByLayer(spans).toSeq.sortBy(-_._2)
    val stages = spans.filter(_.name.startsWith("stage "))
      .groupBy(s => (s.layer, s.name.stripPrefix("stage ")))
      .map { case ((m, site), ss) => (m, site, ss.length, ss.map(_.duration).sum / 1e9) }
      .toSeq.sortBy(-_._4)
    val totalSamples = math.max(1L, sampler.samples.values.sum)
    Seq(
      "self_time_by_layer" -> Json.arr(self.map { case (l, ns) =>
        Json.obj(Seq("layer" -> Json.str(l), "self_s" -> Json.num(ns / 1e9),
          "share_of_wall" -> Json.num(ns / 1e9 / wallS)))
      }),
      "stage_call_sites" -> Json.arr(stages.take(40).map { case (m, site, n, s) =>
        Json.obj(Seq("module" -> Json.str(m), "call_site" -> Json.str(site),
          "stages" -> n.toString, "seconds" -> Json.num(s)))
      }),
      "driver_samples" -> Json.arr(sampler.samples.toSeq.sortBy(-_._2).map { case ((m, st), n) =>
        Json.obj(Seq("module" -> Json.str(m), "state" -> Json.str(st),
          "seconds" -> Json.num(n / 1e9),
          "share_of_samples" -> Json.num(n.toDouble / totalSamples)))
      }))
  }
}
