package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run through `perfbench/run.py`, which
  * builds it first):
  *
  * {{{
  * Main --workload cdc_apply|table_reads --seed N --seconds S --trace 0|1
  * }}}
  *
  * One client runs ops closed loop for S seconds after set-up, then checks
  * every output outside the timed region. The last stdout line is the result
  * object; the untraced run reports the end-to-end metrics and the traced run
  * the per-layer ones, plus a report under `.bench_out/`. */
object Main {

  /** An op slower than this counts as failed and ends the timed loop. */
  val OpTimeoutS = 60.0

  /** Modules whose driver-thread time the stack sampler reports as metrics:
    * `streaming` is Spark's micro-batch engine itself. */
  val SampledModules: Seq[String] = Seq("pipeline", "cdc", "table", "sources", "streaming")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "op_s.p50" -> "s", "op_s.tail" -> "s",
    "ops_per_s" -> "1/s", "table_bytes_per_event" -> "B/event")

  /** Per-layer metrics summed over the run; each is also reported per op. */
  val Additive: Seq[(String, String)] = Seq(
    "pipeline.run_once_s" -> "s", "pipeline.trigger_s.audit" -> "s",
    "pipeline.trigger_s.snapshots" -> "s", "pipeline.add_batch_s.snapshots" -> "s",
    "pipeline.planning_s" -> "s", "pipeline.offset_commit_s" -> "s",
    "pipeline.stream_overhead_s" -> "s", "pipeline.jobs" -> "count",
    "cdc.parse_s" -> "s",
    "table.commits" -> "count", "table.bytes_written" -> "B", "table.files_written" -> "count",
    "table.exec_s" -> "s", "table.resolve_s" -> "s", "table.read_build_s" -> "s",
    "table.files_read" -> "count", "table.bytes_read" -> "B",
    "sources.exec_s" -> "s", "sources.delta_read_s" -> "s",
    "build_s" -> "s", "exec_s.pipeline" -> "s", "exec_s.cdc" -> "s", "exec_s.analytics" -> "s",
    "exec_s.spark" -> "s", "exec_s.other" -> "s",
    "sql.plan_s" -> "s", "sql.exchanges" -> "count", "sql.plan_hazards" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_retries" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_records" -> "count", "spark.spill_bytes" -> "B", "spark.input_bytes" -> "B",
    "spark.single_task_stage_s" -> "s", "jvm.gc_s" -> "s") ++
    SampledModules.flatMap(m => Seq(s"driver.$m.busy_s" -> "s", s"driver.$m.wait_s" -> "s"))


  /** Per-layer levels and ratios, reported once per run. */
  val Levels: Seq[(String, String)] = Seq(
    "cdc.parse_events_per_s" -> "events/s", "table.rows_written_per_changed_row" -> "ratio",
    "table.live_files" -> "count", "table.log_bytes" -> "B", "table.files_pruned_ratio" -> "ratio",
    "sources.delta_log_bytes" -> "B", "spark.task_skew" -> "ratio")

  def perLayer: Seq[(String, String)] =
    Additive.flatMap { case (n, u) => Seq(n -> u, s"$n.per_op" -> s"$u/op") } ++ Levels

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1")
    require(Set("cdc_apply", "table_reads")(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val code = try run(opts) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(".bench_work/warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def run(opts: Opts): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = session(cores)
    val work = new File(s".bench_work/${opts.workload}-${opts.seed}-${ProcessHandle.current().pid()}")
    try {
      val recorder = new SpanRecorder
      val probe = if (opts.trace) Some(new Probe(spark, recorder, Modules.scan(new File(".")))) else None
      val spanner: Spanner = probe match {
        case Some(p) => new Spanner { def apply[T](n: String, l: String)(b: => T): T = p.span(n, l)(b) }
        case None => NoSpans
      }
      val wl: Workload = opts.workload match {
        case "cdc_apply" => new CdcApply(spark, opts.seed)
        case "table_reads" => new TableReads(spark, opts.seed)
      }
      wl.setup(work)
      probe.foreach(_.discard())
      val root = Span(0, 0, 0, "untraced", "perfbench", 0, 0)
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

      // ---- timed region: one client, closed loop
      val sampler = probe.map { p =>
        val s = new StackSampler(Thread.currentThread())
        p.sampler = Some(s)
        s
      }
      sampler.foreach(_.start())
      val latencies = mutable.ArrayBuffer.empty[(Int, Double)]
      val failed = mutable.Set.empty[Int]
      val perOp = new Counters
      var excludedNs = 0L
      var i = 0
      var abort = false
      val loopStart = System.nanoTime()
      val deadline = loopStart + opts.seconds * 1000000000L
      while (System.nanoTime() < deadline && !abort) {
        val mark = recorder.size
        val extra = new Counters
        try {
          val seconds = spanner(if (wl.isInstanceOf[TableReads]) "query" else "batch", "perfbench") {
            wl.op(i, spanner, extra)
          }
          if (seconds > OpTimeoutS) {
            failed += i; abort = true
            System.err.println(s"perfbench: op $i took $seconds s, over the $OpTimeoutS s limit")
          } else latencies += i -> seconds
        } catch {
          case NonFatal(e) =>
            failed += i
            System.err.println(s"perfbench: op $i failed: $e")
            // A failed batch leaves the pipeline's state unknown; stop there.
            abort = wl.isInstanceOf[CdcApply]
        }
        probe.foreach { p =>
          val tx = System.nanoTime()
          sampler.foreach(_.paused = true)
          val mine = recorder.since(mark)
          val opRoot = mine.find(_.parent == 0).getOrElse(root)
          val c = p.drain(opRoot, mine.find(_.name == "pipeline.run_once"), mine)
          wl match {
            case tr: TableReads => tr.pointLookup(i).foreach { case (_, live) =>
              extra.add("point.files", c.get("scan.files"))
              extra.add("point.live_files", live)
            }
            case cdc: CdcApply =>
              cdc.parseProbe(extra)
              p.discard()
          }
          c ++= extra
          perOp ++= c
          sampler.foreach(_.paused = false)
          excludedNs += System.nanoTime() - tx
        }
        if (probe.isEmpty) perOp ++= extra
        i += 1
      }
      val wallS = (System.nanoTime() - loopStart - excludedNs) / 1e9
      sampler.foreach(_.stopNow())
      val attempted = i

      // ---- checks, outside the timed region
      val (badOps, problems) = wl.check()
      failed ++= badOps
      problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))
      val good = latencies.filterNot { case (op, _) => failed(op) }.map(_._2).toSeq
      val correct = problems.isEmpty && badOps.isEmpty && failed.isEmpty
      val (tailV, tailLabel) = if (good.nonEmpty) Stats.tail(good) else (0.0, "none")
      val e2e = Map(
        "setup_s" -> setupS,
        "peak_rss_mb" -> peakRssMb(),
        "op_s.p50" -> (if (good.nonEmpty) Stats.median(good) else 0.0),
        "op_s.tail" -> tailV,
        "ops_per_s" -> good.length / wallS,
        "table_bytes_per_event" -> wl.tableBytesPerEvent)

      val layers: Map[String, Double] = probe.map { _ =>
        val runOnces = recorder.all.filter(s => s.name == "pipeline.run_once")
        val kids = recorder.all.groupBy(_.parent)
        val timedTraces = recorder.all.filter(s => s.parent == 0 && (s.name == "batch")).map(_.trace).toSet
        val timedRunOnces = runOnces.filter(s => timedTraces(s.trace))
        perOp.add("pipeline.run_once_s", timedRunOnces.map(_.duration).sum / 1e9)
        perOp.add("pipeline.stream_overhead_s",
          timedRunOnces.map(s => Spans.selfTime(s, kids.getOrElse(s.id, Nil))).sum / 1e9)
        Seq("table", "sources").foreach(m => perOp.add(s"$m.exec_s", perOp.get(s"exec_s.$m")))
        SampledModules.foreach { m =>
          val full = if (m == "streaming") "spark.streaming" else s"graft.$m"
          Seq("busy", "wait").foreach(st => perOp.add(s"driver.$m.${st}_s", sampler.get.seconds(full, st)))
        }
        perOp.add("table.files_read", perOp.get("scan.files"))
        perOp.add("table.bytes_read", perOp.get("scan.bytes"))
        val levels = wl.layerLevels()
        levels.foreach { case (k, v) => if (Additive.exists(_._1 == k)) perOp.add(k, v) }
        val n = math.max(1, attempted).toDouble
        Additive.flatMap { case (k, _) => Seq(k -> perOp.get(k), s"$k.per_op" -> perOp.get(k) / n) }.toMap ++
          Levels.map { case (k, _) => k -> (k match {
            case "cdc.parse_events_per_s" =>
              if (perOp.get("cdc.parse_s") > 0) perOp.get("cdc.parse_events") / perOp.get("cdc.parse_s") else 0.0
            case "table.files_pruned_ratio" =>
              if (perOp.get("point.live_files") > 0) 1.0 - perOp.get("point.files") / perOp.get("point.live_files")
              else 0.0
            case "spark.task_skew" => perOp.get("max:spark.task_skew")
            case other => levels.getOrElse(other, 0.0)
          }) }.toMap
      }.getOrElse(Map.empty)

      val host = Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "spark_cores" -> cores.toString,
        "loadavg_start" -> loadStart.toString, "loadavg_end" -> loadavg().toString,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "source" -> sys.env.getOrElse("PERFBENCH_SOURCE", "unknown"))
      host.foreach { case (k, v) => println(s"# host $k = $v") }
      println(s"# workload ${opts.workload} seed ${opts.seed}: $attempted ops attempted, " +
        s"${failed.size} failed, ${good.length} latency samples over ${"%.3f".format(wallS)} s; " +
        s"tail = $tailLabel; op_fail_ratio = ${failed.size.toDouble / math.max(1, attempted)}")
      wl match {
        case cdc: CdcApply if !opts.trace =>
          println(s"# cdc events applied ${cdc.timedEvents}, events_per_s ${cdc.timedEvents / wallS}")
        case _ =>
      }
      val units = (EndToEnd ++ perLayer).toMap
      val shown = if (opts.trace) perLayer.map(_._1) else EndToEnd.map(_._1)
      val values = if (opts.trace) layers else e2e
      shown.foreach(k => println(s"# ${if (opts.trace) "layer" else "e2e"} $k = ${values(k)} ${units(k)}"))

      val out = new File(".bench_out"); out.mkdirs()
      val stem = s"${opts.workload}-seed${opts.seed}${if (opts.trace) "-trace" else ""}"
      val detail = Json.obj(Seq(
        "workload" -> Json.str(opts.workload), "seed" -> opts.seed.toString,
        "seconds" -> opts.seconds.toString, "trace" -> opts.trace.toString,
        "host" -> Json.obj(host.map { case (k, v) => k -> Json.str(v) }),
        "attempted" -> attempted.toString, "failed" -> failed.size.toString,
        "samples" -> good.length.toString, "tail_percentile" -> Json.str(tailLabel),
        "wall_s" -> Json.num(wallS),
        "latencies_s" -> Json.arr(good.map(Json.num)),
        "median_s_by_kind" -> Json.obj(latencies.filterNot(l => failed(l._1))
          .groupBy(l => wl.kinds.getOrElse(l._1, "batch")).toSeq.sortBy(_._1)
          .map { case (k, ls) => k -> Json.num(Stats.median(ls.map(_._2).toSeq)) }),
        "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })) ++
        probe.map(_ => Report.traceSections(recorder.all, wallS, sampler.get)).getOrElse(Nil))
      Files.write(new File(out, s"$stem.json").toPath, detail.getBytes(StandardCharsets.UTF_8))
      if (opts.trace)
        Files.write(new File(out, s"$stem-spans.jsonl").toPath,
          recorder.all.map(Report.spanJson).mkString("\n").getBytes(StandardCharsets.UTF_8))

      val metrics = shown.map(k => k -> Json.obj(Seq("value" -> Json.num(values(k)), "unit" -> Json.str(units(k)))))
      println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
        "failed" -> failed.size.toString, "metrics" -> Json.obj(metrics))))
      probe.foreach(_.close())
      0
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }
}

/** Minimal JSON writing: the benchmark's output is flat numbers and strings. */
object Json {
  def str(s: String): String = CdcGen.quote(s)
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
