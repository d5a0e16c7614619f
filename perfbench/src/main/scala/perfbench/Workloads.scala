package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope
import graft.pipeline.{CdcPipeline, MaterializedViews}
import graft.sources.DeltaImport
import graft.table.GraftTable

/** Opens a named span in a layer around a call. */
trait Spanner {
  def apply[T](name: String, layer: String)(body: => T): T
}

/** The untraced run's spanner: runs the body and records nothing. */
object NoSpans extends Spanner {
  def apply[T](name: String, layer: String)(body: => T): T = body
}

/** A workload over the pipeline's tables: set-up into a fresh directory,
  * timed ops, then output checks outside the timed region. Both workloads
  * start from the same seeded snapshot, applied through `runOnce`. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  import Workload._

  protected var dir: File = _
  protected var gen: CdcGen = _
  protected var cfg: CdcPipeline.Config = _
  /** Every event published so far, seed included. */
  protected val events = mutable.ArrayBuffer.empty[Event]
  private var batchNo = 0
  /** The kind of each timed op, by op index. */
  val kinds: mutable.Map[Int, String] = mutable.Map.empty

  /** Builds the inputs and the tables the timed ops work on, under `d`. */
  def setup(d: File): Unit
  /** One op; returns its latency in seconds. `extra` takes the op's own
    * per-layer counters. */
  def op(i: Int, span: Spanner, extra: Counters): Double
  /** Output checks: the ops whose results were wrong, and every problem found. */
  def check(): (Set[Int], Seq[String])
  /** Level and ratio metrics read off the tables after the run. */
  def layerLevels(): Map[String, Double]
  /** Growth of bytes under the table root per event applied. */
  def tableBytesPerEvent: Double

  /** Starts a pipeline under `d` and applies the seed snapshot (op `r`). */
  protected def seedTables(d: File): Unit = {
    dir = d
    gen = new CdcGen(seed, Scale, TouchFraction)
    cfg = CdcPipeline.Config(
      inputDir = new File(dir, "input").getAbsolutePath,
      tableRoot = new File(dir, "tables").getAbsolutePath,
      checkpointRoot = new File(dir, "checkpoints").getAbsolutePath,
      deltaMirror = true)
    applyBatch(gen.snapshot(), NoSpans)
  }

  /** Writes a batch file, publishes it and drains it with `runOnce`.
    * Returns the seconds from publication to `runOnce` returning. */
  protected def applyBatch(batch: Vector[Event], span: Spanner): Double = {
    batchNo += 1
    val name = f"batch-$batchNo%06d.json"
    val staged = new File(dir, s"staging/$name")
    write(staged, CdcGen.kafkaLines(batch))
    events ++= batch
    val t0 = System.nanoTime()
    publish(staged, new File(dir, "input"), name)
    span("pipeline.run_once", "graft.pipeline") { CdcPipeline.runOnce(spark, cfg) }
    (System.nanoTime() - t0) / 1e9
  }

  protected def lastBatchFile: File = new File(dir, f"input/batch-$batchNo%06d.json")

  protected def snapshotPath(t: String): String = CdcPipeline.snapshotPath(cfg, t)

  def tablePaths: Seq[(String, String)] =
    CdcGen.tables.map(t => t -> snapshotPath(t)) :+ ("cdc_events" -> CdcPipeline.auditTablePath(cfg))

  def storageLevels: Map[String, Double] = {
    val roots = tablePaths.map(p => new File(p._2))
    Map(
      "table.log_bytes" -> roots.map(r => du(r, isGraftLog)._2).sum.toDouble,
      "sources.delta_log_bytes" -> roots.map(r => du(r, isDeltaLog)._2).sum.toDouble)
  }

  def tableBytes: Long = du(new File(cfg.tableRoot))._2
}

object Workload {
  /** sf0.001 mapped onto the four source tables (see [[Sizes.sf]]). A batch
    * costs about the same at sf0.001 as at sf0.1 (the pipeline's fixed cost
    * per batch dominates), so the scale is set by the set-up time the run
    * budget allows: seeding through `runOnce` is most of it. */
  val Scale: Sizes = Sizes.sf(0.001)
  /** Share of each table's initial keys one batch touches. */
  val TouchFraction = 0.002
  /** cdc_apply's untimed batches after the seed: the first batch onto
    * existing rows runs markedly slower (the merge path's first use), so
    * it is applied in set-up. */
  val WarmupBatches = 1
  /** table_reads' batches after the seed, so the tables carry history. */
  val HistoryBatches = 1

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  /** Moves a finished file into the directory the stream source lists. */
  def publish(staged: File, inputDir: File, name: String): Unit = {
    inputDir.mkdirs()
    Files.move(staged.toPath, new File(inputDir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** (file count, bytes) under a directory, optionally only where `keep`
    * accepts the path relative to the root. */
  def du(root: File, keep: String => Boolean = _ => true): (Long, Long) = {
    var n = 0L; var b = 0L
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c =>
        walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else if (keep(rel)) { n += 1; b += f.length() }
    walk(root, "")
    (n, b)
  }

  def isDeltaLog(rel: String): Boolean = rel.split('/').contains("_delta_log")
  def isGraftLog(rel: String): Boolean = rel.split('/').exists(_.startsWith("_graft"))
  def isData(rel: String): Boolean =
    rel.endsWith(".parquet") && !isDeltaLog(rel) && !isGraftLog(rel)

  /** The business columns of a table, timestamps as epoch micros, in the
    * generator's field order. */
  def businessCols(table: String): Seq[Column] = {
    val ts = Envelope.microsTimestampCols(table).toSet
    Envelope.tableJsonSchemas(table).fieldNames.toSeq.map(n =>
      if (ts(n)) unix_micros(col(n)).as(n) else col(n))
  }

  /** Rows of a table as the generator states them, keyed by id. */
  def collectState(df: DataFrame, table: String): Map[Long, Vector[Any]] =
    df.select(businessCols(table): _*).collect().map { r =>
      r.getLong(0) -> r.toSeq.toVector
    }.toMap

  /** The typed business view of a table: what its snapshot columns hold. */
  def typedView(df: DataFrame, table: String, keep: Seq[String] = Nil): DataFrame =
    df.select((Envelope.tableJsonSchemas(table).fieldNames.toSeq ++ keep).map(col): _*)

  /** A DataFrame over an expected state, typed like the snapshot tables. */
  def expectedFrame(spark: SparkSession, table: String, rows: Iterable[Vector[Any]]): DataFrame = {
    val schema = Envelope.tableJsonSchemas(table)
    val df = spark.createDataFrame(rows.map(r => Row.fromSeq(r)).toList.asJava, schema)
    Envelope.microsTimestampCols(table).foldLeft(df)((d, c) => d.withColumn(c, timestamp_micros(col(c))))
  }

  def diff(what: String, expected: Map[Long, Vector[Any]], actual: Map[Long, Vector[Any]]): Seq[String] = {
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    val wrong = expected.keySet.intersect(actual.keySet).filter(k => expected(k) != actual(k))
    if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) Nil
    else Seq(s"$what: ${missing.size} missing, ${extra.size} extra, ${wrong.size} differ" +
      wrong.headOption.map(k => s" (id $k: expected ${expected(k)}, got ${actual(k)})").getOrElse(""))
  }
}

/** The CDC write path: each op publishes one small batch file and drains
  * it with `runOnce`, Delta mirror on. */
final class CdcApply(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import Workload._

  private var startVersions = Map.empty[String, Long]
  private var startDu = (0L, 0L)
  private var startBytes = 0L
  /** Non-tombstone events of the timed batches. */
  var timedEvents = 0L

  def setup(d: File): Unit = {
    seedTables(d)
    (1 to WarmupBatches).foreach(_ => applyBatch(gen.nextBatch(), NoSpans))
    startVersions = tablePaths.map { case (t, p) => t -> GraftTable.forPath(spark, p).version }.toMap
    startDu = du(new File(cfg.tableRoot), isData)
    startBytes = tableBytes
  }

  def op(i: Int, span: Spanner, extra: Counters): Double = {
    val batch = gen.nextBatch()
    val s = applyBatch(batch, span)
    timedEvents += batch.count(!_.tombstone)
    s
  }

  def tableBytesPerEvent: Double =
    if (timedEvents > 0) (tableBytes - startBytes).toDouble / timedEvents else 0.0

  /** The traced run's parse probe: the pipeline's parse stage over the last
    * batch file as a static DataFrame. Runs outside the timed op. */
  def parseProbe(extra: Counters): Unit = {
    val t0 = System.nanoTime()
    val audit = graft.cdc.Parse.parseDebezium(
      spark.read.schema(Envelope.kafkaRecordSchema).json(lastBatchFile.getAbsolutePath))
    val n = audit.count()
    CdcGen.tables.foreach { t =>
      graft.cdc.Parse.typedSnapshotRows(audit, t).write.format("noop").mode("overwrite").save()
      graft.cdc.Parse.typedDeleteRows(audit, t).write.format("noop").mode("overwrite").save()
    }
    extra.add("cdc.parse_s", (System.nanoTime() - t0) / 1e9)
    extra.add("cdc.parse_events", n)
  }

  def check(): (Set[Int], Seq[String]) = {
    val expected = Lww.replay(events)
    val problems = CdcGen.tables.flatMap { t =>
      val path = snapshotPath(t)
      val want = expected.getOrElse(t, Map.empty)
      diff(s"$t via GraftTable.read", want, collectState(GraftTable.forPath(spark, path).read(), t)) ++
        diff(s"$t via DeltaImport.read", want, collectState(DeltaImport.read(spark, path), t))
    }
    val auditRows = GraftTable.forPath(spark, CdcPipeline.auditTablePath(cfg)).read().count()
    val wantAudit = events.count(!_.tombstone)
    val audit = if (auditRows == wantAudit) Nil
      else Seq(s"audit table holds $auditRows rows, expected $wantAudit")
    (Set.empty, problems ++ audit)
  }

  def layerLevels(): Map[String, Double] = {
    val commits = tablePaths.map { case (t, p) =>
      GraftTable.forPath(spark, p).version - startVersions(t) }.sum
    // Useful-work ratio of the timed commits: rows written per row changed.
    var written = 0L; var changed = 0L
    CdcGen.tables.foreach { t =>
      GraftTable.forPath(spark, snapshotPath(t)).history()
        .filter(col("version") > startVersions(t)).select("operationMetrics").collect()
        .foreach { r =>
          val m = r.getMap[String, Long](0)
          written += m.getOrElse("numOutputRows", 0L)
          changed += Seq("numTargetRowsInserted", "numTargetRowsUpdated", "numTargetRowsDeleted")
            .map(m.getOrElse(_, 0L)).sum
        }
    }
    val (files, bytes) = du(new File(cfg.tableRoot), isData)
    Map(
      "table.commits" -> commits.toDouble,
      "table.rows_written_per_changed_row" -> (if (changed > 0) written.toDouble / changed else 0.0),
      "table.bytes_written" -> (bytes - startDu._2).toDouble,
      "table.files_written" -> (files - startDu._1).toDouble) ++ storageLevels
  }
}

/** Analyst reads of the tables the write path produced: set-up is the
  * cdc_apply seed plus a batch, so the tables carry history, a change feed
  * and a Delta mirror. The timed ops are a seeded mix of queries, each
  * recorded for a check against the same query over the expected state. */
final class TableReads(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import Workload._

  /** Each cycle runs every kind once, in a seed-shuffled order, and the
    * per-table kinds take the four tables in turn, so the mix is the same
    * for every seed: only the order, keys and versions vary. With two point
    * lookups and the inventory view as the fast third of a cycle, the median
    * falls among kinds of similar cost instead of on the fast/slow boundary,
    * where the cycle's partial last pass would move it. */
  val Kinds: Vector[String] = Vector("mv_order_analytics", "mv_customer_order_summary",
    "mv_product_inventory", "notebook_top_customers", "point_lookup", "point_lookup",
    "time_travel", "change_feed", "delta_reader_aggregate")

  // Per table: (version, expected state) after the seed and each history batch.
  private var versions = Map.empty[String, Vector[(Long, Map[Long, Vector[Any]])]]
  private val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
  private var cycle = Vector.empty[String]
  // (op, query key, the same query over the expected state, the result it gave)
  private val results = mutable.ArrayBuffer.empty[(Int, String, () => Seq[String], Seq[String])]
  private var liveFiles = Map.empty[String, Int]
  private var bytesPerEvent = 0.0
  private val pointTables = mutable.Map.empty[Int, String]
  private val turns = mutable.Map.empty[String, Int]

  /** The next table in turn for a per-table query kind. */
  private def nextTable(kind: String): String = {
    val n = turns.getOrElse(kind, 0)
    turns(kind) = n + 1
    CdcGen.tables(n % CdcGen.tables.length)
  }

  def setup(d: File): Unit = {
    seedTables(d)
    var state = Lww.replay(events)
    def record(): Map[String, (Long, Map[Long, Vector[Any]])] = CdcGen.tables.map { t =>
      t -> (GraftTable.forPath(spark, snapshotPath(t)).version -> state.getOrElse(t, Map.empty))
    }.toMap
    val hist = mutable.ArrayBuffer(record())
    val bytes0 = tableBytes
    val events0 = events.count(!_.tombstone)
    (1 to HistoryBatches).foreach { _ =>
      val batch = gen.nextBatch()
      applyBatch(batch, NoSpans)
      state = Lww.replay(batch, state)
      hist += record()
    }
    bytesPerEvent = (tableBytes - bytes0).toDouble / (events.count(!_.tombstone) - events0)
    versions = CdcGen.tables.map(t => t -> hist.map(_(t)).toVector).toMap
    liveFiles = CdcGen.tables.map(t =>
      t -> GraftTable.forPath(spark, snapshotPath(t)).read().inputFiles.length).toMap
    // Warm-up: one untimed pass over every query kind.
    Kinds.distinct.foreach(k => runQuery(-1, k, NoSpans, new Counters))
    results.clear()
    pointTables.clear()
    turns.clear()
  }

  private def latest(t: String) = versions(t).last._2

  def op(i: Int, span: Spanner, extra: Counters): Double = {
    if (cycle.isEmpty) cycle = shuffled(Kinds)
    val kind = cycle.head
    cycle = cycle.tail
    kinds(i) = kind
    val t0 = System.nanoTime()
    runQuery(i, kind, span, extra)
    (System.nanoTime() - t0) / 1e9
  }

  def tableBytesPerEvent: Double = bytesPerEvent

  /** The table a point-lookup op read, and that table's live file count. */
  def pointLookup(i: Int): Option[(String, Int)] = pointTables.get(i).map(t => t -> liveFiles(t))

  private def shuffled(xs: Vector[String]): Vector[String] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x; i -= 1 }
    a.toVector
  }

  private def digest(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Runs one query: resolve the tables, build the DataFrame, execute it.
    * The result is kept with a closure that rebuilds the expected input, so
    * the check runs the same query over the generator's state afterwards. */
  private def runQuery(i: Int, kind: String, span: Spanner, extra: Counters): Unit =
    span(s"query.$kind", "perfbench") {
      def resolve(t: String) = {
        val t0 = System.nanoTime()
        val g = span("table.resolve", "graft.table") { GraftTable.forPath(spark, snapshotPath(t)) }
        extra.add("table.resolve_s", (System.nanoTime() - t0) / 1e9)
        g
      }
      def readBuild(t: String, keep: Seq[String] = Nil)(f: GraftTable => DataFrame): DataFrame = {
        val g = resolve(t)
        val t0 = System.nanoTime()
        val df = span("table.read_build", "graft.table") { typedView(f(g), t, keep) }
        extra.add("table.read_build_s", (System.nanoTime() - t0) / 1e9)
        df
      }
      def build(layer: String)(f: => DataFrame): DataFrame = {
        val t0 = System.nanoTime()
        val df = span("build", layer)(f)
        extra.add("build_s", (System.nanoTime() - t0) / 1e9)
        df
      }
      def exec(df: DataFrame): Seq[String] = span("exec", "spark")(digest(df))
      // (query over typed frames, the frames as read, the frames as expected)
      def plan(q: Seq[DataFrame] => DataFrame, layer: String, actual: => Seq[DataFrame],
          expected: () => Seq[DataFrame], params: Any*): Unit = {
        val in = actual
        val got = exec(build(layer)(q(in)))
        results += ((i, (kind +: params).mkString(" "), () => digest(q(expected())), got))
      }
      def exp(t: String) = expectedFrame(spark, t, latest(t).values)
      kind match {
        case "mv_order_analytics" =>
          plan(fs => MaterializedViews.orderAnalytics(fs(0)), "graft.pipeline",
            Seq(readBuild("orders")(_.read())), () => Seq(exp("orders")))
        case "mv_customer_order_summary" =>
          plan(fs => MaterializedViews.customerOrderSummary(fs(0), fs(1)), "graft.pipeline",
            Seq(readBuild("customers")(_.read()), readBuild("orders")(_.read())),
            () => Seq(exp("customers"), exp("orders")))
        case "mv_product_inventory" =>
          plan(fs => MaterializedViews.productInventory(fs(0)), "graft.pipeline",
            Seq(readBuild("products")(_.read())), () => Seq(exp("products")))
        case "notebook_top_customers" =>
          plan(fs => TableReads.topCustomers(fs(0), fs(1), fs(2)), "perfbench",
            Seq(readBuild("order_items")(_.read()), readBuild("orders")(_.read()),
              readBuild("customers")(_.read())),
            () => Seq(exp("order_items"), exp("orders"), exp("customers")))
        case "point_lookup" =>
          val t = nextTable(kind)
          val ids = latest(t).keys.toVector.sorted
          // Mostly live keys, some that never existed.
          val k = if (rng.nextInt(8) == 0) ids.last + 1 + rng.nextInt(1000) else ids(rng.nextInt(ids.length))
          pointTables(i) = t
          plan(fs => fs(0), "perfbench",
            Seq(readBuild(t)(_.where(col("id") === k))),
            () => Seq(exp(t).where(col("id") === k)), t, k)
        case "time_travel" =>
          val t = nextTable(kind)
          val (v, st) = versions(t)(rng.nextInt(versions(t).length))
          plan(fs => TableReads.checksum(fs(0)), "perfbench",
            Seq(readBuild(t)(_.readVersion(v))), () => Seq(expectedFrame(spark, t, st.values)), t, v)
        case "change_feed" =>
          val t = nextTable(kind)
          val vs = versions(t)
          val a = 1 + rng.nextInt(vs.length - 1)
          val b = a + rng.nextInt(vs.length - a)
          val from = vs(a - 1)._1 + 1
          val to = vs(b)._1
          plan(fs => TableReads.changeSummary(fs(0)), "perfbench",
            Seq(readBuild(t, Seq("_change_type", "_commit_version"))(_.readChanges(from, to))),
            () => Seq(TableReads.expectedChanges(spark, t, vs, a, b)), t, from, to)
        case "delta_reader_aggregate" =>
          val t0 = System.nanoTime()
          plan(fs => TableReads.statusRevenue(fs(0)), "perfbench",
            Seq(span("sources.delta_read", "graft.sources") {
              typedView(DeltaImport.read(spark, snapshotPath("orders")), "orders") }),
            () => Seq(exp("orders")))
          extra.add("sources.delta_read_s", (System.nanoTime() - t0) / 1e9)
      }
    }

  def check(): (Set[Int], Seq[String]) = {
    val bad = mutable.Set.empty[Int]
    val msgs = mutable.ArrayBuffer.empty[String]
    val memo = mutable.Map.empty[String, Seq[String]]
    results.foreach { case (i, key, expectedQuery, got) =>
      val want = memo.getOrElseUpdate(key, expectedQuery())
      if (want != got) {
        bad += i
        if (msgs.length < 5) msgs += s"op $i ($key): expected ${want.take(3)}, got ${got.take(3)}"
      }
    }
    (bad.toSet, msgs.toSeq)
  }

  def layerLevels(): Map[String, Double] =
    Map("table.live_files" -> liveFiles.values.sum.toDouble) ++ storageLevels
}

object TableReads {
  private def money(c: Column) = sum(c.cast(DecimalType(18, 2)))

  /** The notebook's join + group-by + sort/limit: top customers by revenue
    * over order_items ⋈ orders ⋈ customers. */
  def topCustomers(items: DataFrame, orders: DataFrame, customers: DataFrame): DataFrame =
    items.alias("i")
      .join(orders.alias("o"), col("i.order_id") === col("o.id"))
      .join(customers.alias("c"), col("o.customer_id") === col("c.id"))
      .groupBy(col("c.id").as("customer_id"), col("c.first_name"), col("c.last_name"))
      .agg(countDistinct(col("o.id")).as("orders"),
        money(col("i.quantity") * col("i.unit_price").cast(DecimalType(12, 2))).as("revenue"))
      .orderBy(col("revenue").desc, col("customer_id"))
      .limit(10)

  /** Order-independent fingerprint of a whole table version. */
  def checksum(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("rows"), sum(col("id")).as("id_sum"),
      bit_xor(xxhash64(df.columns.map(col).toSeq: _*)).as("fingerprint"))

  /** Change rows per change type, with a fingerprint of their contents. */
  def changeSummary(df: DataFrame): DataFrame =
    df.groupBy("_change_type").agg(count(lit(1)).as("rows"),
      bit_xor(xxhash64(df.columns.map(col).toSeq: _*)).as("fingerprint"))

  /** Orders per status with their revenue, read through the Delta mirror. */
  def statusRevenue(orders: DataFrame): DataFrame =
    orders.groupBy("status").agg(count(lit(1)).as("orders"), money(col("total_amount")).as("revenue"))

  /** The change feed of history batches a..b (1-based), as net change per
    * key per batch, stamped with each batch's commit version. */
  def expectedChanges(spark: SparkSession, table: String,
      vs: Vector[(Long, Map[Long, Vector[Any]])], a: Int, b: Int): DataFrame = {
    val rows = (a to b).flatMap { j =>
      Lww.netChanges(vs(j - 1)._2, vs(j)._2).map { case (ct, r) => r :+ ct :+ vs(j)._1 }
    }
    val schema = StructType(Envelope.tableJsonSchemas(table).fields ++ Seq(
      StructField("_change_type", StringType), StructField("_commit_version", LongType)))
    val df = spark.createDataFrame(rows.map(r => Row.fromSeq(r)).toList.asJava, schema)
    Envelope.microsTimestampCols(table).foldLeft(df)((d, c) => d.withColumn(c, timestamp_micros(col(c))))
  }
}
