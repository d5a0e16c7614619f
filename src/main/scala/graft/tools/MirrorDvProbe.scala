package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev-only: scale probe of the graft→Delta MIRROR export's DV path —
  * the twin of [[ForeignWriterProbe]]'s broad-delete case, one layer up.
  * A ×K-replicated sf0.1 orders table takes a 10% NATIVE positional
  * delete (graft's `mutate` is distributed — positions
  * live in parquet DV dirs), then `exportLog` mirrors it as a Delta
  * commit. Before round 11 the export collected EVERY position to the
  * driver (`collect_list(pos).collect()`) and wrote the bitmap file
  * driver-side; now positions fold into RoaringBitmaps on executors
  * ([[graft.sources.DeltaExport.buildDvs]]) and only per-file
  * descriptors return.
  *
  * The probe makes the driver payload VISIBLE two ways:
  *   - descriptor count vs deleted-row count (the payload that crosses
  *     the executor→driver boundary is file-count-sized, not
  *     selectivity-sized)
  *   - the max single-task `resultSize` observed during the export (a
  *     position array for a 10% delete at ×10 would be megabytes in one
  *     task result; descriptors are a few hundred bytes)
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.tools.MirrorDvProbe 10"
  */
object MirrorDvProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .appName("graft-mirror-dv-probe")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val big = base.crossJoin(
        spark.range(k.toLong).select(col("id").as("__r")))
      .select((col("o_orderkey") * k + col("__r")).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val n = big.count()

    val root = graft.Scratch.dir(spark, "mirror-dv-probe")
    def timed[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val t = timed(s"build ($n rows)") {
      graft.table.GraftTable.create(spark, root, big)
    }
    val deleted = timed("native DV delete (10%)") {
      t.deletePositional(col("o_orderkey") % 10 === 3L)
      big.filter(col("o_orderkey") % 10 === 3L).count()
    }

    // Track the largest single-task result crossing back to the driver
    // during the export — the position-array regression shows up here.
    val maxResult = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) maxResult.getAndAccumulate(m.resultSize, math.max)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    timed("exportLog (DV commit)") {
      graft.sources.DeltaExport.exportLog(t)
    }
    spark.sparkContext.removeSparkListener(listener)

    val snap = graft.sources.DeltaImport.snapshot(spark, root)
    val descs = snap.files.count(_.deletionVector.isDefined)
    val dvCard = snap.files.flatMap(_.deletionVector).map(_.cardinality).sum
    println(s"[probe]   deleted rows: $deleted; mirror DV cardinality: $dvCard")
    println(s"[probe]   driver payload: $descs descriptors " +
      s"(was $deleted positions pre-r11)")
    println(s"[probe]   max task resultSize during export: " +
      s"${maxResult.get()} bytes")

    // Round-trip sanity: the mirror must read back exactly the survivors.
    val mirrored = graft.sources.DeltaImport.read(spark, root).count()
    require(mirrored == n - deleted,
      s"mirror read-back $mirrored != expected ${n - deleted}")
    println(s"[probe]   mirror read-back OK ($mirrored rows)")
    spark.stop()
  }
}
