package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec
import graft.analytics.DeltaBridgeQueries

/** [[DeltaImport]] — the read-only Delta-log bridge: add/remove replay,
  * partition reconstruction, time travel, checkpoint consumption, the
  * protocol gate, CDF, and (when present) the reference's own frozen
  * tables as fixtures. */
class DeltaImportSpec extends SparkSpec {
  import spark.implicits._

  /** Write `df` as a single parquet file named `name` inside `table`. */
  private def dataFile(table: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val stage = tmpDir("delta-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val dest = Paths.get(table, name)
    Files.createDirectories(dest.getParent)
    Files.copy(Paths.get(part), dest, StandardCopyOption.REPLACE_EXISTING)
  }

  private def commit(table: String, version: Long, lines: Seq[String]): Unit = {
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def schemaJson(s: StructType): String =
    s.json.replace("\"", "\\\"")

  private val idS = new StructType().add("id", LongType).add("s", StringType)

  private def metaLine(s: StructType, partCols: Seq[String] = Nil,
      conf: Map[String, String] = Map.empty): String = {
    val pc = partCols.map(c => s""""$c"""").mkString("[", ",", "]")
    val cf = conf.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${schemaJson(s)}","partitionColumns":$pc,"configuration":$cf}}"""
  }

  test("add/remove replay serves the live file set; stale and orphan files excluded") {
    val table = tmpDir("delta-replay")
    dataFile(table, "a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    dataFile(table, "b.parquet", Seq((3L, "c")).toDF("id", "s"))
    dataFile(table, "orphan.parquet", Seq((99L, "X")).toDF("id", "s")) // never committed
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    commit(table, 1L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"MERGE"}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"dataChange":true}}""",
      """{"remove":{"path":"a.parquet","dataChange":true}}"""))

    val head = DeltaImport.read(spark, table)
    assert(head.as[(Long, String)].collect().toSet === Set((3L, "c")))
    // time travel to v0: the removed file is live there
    val v0 = DeltaImport.read(spark, table, versionAsOf = Some(0L))
    assert(v0.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    val s = DeltaImport.snapshot(spark, table)
    assert(s.version === 1L && s.files.map(_.path) === Seq("b.parquet"))
    intercept[IllegalArgumentException] {
      DeltaImport.snapshot(spark, table, versionAsOf = Some(7L))
    }
  }

  test("timestampAsOf picks the latest commit at or before the instant") {
    val table = tmpDir("delta-tsasof")
    dataFile(table, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    dataFile(table, "b.parquet", Seq((2L, "b")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    commit(table, 1L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"WRITE"}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    assert(DeltaImport.versionAsOfTimestamp(spark, table, 1500L) === 0L)
    assert(DeltaImport.versionAsOfTimestamp(spark, table, 2000L) === 1L)
    intercept[IllegalArgumentException] {
      DeltaImport.versionAsOfTimestamp(spark, table, 999L)
    }
    assert(DeltaImport.readAsOf(spark, table, 1500L).count() === 1)
    assert(DeltaImport.readAsOf(spark, table, 9999L).count() === 2)
  }

  test("format(\"graft-delta\") serves snapshot, travel and CDF; writes refused") {
    val table = tmpDir("delta-fmt")
    dataFile(table, "a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    dataFile(table, "b.parquet", Seq((3L, "c")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    commit(table, 1L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"APPEND"}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))

    assert(spark.read.format("graft-delta").load(table).count() === 3)
    assert(spark.read.format("graft-delta").option("versionAsOf", "0")
      .load(table).count() === 2)
    assert(spark.read.format("graft-delta").option("timestampAsOf", "1000")
      .load(table).count() === 2)
    // SQL view + filter through the relation scan
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW delta_v USING `graft-delta` " +
      s"OPTIONS (path '$table')")
    assert(spark.sql("SELECT s FROM delta_v WHERE id = 3").head().getString(0) === "c")
    // CDF: both blind-append commits serve as inserts
    val cdf = spark.read.format("graft-delta").option("readChangeFeed", "true")
      .load(table)
    assert(cdf.filter(col("_change_type") === "insert").count() === 3)
    // read-only by construction
    intercept[Exception] {
      Seq((9L, "z")).toDF("id", "s").write.format("graft-delta").save(table)
    }
  }

  test("graft-delta streaming source: appends stream, rewrites refused, CDF mode serves all") {
    import org.apache.spark.sql.streaming.OutputMode
    val table = tmpDir("delta-stream")
    dataFile(table, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    val q = spark.readStream.format("graft-delta").option("path", table).load()
      .writeStream.format("memory").queryName("delta_stream_out")
      .option("checkpointLocation", tmpDir("delta-stream-ckpt"))
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("delta_stream_out").count() === 1)
      // a new commit lands while the stream runs
      dataFile(table, "b.parquet", Seq((2L, "b"), (3L, "c")).toDF("id", "s"))
      commit(table, 1L, Seq(
        """{"commitInfo":{"timestamp":2000,"operation":"WRITE"}}""",
        """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
      q.processAllAvailable()
      assert(spark.table("delta_stream_out").as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // a rewriting commit fails the plain stream with the contract error
      dataFile(table, "c.parquet", Seq((9L, "z")).toDF("id", "s"))
      commit(table, 2L, Seq(
        """{"commitInfo":{"timestamp":3000,"operation":"MERGE"}}""",
        """{"add":{"path":"c.parquet","partitionValues":{},"size":1,"dataChange":true}}""",
        """{"remove":{"path":"a.parquet","dataChange":true}}"""))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()

    // CDF mode serves the full history incl. the rewrite
    val q2 = spark.readStream.format("graft-delta").option("path", table)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("delta_cdf_out")
      .option("checkpointLocation", tmpDir("delta-stream-ckpt2"))
      .outputMode(OutputMode.Append()).start()
    try {
      q2.processAllAvailable()
      val rows = spark.table("delta_cdf_out")
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows === Set(
        (1L, "insert", 0L), (2L, "insert", 1L), (3L, "insert", 1L),
        (9L, "insert", 2L), (1L, "delete", 2L)))
    } finally q2.stop()
  }

  test("partition columns are reconstructed from partitionValues") {
    val table = tmpDir("delta-part")
    val part = new StructType().add("id", LongType).add("s", StringType)
      .add("p", LongType)
    dataFile(table, "p=1/f1.parquet", Seq((1L, "a")).toDF("id", "s"))
    dataFile(table, "p=2/f2.parquet", Seq((2L, "b")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(part, partCols = Seq("p")),
      """{"add":{"path":"p=1/f1.parquet","partitionValues":{"p":"1"},"size":1,"dataChange":true}}""",
      """{"add":{"path":"p=2/f2.parquet","partitionValues":{"p":"2"},"size":1,"dataChange":true}}"""))
    val df = DeltaImport.read(spark, table)
    assert(df.schema.fieldNames.toSeq === Seq("id", "s", "p")) // declared order
    assert(df.select("id", "p").as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 2L)))
  }

  test("v2 checkpoint: json manifest + parquet sidecars + json tail replay") {
    val table = tmpDir("delta-v2ckpt")
    dataFile(table, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    dataFile(table, "b.parquet", Seq((2L, "b")).toDF("id", "s"))
    dataFile(table, "c.parquet", Seq((3L, "c")).toDF("id", "s"))
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log.resolve("_sidecars"))
    // two sidecar parquet files, one add each (classic action-row shape)
    def sidecar(name: String, addPath: String): Unit = {
      val rows = spark.range(1).select(
        struct(lit(addPath).as("path"),
          map().cast("map<string,string>").as("partitionValues"),
          lit(1L).as("size"), lit(0L).as("modificationTime"),
          lit(true).as("dataChange")).as("add"))
      val stage = tmpDir("delta-v2-sidecar-stage")
      rows.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.copy(Paths.get(part), log.resolve("_sidecars").resolve(name))
    }
    sidecar("sc1.parquet", "a.parquet")
    sidecar("sc2.parquet", "b.parquet")
    // v1 JSON manifest: protocol (feature-gated), metaData, sidecar actions.
    // v0/v1 commit JSON deliberately ABSENT — only the v2 checkpoint can
    // serve them; the v2 feature gate must accept.
    Files.write(log.resolve(f"${1L}%020d.checkpoint.80a083e8-7026.json"), Seq(
      """{"checkpointMetadata":{"version":1}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      metaLine(idS),
      """{"sidecar":{"path":"sc1.parquet","sizeInBytes":1}}""",
      """{"sidecar":{"path":"sc2.parquet","sizeInBytes":1}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    // a JSON commit AFTER the checkpoint replays on top
    commit(table, 2L, Seq(
      """{"commitInfo":{"timestamp":3000,"operation":"WRITE"}}""",
      """{"add":{"path":"c.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))

    val s = DeltaImport.snapshot(spark, table)
    assert(s.version === 2L)
    assert(s.files.map(_.path).toSet === Set("a.parquet", "b.parquet", "c.parquet"))
    assert(DeltaImport.read(spark, table).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // pinned read AT the checkpoint version (no tail)
    assert(DeltaImport.read(spark, table, versionAsOf = Some(1L))
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("partitioned import is ONE scan: 120 partition values, no union plan") {
    val table = tmpDir("delta-manyparts")
    // one physical part-file, registered 120 times under distinct
    // partition dirs — the log's partitionValues carry the values
    val stage = tmpDir("delta-manyparts-stage")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val src = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val n = 120
    val adds = (0 until n).map { i =>
      val rel = s"p=$i/f$i.parquet"
      val dest = Paths.get(table, rel)
      Files.createDirectories(dest.getParent)
      Files.copy(Paths.get(src), dest)
      s"""{"add":{"path":"$rel","partitionValues":{"p":"$i"},"size":1,"dataChange":true}}"""
    }
    val part = new StructType().add("id", LongType).add("s", StringType)
      .add("p", LongType)
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(part, partCols = Seq("p"))) ++ adds)

    val df = DeltaImport.read(spark, table)
    // a thousands-value table must not become a thousands-leaf union:
    // exactly one parquet scan node (partition values join in broadcast)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "FileScan parquet|Scan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"expected a single parquet scan, plan:\n$plan")
    assert(df.count() === 2L * n)
    assert(df.select("p").distinct().count() === n.toLong)
    assert(df.filter(col("p") === 7L).select("id", "s").as[(Long, String)]
      .collect().toSet === Set((1L, "a"), (2L, "b")))
    // declared column order and types survive the recovery join
    assert(df.schema.fieldNames.toSeq === Seq("id", "s", "p"))
    assert(df.schema("p").dataType === LongType)
  }

  test("CDF over many versions batches into per-category scans") {
    val table = tmpDir("delta-cdf-many")
    // 30 single-add commits + one whole-file-remove commit: the feed must
    // plan ONE insert scan + ONE delete scan, never a frame per version
    val stage = tmpDir("delta-cdf-many-stage")
    Seq((1L, "x")).toDF("id", "s").coalesce(1).write.mode("overwrite").parquet(stage)
    val src = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(idS)))
    (1 to 30).foreach { v =>
      Files.copy(Paths.get(src), Paths.get(table, s"f$v.parquet"))
      commit(table, v.toLong, Seq(
        s"""{"commitInfo":{"timestamp":${1000 + v},"operation":"WRITE"}}""",
        s"""{"add":{"path":"f$v.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    }
    commit(table, 31L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"DELETE"}}""",
      """{"remove":{"path":"f7.parquet","deletionTimestamp":2000,"dataChange":true}}"""))

    val cdf = DeltaImport.readChanges(spark, table, 1L, 31L)
    val scans = "FileScan parquet|Scan parquet".r
      .findAllIn(cdf.queryExecution.executedPlan.toString).size
    assert(scans === 2, "expected one insert scan + one delete scan")
    val rows = cdf.select(col("_change_type"), col("_commit_version"))
      .as[(String, Long)].collect()
    assert(rows.count(_._1 == "insert") === 30)
    assert(rows.filter(_._1 == "delete").map(_._2).toSeq === Seq(31L))
    // per-version stamps survive the batching
    assert(rows.filter(_._1 == "insert").map(_._2).toSet === (1L to 30L).toSet)
  }

  test("CDF over 120 DV'd files is one batched scan, not a frame per file") {
    val table = tmpDir("delta-dv-many")
    // a month of delta-spark CDF-less DELETEs on a mirrored table: every
    // version removes+re-adds ONE file with a grown DV. The feed over the
    // whole range must plan a bounded number of scans (the batched
    // insert/delete/dv category scans), never a positionsFrame per file.
    val stage = tmpDir("delta-dv-many-stage")
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val src = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val n = 120
    val conf = spark.sessionState.newHadoopConf()
    (1 to n).foreach(i => Files.copy(Paths.get(src), Paths.get(table, s"f$i.parquet")))
    // one real DV blob holding all 120 position sets (offset-addressed)
    val dvs = DeltaDeletionVectors.writeFile(
      (1 to n).map(i => s"f$i.parquet" -> Seq(1L)), table, "gmany", conf)
    def dvJson(d: DeltaDeletionVectors.Descriptor): String =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
        s""""offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaLine(idS)) ++ (1 to n).map(i =>
      s"""{"add":{"path":"f$i.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    (1 to n).foreach { i =>
      commit(table, i.toLong, Seq(
        s"""{"commitInfo":{"timestamp":${1000 + i},"operation":"DELETE"}}""",
        s"""{"remove":{"path":"f$i.parquet","deletionTimestamp":${1000 + i},"dataChange":true}}""",
        s"""{"add":{"path":"f$i.parquet","partitionValues":{},"size":1,"dataChange":true,"deletionVector":${dvJson(dvs(s"f$i.parquet"))}}}"""))
    }

    val cdf = DeltaImport.readChanges(spark, table, 1L, n.toLong)
    val scans = "FileScan parquet|Scan parquet".r
      .findAllIn(cdf.queryExecution.executedPlan.toString).size
    assert(scans <= 3,
      s"expected the batched DV-delta scan (≤3 scan nodes), got $scans")
    // each version reports exactly its own diff: position 1 = id 2
    val rows = cdf.select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect()
    assert(rows.length === n)
    assert(rows.toSet === (1 to n).map(i => (2L, "delete", i.toLong)).toSet)
  }

  test("CDF: whole-file add/remove carrying a DV serves only LIVE rows") {
    val table = tmpDir("delta-dv-drain")
    dataFile(table, "a.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s"))
    val conf = spark.sessionState.newHadoopConf()
    val dv = DeltaDeletionVectors.writeFile(
      Seq("a.parquet" -> Seq(1L, 3L)), table, "g1", conf)("a.parquet")
    def dvJson(d: DeltaDeletionVectors.Descriptor): String =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
        s""""offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    // v0: the file enters ALREADY carrying a DV (clone/convert shape) —
    // CDF inserts must exclude the dead positions
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaLine(idS),
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true,"deletionVector":${dvJson(dv)}}}"""))
    // v1: a DELETE drains the file — remove-with-DV, NO re-add
    // (delta-spark's common whole-file-drain shape): the deletes are the
    // file's LIVE rows, not the already-DV-deleted ones
    commit(table, 1L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"DELETE"}}""",
      s"""{"remove":{"path":"a.parquet","deletionTimestamp":2000,"dataChange":true,"deletionVector":${dvJson(dv)}}}"""))

    val cdf = DeltaImport.readChanges(spark, table, 0L, 1L)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSet
    assert(cdf === Set(
      (1L, "insert", 0L), (3L, "insert", 0L),   // positions 1,3 dead at v0
      (1L, "delete", 1L), (3L, "delete", 1L)))  // drain deletes live rows only
    // head after the drain is empty
    assert(DeltaImport.read(spark, table).count() === 0L)
  }

  test("classic checkpoint is consumed; only the JSON tail replays after it") {
    val table = tmpDir("delta-ckpt")
    dataFile(table, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    dataFile(table, "b.parquet", Seq((2L, "b")).toDF("id", "s"))
    // checkpoint at v1 holding the full state (file a + metaData + protocol);
    // v0/v1 JSON deliberately ABSENT — only the checkpoint can serve them
    val ckptRows = spark.range(1).select(
      struct(lit("a.parquet").as("path"),
        map().cast("map<string,string>").as("partitionValues")).as("add"),
      struct(lit(idS.json).as("schemaString"),
        array().cast("array<string>").as("partitionColumns"),
        map().cast("map<string,string>").as("configuration")).as("metaData"),
      struct(lit(1).as("minReaderVersion")).as("protocol"))
    val stage = tmpDir("delta-ckpt-stage")
    ckptRows.coalesce(1).write.mode("overwrite").parquet(stage)
    val partFile = Files.list(Paths.get(stage)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val log = Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    Files.copy(Paths.get(partFile), log.resolve(f"${1L}%020d.checkpoint.parquet"))
    Files.write(log.resolve("_last_checkpoint"), """{"version":1}""".getBytes)
    commit(table, 2L, Seq(
      """{"commitInfo":{"timestamp":3000,"operation":"WRITE"}}""",
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))

    val s = DeltaImport.snapshot(spark, table)
    assert(s.version === 2L)
    assert(s.files.map(_.path).toSet === Set("a.parquet", "b.parquet"))
    assert(DeltaImport.read(spark, table).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }

  test("protocol gate refuses reader features this bridge cannot honor") {
    val table = tmpDir("delta-proto")
    dataFile(table, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] { DeltaImport.read(spark, table) }
    assert(e.getMessage.contains("reader protocol"))
  }

  test("timestamp travel refuses instants before retained history; no checkpoint fallback") {
    val table = tmpDir("delta-ts-early")
    dataFile(table, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":5000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaImport.readAsOf(spark, table, 10L) // predates the first commit
    }
    assert(e.getMessage.contains("no commit at or before"))
  }

  test("a non-contiguous log (cleaned history, no covering checkpoint) fails loudly") {
    val table = tmpDir("delta-gap")
    dataFile(table, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    // only version 3 retained — versions 0-2 "cleaned", no checkpoint
    commit(table, 3L, Seq(
      """{"commitInfo":{"timestamp":4000,"operation":"WRITE"}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] { DeltaImport.read(spark, table) }
    assert(e.getMessage.contains("not contiguous"))
  }

  test("CDF whole-file deletes keep the remove action's partitionValues") {
    val table = tmpDir("delta-cdf-part")
    val s2 = new StructType().add("id", LongType).add("region", StringType)
    dataFile(table, "us.parquet", Seq(Tuple1(1L)).toDF("id"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${schemaJson(s2)}","partitionColumns":["region"],"configuration":{}}}""",
      """{"add":{"path":"us.parquet","partitionValues":{"region":"us"},"size":1,"dataChange":true}}"""))
    commit(table, 1L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"DELETE"}}""",
      """{"remove":{"path":"us.parquet","deletionTimestamp":2000,"dataChange":true,""" +
        """"extendedFileMetadata":true,"partitionValues":{"region":"us"}}}"""))
    val cdf = DeltaImport.readChanges(spark, table, 1L, 1L)
      .select("id", "region", "_change_type").as[(Long, String, String)].collect().toSet
    assert(cdf === Set((1L, "us", "delete"))) // region NOT null
  }

  test("column mapping: physical parquet names resolve to the logical schema") {
    import org.apache.spark.sql.types.{IntegerType, MetadataBuilder, StructField}
    val table = tmpDir("delta-colmap")
    // physical file layout: col-1/col-2, nested col-n inside col-2's struct
    val physDf = Seq((1L, "a", 10), (2L, "b", 20)).toDF("pid", "ps", "pn")
      .select(col("pid").as("col-1"),
        struct(col("ps").as("col-s"), col("pn").as("col-n")).as("col-2"))
    dataFile(table, "a.parquet", physDf)

    def mapped(name: String, phys: String, dt: org.apache.spark.sql.types.DataType) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", name.length.toLong).build())
    val logical = StructType(Seq(
      mapped("id", "col-1", LongType),
      mapped("payload", "col-2", StructType(Seq(
        mapped("s", "col-s", StringType),
        mapped("n", "col-n", IntegerType))))))

    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine(logical, conf = Map("delta.columnMapping.mode" -> "name")),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))

    val df = DeltaImport.read(spark, table)
    assert(df.columns.toSeq === Seq("id", "payload"))
    val rows = df.select(col("id"), col("payload.s"), col("payload.n"))
      .as[(Long, String, Int)].collect().toSet
    assert(rows === Set((1L, "a", 10), (2L, "b", 20)))
  }

  test("column mapping: partitionValues keyed by physical name; v3 feature accepted") {
    import org.apache.spark.sql.types.{IntegerType, MetadataBuilder, StructField}
    val table = tmpDir("delta-colmap-part")
    dataFile(table, "a.parquet",
      Seq((1, "x"), (2, "y")).toDF("n", "s").select(col("n").as("col-n"), col("s").as("col-s")))

    def mapped(name: String, phys: String, dt: org.apache.spark.sql.types.DataType) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys).build())
    val logical = StructType(Seq(
      mapped("n", "col-n", IntegerType),
      mapped("s", "col-s", StringType),
      mapped("region", "col-r", StringType)))

    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      metaLine(logical, partCols = Seq("region"),
        conf = Map("delta.columnMapping.mode" -> "name")),
      """{"add":{"path":"a.parquet","partitionValues":{"col-r":"us"},"size":1,"dataChange":true}}"""))

    val rows = DeltaImport.read(spark, table).select("n", "s", "region")
      .as[(Int, String, String)].collect().toSet
    assert(rows === Set((1, "x", "us"), (2, "y", "us")))

    // unknown v3 feature still refused
    val bad = tmpDir("delta-colmap-bad")
    dataFile(bad, "a.parquet", Seq((1L, "a")).toDF("id", "s"))
    commit(bad, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["collations"]}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] { DeltaImport.read(spark, bad) }
    assert(e.getMessage.contains("collations"))
  }

  test("deletion vectors: protocol accepted, positions subtracted, CDF derives the DV diff") {
    val table = tmpDir("delta-dv")
    dataFile(table, "a.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s"))
    val conf = spark.sessionState.newHadoopConf()
    // two DV generations for the same file, written in the real format
    val dv1 = DeltaDeletionVectors.writeFile(
      Seq("a.parquet" -> Seq(1L)), table, "g1", conf)("a.parquet")
    val dv2 = DeltaDeletionVectors.writeFile(
      Seq("a.parquet" -> Seq(1L, 3L)), table, "g2", conf)("a.parquet")
    def dvJson(d: DeltaDeletionVectors.Descriptor): String =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
        s""""offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    // v1: CDF-less DV DELETE — remove + re-add with the first DV
    commit(table, 1L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"DELETE"}}""",
      """{"remove":{"path":"a.parquet","deletionTimestamp":2000,"dataChange":true}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true,"deletionVector":${dvJson(dv1)}}}"""))
    // v2: DV grows (one more deleted position)
    commit(table, 2L, Seq(
      """{"commitInfo":{"timestamp":3000,"operation":"DELETE"}}""",
      s"""{"remove":{"path":"a.parquet","deletionTimestamp":3000,"dataChange":true,"deletionVector":${dvJson(dv1)}}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true,"deletionVector":${dvJson(dv2)}}}"""))

    // snapshot reads subtract the positions (row 1 then rows 1+3)
    assert(DeltaImport.read(spark, table, Some(0L)).count() === 4)
    assert(DeltaImport.read(spark, table, Some(1L))
      .select("id").as[Long].collect().toSet === Set(1L, 3L, 4L))
    assert(DeltaImport.read(spark, table)
      .select("id").as[Long].collect().toSet === Set(1L, 3L))

    // the change feed derives the per-version DV DIFF, not whole files
    val ch = DeltaImport.readChanges(spark, table, 1L, 2L)
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ch === Set((2L, "delete", 1L), (4L, "delete", 2L)))

    // a DV shrink (restore) surfaces the vacated rows as inserts
    commit(table, 3L, Seq(
      """{"commitInfo":{"timestamp":4000,"operation":"RESTORE"}}""",
      s"""{"remove":{"path":"a.parquet","deletionTimestamp":4000,"dataChange":true,"deletionVector":${dvJson(dv2)}}}""",
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true,"deletionVector":${dvJson(dv1)}}}"""))
    val ch3 = DeltaImport.readChanges(spark, table, 3L, 3L)
      .select(col("id"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch3 === Set((4L, "insert")))
  }

  test("CDF: cdc actions served as-is, blind adds as inserts, whole-file removes as deletes") {
    val table = tmpDir("delta-cdf")
    dataFile(table, "a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    dataFile(table, "_change_data/c1.parquet",
      Seq((2L, "b", "update_preimage"), (2L, "b2", "update_postimage"))
        .toDF("id", "s", "_change_type"))
    dataFile(table, "a2.parquet", Seq((1L, "a"), (2L, "b2")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      metaLine(idS, conf = Map("delta.enableChangeDataFeed" -> "true")),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    commit(table, 1L, Seq(
      """{"commitInfo":{"timestamp":2000,"operation":"MERGE"}}""",
      """{"add":{"path":"a2.parquet","partitionValues":{},"size":1,"dataChange":true}}""",
      """{"remove":{"path":"a.parquet","dataChange":true}}""",
      """{"cdc":{"path":"_change_data/c1.parquet","partitionValues":{},"size":1,"dataChange":false}}"""))

    val cdf = DeltaImport.readChanges(spark, table, 0L, 1L)
      .select("id", "s", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(cdf === Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (2L, "b", "update_preimage", 1L), (2L, "b2", "update_postimage", 1L)))
  }

  test("importTable materializes the snapshot as a graft table") {
    val table = tmpDir("delta-imp")
    dataFile(table, "a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    commit(table, 0L, Seq(
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaLine(idS),
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"dataChange":true}}"""))
    val dest = tmpDir("delta-imp-graft") + "/t"
    val t = DeltaImport.importTable(spark, table, dest)
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  // ------------- the reference's own frozen tables, when present ---------

  private val refBase = DeltaBridgeQueries.ReferenceRoot
  private def refTable(name: String) = s"$refBase/$name"

  test("reference customers: replay excludes the MERGE-removed and orphan files") {
    assume(new java.io.File(refBase).isDirectory)
    val s = DeltaImport.snapshot(spark, refTable("customers"))
    assert(s.version === 1L)
    assert(s.files.map(_.path) ===
      Seq("part-00000-e7eef221-c8e3-4afa-982d-1b14cdfb9c20.c000.snappy.parquet"))
    val head = DeltaImport.read(spark, refTable("customers"))
    // declared schema (10 cols) prunes the stray _change_type column in the file
    assert(head.schema.fieldNames.length === 10)
    val emails = head.select("id", "email").as[(Long, String)].collect().toMap
    assert(emails(1L) === "test.user@example.com" && emails.size === 5)
    // v0 still serves the pre-MERGE image from the removed-but-present file
    val v0 = DeltaImport.read(spark, refTable("customers"), Some(0L))
    assert(v0.filter($"id" === 1L).select("email").head().getString(0) ===
      "john.doe@example.com")
  }

  test("reference cdc_events: multi-commit streaming appends accumulate") {
    assume(new java.io.File(refBase).isDirectory)
    val s = DeltaImport.snapshot(spark, refTable("cdc_events"))
    assert(s.version === 1L && s.files.length === 5)
    val df = DeltaImport.read(spark, refTable("cdc_events"))
    assert(df.count() === df.select("event_id").distinct().count())
    assert(df.schema.fieldNames.contains("kafka_offset"))
  }

  test("reference customers CDF: WRITE inserts + MERGE cdc images") {
    assume(new java.io.File(refBase).isDirectory)
    val cdf = DeltaImport.readChanges(spark, refTable("customers"), 0L, 1L)
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("insert") === 5)
    assert(byType.getOrElse("update_preimage", 0L) +
      byType.getOrElse("update_postimage", 0L) === 2)
  }
}
