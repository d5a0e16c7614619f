package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkSpec
import graft.table.GraftTable

/** [[DeltaExport]] — the write-side Delta bridge: graft commits published
  * as `_delta_log` commits in place (dual-format), round-tripped through
  * [[DeltaImport]], action shapes held to the reference's own Delta log
  * layout, and the MoR gate. */
class DeltaExportSpec extends SparkSpec {
  import spark.implicits._

  private def logLines(root: String, v: Long): Seq[JValue] =
    Files.readAllLines(Paths.get(root, "_delta_log", f"$v%020d.json")).asScala
      .filter(_.trim.nonEmpty).map(JsonMethods.parse(_)).toSeq

  private def jsonCommits(root: String): Seq[Long] =
    Files.list(Paths.get(root, "_delta_log")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted

  test("export round-trips through DeltaImport at head and every version") {
    val root = tmpDir("dexp-rt")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "n"), Nil)
    t.append(Seq((3L, "c", 30)).toDF("id", "s", "n"))
    t.delete(col("id") === 2L) // snapshot rewrite: removes + adds in one commit

    val published = DeltaExport.exportLog(t)
    assert(published === 2L)
    assert(jsonCommits(root) === Seq(0L, 1L, 2L))

    for (v <- 0L to 2L) {
      val viaDelta = DeltaImport.read(spark, root, versionAsOf = Some(v))
        .as[(Long, String, Int)].collect().toSet
      val viaGraft = t.readVersion(v).as[(Long, String, Int)].collect().toSet
      assert(viaDelta === viaGraft, s"version $v")
    }
    // head read without pinning
    assert(DeltaImport.read(spark, root).as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (3L, "c", 30)))
  }

  test("COPY INTO commits export as blind appends and round-trip") {
    import spark.implicits._
    val root = tmpDir("dexp-copy")
    val src = tmpDir("dexp-copy-src")
    Seq((10L, "x", 1), (11L, "y", 2)).toDF("id", "s", "n")
      .coalesce(1).write.mode("overwrite").parquet(src)
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 10)).toDF("id", "s", "n"), Nil)
    assert(t.copyInto(src).nonEmpty)
    DeltaExport.exportLog(t)
    assert(DeltaImport.read(spark, root).as[(Long, String, Int)].collect().toSet
      === Set((1L, "a", 10), (10L, "x", 1), (11L, "y", 2)))
    // the exported commitInfo marks the load a blind append, like a Delta
    // writer's own COPY INTO
    val log = new java.io.File(s"$root/_delta_log")
      .listFiles().filter(_.getName.endsWith("1.json")).head
    val text = new String(java.nio.file.Files.readAllBytes(log.toPath))
    assert(text.contains("\"COPY INTO\"") && text.contains("\"isBlindAppend\":true"))
  }

  test("action shapes match the reference's Delta log layout, stats are typed") {
    val root = tmpDir("dexp-shape")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x"), Nil)
    DeltaExport.exportLog(t)

    val lines = logLines(root, 0L)
    val keys = lines.map(_.asInstanceOf[JObject].obj.map(_._1)).map(_.head)
    assert(keys.contains("commitInfo") && keys.contains("protocol") &&
      keys.contains("metaData") && keys.contains("add"))

    val proto = lines.find(l => (l \ "protocol") != JNothing).get \ "protocol"
    assert((proto \ "minReaderVersion") === JInt(1))

    val meta = lines.find(l => (l \ "metaData") != JNothing).get \ "metaData"
    assert((meta \ "format" \ "provider") === JString("parquet"))
    assert((meta \ "schemaString").isInstanceOf[JString])

    val adds = lines.map(_ \ "add").filter(_ != JNothing)
    assert(adds.nonEmpty)
    adds.foreach { a =>
      assert((a \ "path").isInstanceOf[JString])
      assert((a \ "dataChange") === JBool(true))
      assert((a \ "size").isInstanceOf[JLong] || (a \ "size").isInstanceOf[JInt])
      val stats = JsonMethods.parse((a \ "stats").asInstanceOf[JString].s)
      assert((stats \ "numRecords") != JNothing)
      // typed values: id is a number, s a string
      val minId = stats \ "minValues" \ "id"
      assert(minId.isInstanceOf[JLong] || minId.isInstanceOf[JInt], minId)
      assert((stats \ "minValues" \ "s").isInstanceOf[JString])
      assert((stats \ "nullCount" \ "x") != JNothing)
    }
    // numRecords over v0 files sums to the row count
    val total = adds.map { a =>
      (JsonMethods.parse((a \ "stats").asInstanceOf[JString].s) \ "numRecords") match {
        case JLong(n) => n
        case JInt(n) => n.toLong
        case _ => 0L
      }
    }.sum
    assert(total === 2L)
  }

  test("partitioned export carries partitionValues; import reconstructs them") {
    val root = tmpDir("dexp-part")
    val df = Seq((1L, "us", 10), (2L, "de", 20), (3L, "us", 30))
      .toDF("id", "region", "n")
    val t = GraftTable.create(spark, root, df, Seq("region"))
    DeltaExport.exportLog(t)

    val adds = logLines(root, 0L).map(_ \ "add").filter(_ != JNothing)
    val pvs = adds.map(a => (a \ "partitionValues" \ "region")).collect {
      case JString(v) => v
    }.toSet
    assert(pvs === Set("us", "de"))
    // files live under hive dirs but partitionValues are the decoded values
    assert(adds.forall(a => (a \ "path").asInstanceOf[JString].s.contains("region=")))

    val back = DeltaImport.read(spark, root).select("id", "region", "n")
      .as[(Long, String, Int)].collect().toSet
    assert(back === Set((1L, "us", 10), (2L, "de", 20), (3L, "us", 30)))
  }

  test("incremental + idempotent: re-export skips, new commits append") {
    val root = tmpDir("dexp-incr")
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "s"), Nil)
    DeltaExport.exportLog(t)
    val bytes0 = Files.readAllBytes(
      Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    DeltaExport.exportLog(t) // no-op
    assert(Files.readAllBytes(
      Paths.get(root, "_delta_log", f"${0L}%020d.json")) === bytes0)

    t.append(Seq((2L, "b")).toDF("id", "s"))
    assert(DeltaExport.exportLog(t) === 1L)
    assert(jsonCommits(root) === Seq(0L, 1L))
    // the append commit is a pure add: no removes, dataChange=true
    val v1 = logLines(root, 1L)
    assert(v1.forall(l => (l \ "remove") === JNothing))
    assert((v1.find(l => (l \ "commitInfo") != JNothing).get
      \ "commitInfo" \ "isBlindAppend") === JBool(true))
  }

  test("special characters in partition values round-trip (URI-encoded add paths)") {
    val root = tmpDir("dexp-enc")
    val df = Seq((1L, "N/A"), (2L, "a b"), (3L, "ok")).toDF("id", "status")
    val t = GraftTable.create(spark, root, df, Seq("status"))
    DeltaExport.exportLog(t)
    // hive-escaped dirs (status=N%2FA) publish as percent-encoded URIs
    // and decode back to the on-disk path on read
    val back = DeltaImport.read(spark, root).select("id", "status")
      .as[(Long, String)].collect().toSet
    assert(back === Set((1L, "N/A"), (2L, "a b"), (3L, "ok")))
    // re-export after an append still recognizes the published files
    t.append(Seq((4L, "x/y")).toDF("id", "status"))
    assert(DeltaExport.exportLog(t) === 1L)
    val v1 = logLines(root, 1L)
    assert(v1.forall(l => (l \ "remove") === JNothing)) // pure add, no spurious diff
    assert(DeltaImport.read(spark, root).count() === 4L)
  }

  test("multi-rowgroup stats fold correctly; timestamps render fixed-width") {
    val root = tmpDir("dexp-mrg")
    // force several tiny row groups in one file via a tiny block size
    val df = spark.range(0, 50000).select(col("id"),
      expr("timestamp_micros(cast(id * 1e6 as long) + 500000 * cast(id % 2 as long))").as("ts"))
    val t = GraftTable.create(spark, root,
      df.coalesce(1), Nil)
    DeltaExport.exportLog(t)
    val adds = logLines(root, 0L).map(_ \ "add").filter(_ != JNothing)
    adds.foreach { a =>
      val stats = JsonMethods.parse((a \ "stats").asInstanceOf[JString].s)
      (stats \ "minValues" \ "ts") match {
        case JString(s) =>
          // fixed-width micros rendering, lexicographically chronological
          assert(s.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z"""), s)
          assert(s === "1970-01-01T00:00:00.000000Z")
        case other => fail(s"no ts min: $other")
      }
      (stats \ "minValues" \ "id") match {
        case JInt(v) => assert(v === BigInt(0))
        case JLong(v) => assert(v === 0L)
        case other => fail(s"no id min: $other")
      }
    }
  }

  test("maintainCheckpoint cadence tracks the tail length, not version parity") {
    val root = tmpDir("dexp-cadence")
    val t = GraftTable.create(spark, root, Seq((0L, "x")).toDF("id", "s"), Nil)
    for (i <- 1 to 11) t.append(Seq((i.toLong, "x")).toDF("id", "s"))
    DeltaExport.exportLog(t) // versions 0..11
    assert(DeltaExport.maintainCheckpoint(spark, root) === Some(11L))
    assert(DeltaExport.maintainCheckpoint(spark, root) === None) // just done
    // advance by 3 (an odd stride — parity-based cadence would miss):
    for (i <- 12 to 14) t.append(Seq((i.toLong, "x")).toDF("id", "s"))
    DeltaExport.exportLog(t)
    assert(DeltaExport.maintainCheckpoint(spark, root) === None) // tail 3 < 10
    assert(DeltaExport.maintainCheckpoint(spark, root, every = 3) === Some(14L))
  }

  test("cleanupLog drops only aged JSON below the checkpoint; cold open survives") {
    val root = tmpDir("dexp-cleanup")
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "s"), Nil)
    t.append(Seq((2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    DeltaExport.exportLog(t)
    assert(DeltaExport.cleanupLog(spark, root) === 0) // no checkpoint: keep all
    DeltaExport.writeCheckpoint(spark, root) // at v2
    // not yet aged: nothing deleted
    assert(DeltaExport.cleanupLog(spark, root) === 0)
    // aged past retention: v0/v1 go, v2 (checkpoint version) stays
    val n = DeltaExport.cleanupLog(spark, root, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 3600_000L)
    assert(n === 2)
    assert(Files.exists(Paths.get(root, "_delta_log", f"${2L}%020d.json")))
    assert(DeltaImport.read(spark, root).count() === 3L) // checkpoint serves it
    intercept[Exception] { DeltaImport.read(spark, root, versionAsOf = Some(0L)) }
  }

  test("checkpoint tombstones expire after the retention window") {
    val root = tmpDir("dexp-retention")
    val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    t.delete(col("id") === 1L)
    DeltaExport.exportLog(t)
    spark.conf.set("spark.graft.delta.deletedFileRetentionMs", "0")
    try {
      DeltaExport.writeCheckpoint(spark, root)
      val ck = spark.read.parquet(
        Paths.get(root, "_delta_log", f"${1L}%020d.checkpoint.parquet").toString)
      assert(ck.filter(col("remove.path").isNotNull).count() === 0) // all expired
      assert(DeltaImport.read(spark, root).count() === 1) // snapshot unaffected
    } finally spark.conf.unset("spark.graft.delta.deletedFileRetentionMs")
  }

  test("resume survives Delta log cleanup + VACUUM combined (checkpoint-seeded)") {
    val root = tmpDir("dexp-clean-vac")
    val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    t.delete(col("id") === 1L) // v1 rewrite: v0's dir becomes unreferenced
    DeltaExport.exportLog(t)
    DeltaExport.writeCheckpoint(spark, root)
    // Delta metadata cleanup removes old JSON; graft VACUUM removes the
    // superseded dir — the two lifecycle policies a long-lived mirrored
    // table runs under simultaneously.
    Files.delete(Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    t.vacuum(retentionHours = 0.0, nowMs = System.currentTimeMillis() + 3600_000L)
    t.append(Seq((3L, "c")).toDF("id", "s"))
    assert(DeltaExport.exportLog(t) === 2L) // resumes from the checkpoint state
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === Set((2L, "b"), (3L, "c")))
  }

  test("export resumes after VACUUM: published commits replay from the Delta log") {
    val root = tmpDir("dexp-vac")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    t.delete(col("id") === 1L) // v1 rewrite: v0's dir becomes unreferenced
    DeltaExport.exportLog(t)
    t.vacuum(retentionHours = 0.0, nowMs = System.currentTimeMillis() + 3600_000L)
    t.append(Seq((3L, "c")).toDF("id", "s")) // v2, after old dirs are gone
    assert(DeltaExport.exportLog(t) === 2L)
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === Set((2L, "b"), (3L, "c")))
  }

  test("generated/identity declarations export into Delta schema metadata") {
    val root = tmpDir("dexp-genid")
    val t = GraftTable.create(spark, root,
      Seq((1L, 5.0)).toDF("id", "x"),
      partitionBy = Nil,
      generated = Map("x2" -> "x * 2"),
      identity = Map("id" -> (1L, 1L)))
    DeltaExport.exportLog(t)
    val metaStr = (logLines(root, 0L).map(_ \ "metaData" \ "schemaString")
      .collectFirst { case JString(s) => s }).get
    val schema = org.apache.spark.sql.types.DataType.fromJson(metaStr)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val x2 = schema("x2").metadata
    assert(x2.contains("delta.generationExpression"))
    assert(x2.getString("delta.generationExpression") === "x * 2")
    val id = schema("id").metadata
    assert(id.getLong("delta.identity.start") === 1L)
    assert(id.getLong("delta.identity.step") === 1L)
    // the exported schema still round-trips through the bridge read
    assert(DeltaImport.read(spark, root).columns.toSeq
      === t.read().columns.toSeq)
    // legacy protocol demands identity's writer version
    val proto = logLines(root, 0L).map(_ \ "protocol").filter(_ != JNothing).head
    assert((proto \ "minWriterVersion") === JInt(6))
  }

  test("txn-stamped commits export Delta SetTransaction actions") {
    val root = tmpDir("dexp-txn")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a")).toDF("id", "s"), Nil)
    assert(t.appendOnce(Seq((2L, "b")).toDF("id", "s"), "streamX", 7L).nonEmpty)
    DeltaExport.exportLog(t)
    val txns = logLines(root, 1L).map(_ \ "txn").filter(_ != JNothing)
    assert(txns.nonEmpty)
    assert((txns.head \ "appId") === JString("streamX"))
    assert((txns.head \ "version") === JInt(7))
    // the import side surfaces it (the checkpoint carries it forward)
    val vc = DeltaImport.changesBetween(spark, root, 0L, 1L)
    assert(vc.flatMap(_.txns) === Seq("streamX" -> 7L))
  }

  test("vacuumExportArtifacts reaps aged cdc files and abandoned stages") {
    val root = tmpDir("dexp-vacart")
    val t = GraftTable.createWithProperties(spark,
      root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      Map("delta.enableChangeDataFeed" -> "true"))
    t.deletePositional(col("id") === 2L) // v1: its change feed exports as cdc
    DeltaExport.exportLog(t)
    val cdcFiles = Files.walk(Paths.get(root, "_change_data"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(cdcFiles.nonEmpty)

    t.optimize() // v2
    DeltaExport.exportLog(t)
    // a crashed exporter's abandoned staging dir is reaped too
    Files.createDirectories(Paths.get(root, ".cdc-stage-deadbeef"))
    val future = System.currentTimeMillis() + 3600_000L
    val deleted = DeltaExport.vacuumExportArtifacts(spark, root,
      retentionMs = 0L, nowMs = future)
    assert(deleted.contains(".cdc-stage-deadbeef"))
    assert(!Files.exists(Paths.get(root, ".cdc-stage-deadbeef")))
    // cdc files (the delete's change feed) aged out with the retention
    assert(deleted.exists(_.startsWith("_change_data/")))
    assert(cdcFiles.forall(p => !Files.exists(p)))
    // the current snapshot is untouched on both sides of the bridge
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (3L, "c")))
    assert(t.read().as[(Long, String)].collect().toSet
      === Set((1L, "a"), (3L, "c")))
  }

  test("multi-part checkpoint: parts named per the classic scheme, cold open works") {
    val root = tmpDir("dexp-multickpt")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a")).toDF("id", "s"), Nil)
    (2L to 6L).foreach(i => t.append(Seq((i, s"s$i")).toDF("id", "s")))
    DeltaExport.exportLog(t)
    // 6 adds + metaData + protocol = 8 actions; 3 rows/part forces parts
    spark.conf.set("spark.graft.delta.checkpointPartRows", "3")
    try DeltaExport.writeCheckpoint(spark, root)
    finally spark.conf.unset("spark.graft.delta.checkpointPartRows")

    val marker = JsonMethods.parse(new String(Files.readAllBytes(
      Paths.get(root, "_delta_log", "_last_checkpoint")), "UTF-8"))
    val parts = (marker \ "parts") match { case JInt(n) => n.toInt; case _ => 1 }
    assert(parts > 1, s"expected a multi-part checkpoint, marker: $marker")
    val named = Files.list(Paths.get(root, "_delta_log")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")).toSeq
    assert(named.size === parts)

    // cold open BELOW the JSON tail: delete every commit json at or below
    // the checkpoint — the multi-part checkpoint alone must serve the read
    (0L to 5L).foreach { v =>
      Files.deleteIfExists(Paths.get(root, "_delta_log", f"$v%020d.json"))
      Files.deleteIfExists(Paths.get(root, "_delta_log", f".$v%020d.json.crc"))
    }
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === (1L to 6L).map(i => (i, if (i == 1) "a" else s"s$i")).toSet)
  }

  test("feature-listed protocols restate every capability; DV stats non-tight") {
    val root = tmpDir("dexp-feat")
    val t = GraftTable.create(spark,
      root, (1L to 6L).map(i => (i, s"s$i")).toDF("id", "s"), Nil)
    t.addConstraint("pos_id", "id > 0")
    t.deletePositional(col("id") === 3L) // v2: DV → feature-listed protocol
    DeltaExport.exportLog(t)

    val proto = logLines(root, 2L).map(_ \ "protocol").filter(_ != JNothing).head
    val wf = (proto \ "writerFeatures").asInstanceOf[JArray].arr
      .collect { case JString(f) => f }.toSet
    // the log writes cdc actions + delta.enableChangeDataFeed and the
    // table declares a CHECK constraint: a writer-7 protocol omitting
    // either is rejected by spec-strict clients
    assert(Set("deletionVectors", "changeDataFeed", "checkConstraints")
      .subsetOf(wf))

    // the DV'd add re-enters with footer (PHYSICAL) stats declared
    // non-tight, so metadata-only MIN/MAX never answers from deleted rows
    val dvAdd = logLines(root, 2L).map(_ \ "add")
      .find(a => a != JNothing && (a \ "deletionVector") != JNothing).get
    val stats = (dvAdd \ "stats") match { case JString(s) => s; case _ => "" }
    assert(stats.contains("\"tightBounds\":false"))
    // plain adds stay tight (no field — absent reads as tight)
    val v0add = logLines(root, 0L).map(_ \ "add").filter(_ != JNothing).head
    val v0stats = (v0add \ "stats") match { case JString(s) => s; case _ => "" }
    assert(!v0stats.contains("tightBounds"))
  }

  test("resume over a pre-CDF log upgrades metaData + protocol with the first new commit") {
    val root = tmpDir("dexp-precdf")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    DeltaExport.exportLog(t)
    // simulate a log written by the pre-CDF exporter: metaData without
    // delta.enableChangeDataFeed, legacy writer-2 protocol
    val v0 = Paths.get(root, "_delta_log", f"${0L}%020d.json")
    val rewritten = Files.readAllLines(v0).asScala.map { l =>
      l.replace(""""delta.enableChangeDataFeed":"true"""", """"graft.x":"y"""")
        .replace(""""minWriterVersion":4""", """"minWriterVersion":2""")
    }
    Files.write(v0, rewritten.mkString("", "\n", "\n").getBytes("UTF-8"))
    // the Hadoop local FS keeps a checksum sidecar the nio rewrite bypasses
    Files.deleteIfExists(v0.getParent.resolve(s".${v0.getFileName}.crc"))
    assert(!(logLines(root, 0L).map(_ \ "metaData" \ "configuration")
      .filter(_ != JNothing).head \ "delta.enableChangeDataFeed").isInstanceOf[JString])

    t.delete(col("id") === 2L) // v1 records change data
    assert(DeltaExport.exportLog(t) === 1L)
    // the resumed export re-advertised the feed and upgraded the protocol
    val v1meta = logLines(root, 1L).map(_ \ "metaData").filter(_ != JNothing)
    assert(v1meta.nonEmpty)
    assert((v1meta.head \ "configuration" \ "delta.enableChangeDataFeed")
      === JString("true"))
    val v1proto = logLines(root, 1L).map(_ \ "protocol").filter(_ != JNothing)
    assert(v1proto.nonEmpty)
    val mw = (v1proto.head \ "minWriterVersion") match {
      case JInt(v) => v.toInt; case _ => 0
    }
    assert(mw >= 4)
  }

  test("resume over a log advertising the feed as TRUE re-emits no metaData or protocol") {
    val root = tmpDir("dexp-cdf-upper")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    DeltaExport.exportLog(t)
    // Delta reads boolean table properties case-insensitively: a log whose
    // metaData carries "TRUE" already advertises the change feed
    val v0 = Paths.get(root, "_delta_log", f"${0L}%020d.json")
    val rewritten = Files.readAllLines(v0).asScala.map(_.replace(
      """"delta.enableChangeDataFeed":"true"""", """"delta.enableChangeDataFeed":"TRUE""""))
    Files.write(v0, rewritten.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.deleteIfExists(v0.getParent.resolve(s".${v0.getFileName}.crc"))
    assert((logLines(root, 0L).map(_ \ "metaData" \ "configuration")
      .filter(_ != JNothing).head \ "delta.enableChangeDataFeed") === JString("TRUE"))

    t.delete(col("id") === 2L)
    assert(DeltaExport.exportLog(t) === 1L)
    assert(logLines(root, 1L).map(_ \ "metaData").forall(_ == JNothing))
    assert(logLines(root, 1L).map(_ \ "protocol").forall(_ == JNothing))
    assert(DeltaImport.readChanges(spark, root, 1L, 1L)
      .filter(col("_change_type") === "delete").count() === 1L)
  }

  test("positional deletes export as Delta deletion vectors and round-trip") {
    val root = tmpDir("dexp-dv")
    val t = GraftTable.create(spark,
      root, (1L to 10L).map(i => (i, s"s$i")).toDF("id", "s"), Nil)
    t.deletePositional(col("id") === 3L)          // v1: DV on the v0 file
    t.deletePositional(col("id") === 7L)          // v2: DV grows (same file)
    t.append(Seq((11L, "s11")).toDF("id", "s"))   // v3: plain append alongside DVs

    val published = DeltaExport.exportLog(t)
    assert(published === 3L)

    // protocol upgraded IN PLACE at the first DV commit
    val protos = logLines(root, 1L).map(_ \ "protocol").filter(_ != JNothing)
    assert(protos.nonEmpty)
    assert((protos.head \ "minReaderVersion") === JInt(3))
    val rf = (protos.head \ "readerFeatures").asInstanceOf[JArray].arr
    assert(rf.contains(JString("deletionVectors")))
    // the DV-changed file re-enters the log as remove+add with a descriptor
    val v1adds = logLines(root, 1L).map(_ \ "add").filter(_ != JNothing)
    assert(v1adds.nonEmpty)
    assert(v1adds.forall(a => (a \ "deletionVector" \ "storageType") === JString("u")))
    assert(logLines(root, 1L).exists(l => (l \ "remove") != JNothing))

    // Delta reads equal graft reads at EVERY version, including with DVs
    for (v <- 0L to 3L) {
      val viaDelta = DeltaImport.read(spark, root, versionAsOf = Some(v))
        .as[(Long, String)].collect().toSet
      val viaGraft = t.readVersion(v).as[(Long, String)].collect().toSet
      assert(viaDelta === viaGraft, s"version $v")
    }
    assert(DeltaImport.read(spark, root).count() === 9L)

    // a checkpoint carries the descriptors; cold read off it stays correct
    DeltaExport.writeCheckpoint(spark, root)
    assert(DeltaImport.snapshot(spark, root).files
      .flatMap(_.deletionVector).map(_.cardinality).sum === 2L)
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === t.read().as[(Long, String)].collect().toSet)
  }

  test("CDF exports as cdc actions; a Delta reader round-trips the graft change feed") {
    val root = tmpDir("dexp-cdf")
    val t = GraftTable.create(spark,
      root, Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "v"), Nil)
    t.append(Seq((3L, "c", 30.0)).toDF("id", "s", "v"))            // v1 blind append
    t.merge(Seq((2L, "B", 200.0), (4L, "d", 40.0)).toDF("id", "s", "v"), "id") // v2
    t.delete(col("id") === 1L)                                     // v3

    DeltaExport.exportLog(t)
    // metaData advertises the feed; mutation commits carry cdc actions
    val meta = logLines(root, 0L).map(_ \ "metaData").find(_ != JNothing).get
    assert((meta \ "configuration" \ "delta.enableChangeDataFeed") === JString("true"))
    assert(logLines(root, 2L).exists(l => (l \ "cdc") != JNothing))
    assert(logLines(root, 3L).exists(l => (l \ "cdc") != JNothing))
    // cdc files are stamp-free (Delta derives the stamps from the commit)
    val cdcPath = (logLines(root, 2L).map(_ \ "cdc").find(_ != JNothing).get \ "path")
      .asInstanceOf[JString].s
    val cdcCols = spark.read.parquet(s"$root/$cdcPath").columns.toSet
    assert(cdcCols.contains("_change_type"))
    assert(!cdcCols.contains("_commit_version") && !cdcCols.contains("_commit_timestamp"))

    // the round trip: Delta CDF read == graft CDF read, row for row
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double, String, Long)] =
      df.select(col("id"), col("s"), col("v"), col("_change_type"),
          col("_commit_version"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getString(3), r.getLong(4))).toSet
    val viaDelta = canon(DeltaImport.readChanges(spark, root, 1L, t.version))
    val viaGraft = canon(t.readChanges(1L, t.version))
    assert(viaDelta === viaGraft)
  }

  test("writeCheckpoint: protocol-complete rows — required add fields, tombstones, txn") {
    val root = tmpDir("dexp-ckpt-proto")
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    t.delete(col("id") === 1L) // rewrite: v0's file becomes a tombstone
    DeltaExport.exportLog(t)
    // a foreign writer's txn watermark in the log must survive checkpointing
    val v1 = Paths.get(root, "_delta_log", f"${1L}%020d.json")
    Files.write(v1, (new String(Files.readAllBytes(v1), "UTF-8") +
      """{"txn":{"appId":"streamA","version":7}}""" + "\n").getBytes("UTF-8"))
    // raw edit invalidates Hadoop's local checksum sidecar
    Files.deleteIfExists(Paths.get(root, "_delta_log", f".${1L}%020d.json.crc"))
    DeltaExport.writeCheckpoint(spark, root)

    val ck = spark.read.parquet(
      Paths.get(root, "_delta_log", f"${1L}%020d.checkpoint.parquet").toString)
    val adds = ck.filter(col("add.path").isNotNull)
      .select("add.path", "add.size", "add.modificationTime", "add.dataChange")
      .collect()
    assert(adds.nonEmpty)
    adds.foreach { r =>
      assert(r.getLong(1) > 0L, "size required")
      assert(r.getLong(2) > 0L, "modificationTime required")
      assert(!r.getBoolean(3), "checkpoint adds carry dataChange=false")
    }
    assert(ck.filter(col("metaData.format.provider") === "parquet").count() === 1)
    val tombs = ck.filter(col("remove.path").isNotNull)
      .select("remove.path", "remove.deletionTimestamp").collect()
    // v0's rewritten file(s): one tombstone per part-file of the dir
    assert(tombs.nonEmpty && tombs.forall(_.getLong(1) > 0L))
    val txn = ck.filter(col("txn.appId").isNotNull)
      .select("txn.appId", "txn.version").collect()
    assert(txn.map(r => r.getString(0) -> r.getLong(1)).toSeq === Seq("streamA" -> 7L))

    // a SECOND checkpoint (after cleanup of the old JSON) carries the
    // tombstone and watermark forward from the prior checkpoint
    t.append(Seq((9L, "z")).toDF("id", "s"))
    DeltaExport.exportLog(t)
    for (v <- 0L to 1L) Files.delete(Paths.get(root, "_delta_log", f"$v%020d.json"))
    DeltaExport.writeCheckpoint(spark, root)
    val ck2 = spark.read.parquet(
      Paths.get(root, "_delta_log", f"${2L}%020d.checkpoint.parquet").toString)
    assert(ck2.filter(col("remove.path").isNotNull).count() === tombs.length.toLong)
    assert(ck2.filter(col("txn.appId") === "streamA").count() === 1)
  }

  test("writeCheckpoint: cold open survives log cleanup; protocol and id ride verbatim") {
    val root = tmpDir("dexp-ckpt")
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "s"), Nil)
    t.append(Seq((2L, "b")).toDF("id", "s"))
    t.append(Seq((3L, "c")).toDF("id", "s"))
    DeltaExport.exportLog(t)
    val id0 = DeltaImport.snapshot(spark, root).tableId

    assert(DeltaExport.writeCheckpoint(spark, root) === 2L)
    assert(Files.exists(Paths.get(root, "_delta_log", f"${2L}%020d.checkpoint.parquet")))
    assert(Files.exists(Paths.get(root, "_delta_log", "_last_checkpoint")))

    // simulate Delta log cleanup: drop the JSON below the checkpoint
    for (v <- 0L to 1L)
      Files.delete(Paths.get(root, "_delta_log", f"$v%020d.json"))
    val s = DeltaImport.snapshot(spark, root)
    assert(s.version === 2L)
    assert(s.tableId === id0) // identity preserved through the checkpoint
    assert(s.protocol.map(_.minReaderVersion) === Some(1))
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // stats survive the checkpoint round-trip → skipping still prunes
    assert(s.files.forall(_.stats.nonEmpty))
    assert(DeltaSkipping.prune(spark, s, col("id") === 3L).size === 1)

    // time travel BELOW the checkpoint is now honestly unavailable
    intercept[Exception] { DeltaImport.read(spark, root, versionAsOf = Some(0L)) }

    // the tail keeps growing past the checkpoint: exportLog resumes from
    // the published log's state (checkpoint + tail) and publishes ONLY v3
    // — cleaned history is never re-derived from data dirs
    t.append(Seq((4L, "d")).toDF("id", "s"))
    DeltaExport.exportLog(t)
    assert(!Files.exists(Paths.get(root, "_delta_log", f"${0L}%020d.json")))
    assert(DeltaImport.read(spark, root).count() === 4L)
  }

  test("constraints map to delta.constraints.*; OPTIMIZE exports dataChange=false") {
    val root = tmpDir("dexp-props")
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    t.addConstraint("id_pos", "id > 0")
    t.append(Seq((3L, "c")).toDF("id", "s"))
    t.optimize()
    DeltaExport.exportLog(t)

    // the constraint commit re-emits metaData with the Delta-reserved key
    val metas = (1L to t.version).flatMap(v =>
      logLines(root, v).map(_ \ "metaData").filter(_ != JNothing))
    assert(metas.exists(m =>
      (m \ "configuration" \ "delta.constraints.id_pos") === JString("id > 0")))

    val opt = logLines(root, t.version)
    val optAdds = opt.map(_ \ "add").filter(_ != JNothing)
    assert(optAdds.nonEmpty && optAdds.forall(a => (a \ "dataChange") === JBool(false)))
    assert(opt.map(_ \ "remove").filter(_ != JNothing)
      .forall(r => (r \ "dataChange") === JBool(false)))

    // and the whole history still round-trips
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === t.read().as[(Long, String)].collect().toSet)
  }

  test("metadata-only rename mirrors as a metadata-only commit under column mapping") {
    val root = tmpDir("dexp-colmap")
    val t = GraftTable.create(spark, root,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "s", "n"), Nil)
    DeltaExport.exportLog(t)
    val filesBefore = DeltaImport.snapshot(spark, root, None).files.map(_.path).toSet

    t.renameColumnMetadataOnly("s", "label")
    assert(DeltaExport.exportLog(t) === 1L)
    // metadata-only Delta commit: no add/remove actions — NO data rewrite
    val lines = logLines(root, 1L)
    assert(lines.forall(l =>
      (l \ "add") == JNothing && (l \ "remove") == JNothing))
    // the protocol upgrades in place to advertise columnMapping
    val proto = lines.map(_ \ "protocol").find(_ != JNothing).get
    assert((proto \ "readerFeatures").children.contains(JString("columnMapping")))
    assert((proto \ "writerFeatures").children.contains(JString("columnMapping")))

    val snap = DeltaImport.snapshot(spark, root, None)
    assert(snap.files.map(_.path).toSet === filesBefore)
    assert(snap.configuration.get("delta.columnMapping.mode") === Some("name"))
    // graft-namespace mapping keys never leak into the mirror's config
    assert(snap.configuration.keys.forall(!_.startsWith("graft.colmap.")))
    // a delta-shaped reader (the import's log replay) serves the NEW
    // logical name over the OLD physical bytes
    val df = DeltaImport.read(spark, root)
    assert(df.columns.toSeq === Seq("id", "label", "n"))
    assert(df.as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 10), (2L, "b", 20)))
    // schema metadata carries physical name + a distinct id per field
    val labelField = snap.schema("label")
    assert(labelField.metadata.getString("delta.columnMapping.physicalName") === "s")
    val ids = snap.schema.fields.map(_.metadata.getLong("delta.columnMapping.id"))
    assert(ids.distinct.length === 3 && ids.forall(_ >= 1))

    // appends after the rename keep round-tripping; stats keys are PHYSICAL
    t.append(Seq((3L, "c", 30)).toDF("id", "label", "n"))
    assert(DeltaExport.exportLog(t) === 2L)
    assert(DeltaImport.read(spark, root).filter(col("id") === 3L)
      .select("label").head().getString(0) === "c")
    val addStats = logLines(root, 2L).map(_ \ "add" \ "stats")
      .collectFirst { case JString(s) => JsonMethods.parse(s) }.get
    val minKeys = (addStats \ "minValues").asInstanceOf[JObject].obj.map(_._1).toSet
    assert(minKeys.contains("s") && !minKeys.contains("label"))

    // a MoR delete (a Delta DV on the mirror) still exports and reads back
    t.deletePositional(col("label") === "a")
    DeltaExport.exportLog(t)
    assert(DeltaImport.read(spark, root)
      .select("label").as[String].collect().toSet === Set("b", "c"))

    // a second rename keeps the id and the birth physical name stable
    t.renameColumnMetadataOnly("label", "tag2")
    DeltaExport.exportLog(t)
    val snap2 = DeltaImport.snapshot(spark, root, None)
    val tag2 = snap2.schema("tag2")
    assert(tag2.metadata.getString("delta.columnMapping.physicalName") === "s")
    assert(tag2.metadata.getLong("delta.columnMapping.id") ===
      labelField.metadata.getLong("delta.columnMapping.id"))
    assert(DeltaImport.read(spark, root)
      .select("tag2").as[String].collect().toSet === Set("b", "c"))
  }

  test("widenColumnType mirrors as a metadata-only commit under typeWidening") {
    import org.apache.spark.sql.types._
    val root = tmpDir("dexp-widen")
    val t = GraftTable.create(spark, root,
      Seq((1, "a", 1.5f), (2, "b", 2.5f)).toDF("k", "s", "x"), Nil)
    DeltaExport.exportLog(t)
    val filesBefore = DeltaImport.snapshot(spark, root, None).files.map(_.path).toSet

    t.widenColumnType("k", LongType)
    assert(DeltaExport.exportLog(t) === 1L)
    // metadata-only Delta commit: no add/remove actions — NO data rewrite
    val lines = logLines(root, 1L)
    assert(lines.forall(l =>
      (l \ "add") == JNothing && (l \ "remove") == JNothing))
    // the protocol upgrades in place to advertise typeWidening (both lists)
    val proto = lines.map(_ \ "protocol").find(_ != JNothing).get
    assert((proto \ "readerFeatures").children.contains(JString("typeWidening")))
    assert((proto \ "writerFeatures").children.contains(JString("typeWidening")))

    val snap = DeltaImport.snapshot(spark, root, None)
    assert(snap.files.map(_.path).toSet === filesBefore)
    // schemaString carries the WIDE type + the typeChanges field metadata
    assert(snap.schema("k").dataType === LongType)
    val changes = snap.schema("k").metadata.getMetadataArray("delta.typeChanges")
    assert(changes.length === 1)
    assert(changes(0).getString("fromType") === "integer")
    assert(changes(0).getString("toType") === "long")
    assert(changes(0).getLong("tableVersion") === 1L)
    // graft-namespace history keys never leak into the mirror's config
    assert(snap.configuration.keys.forall(!_.startsWith("graft.typeChange.")))

    // post-widen long rows + pre-widen int files serve as ONE long feed
    t.append(Seq((5000000000L, "c", 9.5f)).toDF("k", "s", "x"))
    assert(DeltaExport.exportLog(t) === 2L)
    assert(DeltaImport.read(spark, root)
      .select("k").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 5000000000L))

    // a second widen appends to the history and round-trips too
    t.widenColumnType("x", DoubleType)
    DeltaExport.exportLog(t)
    val snap2 = DeltaImport.snapshot(spark, root, None)
    assert(snap2.schema("x").dataType === DoubleType)
    assert(snap2.schema("x").metadata
      .getMetadataArray("delta.typeChanges")(0).getString("fromType") === "float")
    assert(DeltaImport.read(spark, root).filter(col("k") === 1L)
      .select("x").head().getDouble(0) === 1.5)

    // widen + RENAME compose: history stays keyed by the birth physical
    // name while the mirror serves the new logical name
    t.renameColumnMetadataOnly("k", "key")
    t.widenColumnType("key", DecimalType(21, 0))
    DeltaExport.exportLog(t)
    val snap3 = DeltaImport.snapshot(spark, root, None)
    val keyField = snap3.schema("key")
    assert(keyField.metadata.getString("delta.columnMapping.physicalName") === "k")
    assert(keyField.metadata.getMetadataArray("delta.typeChanges").length === 2)
    assert(DeltaImport.read(spark, root)
      .select(col("key").cast("long")).as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 5000000000L))
  }

  test("log compaction: one file replays a range; covered-JSON loss survivable") {
    val root = tmpDir("dexp-compact")
    val t = GraftTable.create(spark, root,
      (1L to 4L).map(i => (i, s"v$i")).toDF("id", "s"), Nil)
    (5L to 10L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "s")))
    t.delete(col("id") === 2L) // v7: rewrite — removes + adds inside range
    t.append(Seq((11L, "v11")).toDF("id", "s")) // v8
    DeltaExport.exportLog(t)
    val expected = DeltaImport.read(spark, root).as[(Long, String)].collect().toSet

    val cp = DeltaExport.writeLogCompaction(spark, root, 1L, 6L)
    assert(cp.getName === "00000000000000000001.00000000000000000006.compacted.json")
    // identical snapshot with the compaction present (reader prefers it)
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === expected)
    // versionAsOf inside the compacted range falls back to per-JSON replay
    assert(DeltaImport.read(spark, root, Some(3L)).count() === 7L)

    // the compacted file alone can stand in for its covered JSONs: delete
    // them and the snapshot still reconstructs (and time travel into the
    // hole honestly fails)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1L to 6L).foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(root, f"_delta_log/$v%020d.json"), false))
    assert(DeltaImport.read(spark, root).as[(Long, String)].collect().toSet
      === expected)
    val e = intercept[IllegalArgumentException] {
      DeltaImport.read(spark, root, Some(3L))
    }
    assert(e.getMessage.contains("3"), s"honest failure expected: ${e.getMessage}")

    // reconciliation: the compacted file carries no cdc/commitInfo lines
    val clines = Files.readAllLines(Paths.get(cp.toUri.getPath)).asScala
      .filter(_.trim.nonEmpty).map(JsonMethods.parse(_)).toSeq
    assert(clines.nonEmpty)
    assert(clines.forall(l => (l \ "commitInfo") == JNothing))
    assert(clines.forall(l => (l \ "cdc") == JNothing))
  }

  test("in-commit timestamps: monotonic ICT in commitInfo; travel honors it") {
    val root = tmpDir("dexp-ict")
    val t = GraftTable.create(spark, root, Seq((1L, "a")).toDF("id", "s"), Nil)
    DeltaExport.exportLog(t) // v0: ICT not yet enabled
    t.setProperties(Map("delta.enableInCommitTimestamps" -> "true")) // v1
    t.append(Seq((2L, "b")).toDF("id", "s")) // v2
    t.append(Seq((3L, "c")).toDF("id", "s")) // v3
    DeltaExport.exportLog(t)
    def ictOf(v: Long): Option[Long] = logLines(root, v)
      .map(_ \ "commitInfo" \ "inCommitTimestamp")
      .collectFirst { case JInt(x) => x.toLong }
    // pre-enablement commit carries none; enabled commits strictly increase
    assert(ictOf(0L).isEmpty)
    val icts = (1L to 3L).map(v => ictOf(v).get)
    assert(icts === icts.sorted && icts.distinct.length === 3)
    // writer feature + post-creation enablement configs published
    val snap = DeltaImport.snapshot(spark, root, None)
    assert(snap.protocol.exists(_.writerFeatures.contains("inCommitTimestamp")))
    assert(snap.configuration
      .get("delta.inCommitTimestampEnablementVersion") === Some("1"))
    assert(snap.configuration
      .get("delta.inCommitTimestampEnablementTimestamp") === Some(icts(0).toString))
    // timestamp travel resolves by ICT, not wall-clock commitInfo
    assert(DeltaImport.versionAsOfTimestamp(spark, root, icts(2) - 1) === 2L)
    assert(DeltaImport.readAsOf(spark, root, icts(2) - 1).count() === 2)
    // resume continues the monotonic chain from the published log
    t.append(Seq((4L, "d")).toDF("id", "s")) // v4
    DeltaExport.exportLog(t)
    assert(ictOf(4L).get > icts.last)
  }

  test("v2 checkpoint policy: manifest + sidecars round-trip; cadence/cleanup see it") {
    val root = tmpDir("dexp-v2ck")
    val t = GraftTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Nil)
    t.append(Seq((3L, "c")).toDF("id", "s"))
    // the policy as a TABLE property: the exported protocol must advertise
    // the v2Checkpoint reader feature before checkpoint files appear
    t.setProperties(Map("delta.checkpointPolicy" -> "v2"))
    t.append(Seq((4L, "d")).toDF("id", "s"))
    DeltaExport.exportLog(t)
    val protos = (0L to t.version).flatMap(v =>
      logLines(root, v).map(_ \ "protocol").filter(_ != JNothing))
    assert(protos.exists(p =>
      (p \ "readerFeatures").children.contains(JString("v2Checkpoint"))))
    val expected = t.read().as[(Long, String)].collect().toSet
    spark.conf.set("spark.graft.delta.checkpointPolicy", "v2")
    try {
      val v = DeltaExport.writeCheckpoint(spark, root)
      assert(v === 3L)
      val logDir = Paths.get(root, "_delta_log")
      val names = Files.list(logDir).iterator().asScala
        .map(_.getFileName.toString).toSeq
      // the v2 layout: one <v>.checkpoint.<uuid>.json manifest, sidecars
      // under _sidecars/, and NO _last_checkpoint (discovery by listing)
      val manifest = names.filter(_.matches("\\d{20}\\.checkpoint\\.[^.]+\\.json"))
      assert(manifest.size === 1)
      assert(!names.contains("_last_checkpoint"))
      def sidecarFiles(): Seq[String] = Files.list(logDir.resolve("_sidecars"))
        .iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq // local-FS .crc shadows
      val sidecars = sidecarFiles()
      assert(sidecars.nonEmpty && sidecars.forall(_.endsWith(".parquet")))
      // idempotent: a re-run republishes nothing new
      DeltaExport.writeCheckpoint(spark, root)
      assert(sidecarFiles().size === sidecars.size)
      // cadence sees the v2 checkpoint (nothing due) and cleanup keys on it
      assert(DeltaExport.maintainCheckpoint(spark, root, every = 2) === None)
      assert(DeltaExport.cleanupLog(spark, root, retentionMs = 0L) === 3)
      // cold open: every JSON commit at/below the checkpoint is gone —
      // the snapshot must come from the manifest + ONE batched sidecar scan
      jsonCommits(root).foreach(v =>
        Files.deleteIfExists(logDir.resolve(f"$v%020d.json")))
      val snap = DeltaImport.snapshot(spark, root, None)
      assert(snap.version === 3L)
      assert(DeltaImport.read(spark, root)
        .as[(Long, String)].collect().toSet === expected)
    } finally spark.conf.unset("spark.graft.delta.checkpointPolicy")
  }

  test("v2 checkpoint at width: 50+ sidecars resolve as one batched scan") {
    val root = tmpDir("dexp-v2wide")
    // 120 single-row files via 120 appends would be slow; one append with
    // forced tiny parts gives the same checkpoint shape cheaply
    val t = GraftTable.create(spark, root,
      (1L to 120L).map(i => (i, s"s$i")).toDF("id", "s").repartition(120), Nil)
    DeltaExport.exportLog(t)
    spark.conf.set("spark.graft.delta.checkpointPolicy", "v2")
    spark.conf.set("spark.graft.delta.checkpointPartRows", "1")
    // AQE would helpfully coalesce the tiny round-robin partitions into a
    // handful of sidecars — defeat it so the fixture really is 50+ wide
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      DeltaExport.writeCheckpoint(spark, root)
      val logDir = Paths.get(root, "_delta_log")
      val sidecars = Files.list(logDir.resolve("_sidecars")).iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
      assert(sidecars >= 50, s"wanted 50+ sidecars, got $sidecars")
      jsonCommits(root).foreach(v =>
        Files.deleteIfExists(logDir.resolve(f"$v%020d.json")))
      val t0 = System.nanoTime()
      val snap = DeltaImport.snapshot(spark, root, None)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(snap.files.size >= 50)
      assert(DeltaImport.read(spark, root).count() === 120L)
      // one batched scan, not a relation per sidecar: resolution stays
      // in interactive territory even at this width
      assert(secs < 30.0, s"snapshot resolution took $secs s")
    } finally {
      spark.conf.unset("spark.graft.delta.checkpointPolicy")
      spark.conf.unset("spark.graft.delta.checkpointPartRows")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  /** Delta-reader-shaped row ids of a mirrored snapshot: per add,
    * coalesce(materialized `_graft_row_id`, baseRowId + row position),
    * minus any DV'd positions — the spec's own derivation rule. */
  private def deltaRowIds(snap: DeltaImport.Snapshot): Map[Long, Long] =
    snap.files.flatMap { f =>
      val base = f.baseRowId.getOrElse(fail(s"${f.path}: no baseRowId"))
      val dead = f.deletionVector.map(d =>
        DeltaDeletionVectors.readPositions(d, snap.tablePath,
          spark.sessionState.newHadoopConf()).toSet).getOrElse(Set.empty[Long])
      val p = DeltaImport.resolveFile(snap.tablePath, f.path).toString
      val df0 = spark.read.parquet(p)
      val matCol =
        if (df0.columns.contains("_graft_row_id")) col("_graft_row_id")
        else lit(null).cast("long")
      val rows = df0
        .select(col("k"), col("_metadata.row_index").as("pos"), matCol.as("mat"))
        .collect()
      rows.filterNot(r => dead.contains(r.getAs[Long]("pos"))).map { r =>
        val mat = if (r.isNullAt(2)) None else Some(r.getLong(2))
        r.getAs[Long]("k") -> mat.getOrElse(base + r.getAs[Long]("pos"))
      }
    }.toMap

  test("clustering declaration mirrors as delta.clustering domain metadata") {
    val root = tmpDir("dexp-cluster")
    val t = GraftTable.create(spark, root,
      (0L until 40L).map(i => (i, s"seg${i % 4}", i * 1.5)).toDF("k", "seg", "x"),
      Nil)
    t.clusterBy(Seq("seg", "x"))
    t.append((40L until 60L).map(i => (i, s"seg${i % 4}", i * 1.5))
      .toDF("k", "seg", "x"))
    t.optimize() // bare OPTIMIZE must cluster on the declaration
    DeltaExport.exportLog(t)

    val snap = DeltaImport.snapshot(spark, root)
    val proto = snap.protocol.get
    assert(proto.minWriterVersion === 7)
    assert(proto.writerFeatures.contains("clustering"))
    assert(proto.writerFeatures.contains("domainMetadata"))
    assert(!proto.readerFeatures.contains("clustering"),
      "clustering is writer-only")
    // declaration: physical name-path arrays under delta.clustering
    assert(snap.domainMetadata.get("delta.clustering")
      .contains("""{"clusteringColumns":[["seg"],["x"]]}"""))
    // the graft-namespace key never leaks into the mirror's configuration
    assert(!snap.configuration.contains("graft.clusterBy"))
    // OPTIMIZE-written adds carry the provider stamp; earlier adds do not
    val optAdds = logLines(root, 3L).flatMap(j => (j \ "add") match {
      case JNothing => Nil
      case a => Seq((a \ "clusteringProvider"))
    })
    assert(optAdds.nonEmpty &&
      optAdds.forall(_ == JString("liquidClustering")))
    assert(logLines(root, 0L).forall(j =>
      (j \ "add" \ "clusteringProvider") == JNothing))
    // CLUSTER BY NONE removes the domain; the import folds the tombstone
    t.clusterBy(Nil)
    DeltaExport.exportLog(t)
    val after = DeltaImport.snapshot(spark, root)
    assert(!after.domainMetadata.contains("delta.clustering"))
    // content round-trips through the replay at head
    assert(DeltaImport.read(spark, root).count() === 60L)
    // a clustered column rename (metadata-only) travels with the mapping
    val t2root = tmpDir("dexp-cluster-rn")
    val t2 = GraftTable.create(spark, t2root,
      (0L until 10L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t2.clusterBy(Seq("s"))
    t2.renameColumnMetadataOnly("s", "label")
    assert(t2.clusteringColumns === Seq("label"))
    DeltaExport.exportLog(t2)
    // physical name (birth-stable "s") is what the domain metadata carries
    assert(DeltaImport.snapshot(spark, t2root).domainMetadata
      .get("delta.clustering")
      .contains("""{"clusteringColumns":[["s"]]}"""))
  }

  test("row tracking exports: baseRowIds reproduce graft's derived ids") {
    val root = tmpDir("dexp-rowtrack")
    def rows(from: Long, n: Int) =
      (from until from + n).map(i => (i, i * 1.5)).toDF("k", "x")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 20),
      Map("graft.rowTracking" -> "true"))
    t.append(rows(20, 20))
    DeltaExport.exportLog(t)

    val snap = DeltaImport.snapshot(spark, root)
    val proto = snap.protocol.get
    assert(proto.minWriterVersion === 7)
    assert(proto.writerFeatures.contains("rowTracking"))
    assert(proto.writerFeatures.contains("domainMetadata"))
    assert(!proto.readerFeatures.contains("rowTracking"),
      "writer-only features must not appear in readerFeatures")
    assert(snap.configuration.get("delta.enableRowTracking").contains("true"))
    assert(snap.configuration.get(
      "delta.rowTracking.materializedRowIdColumnName").contains("_graft_row_id"))
    snap.files.foreach { f =>
      assert(f.baseRowId.isDefined && f.defaultRowCommitVersion.isDefined,
        s"${f.path} lacks row-tracking fields")
    }
    // high-water mark rides domain metadata and bounds every id
    val hwm = snap.domainMetadata.get("delta.rowTracking")
      .map(c => (JsonMethods.parse(c) \ "rowIdHighWaterMark")
        .asInstanceOf[org.json4s.JsonAST.JInt].num.toLong)
    val graftIds = t.readWithRowIds()
      .select(col("k"), col("_graft_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hwm.exists(_ >= graftIds.values.max))
    // the headline: a Delta reader derives the SAME id for every row
    assert(deltaRowIds(snap) === graftIds)
  }

  test("row tracking survives DV delete + OPTIMIZE + checkpoint cold open") {
    val root = tmpDir("dexp-rowtrack-opt")
    def rows(from: Long, n: Int) =
      (from until from + n).map(i => (i, s"s$i")).toDF("k", "s")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 30),
      Map("graft.rowTracking" -> "true"))
    t.append(rows(30, 30))
    t.deletePositional(col("k") % 5 === 0L)
    DeltaExport.exportLog(t) // DV'd adds preserve their original bases
    val graftPre = t.readWithRowIds()
      .select(col("k"), col("_graft_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deltaRowIds(DeltaImport.snapshot(spark, root)) === graftPre)

    t.optimize() // materializes ids into the rewritten files
    DeltaExport.exportLog(t)
    val graftIds = t.readWithRowIds()
      .select(col("k"), col("_graft_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(graftIds === graftPre)
    assert(deltaRowIds(DeltaImport.snapshot(spark, root)) === graftIds)

    // checkpoint carries baseRowIds AND the domain high-water mark; a
    // cold open (all covered JSON deleted) must lose neither
    DeltaExport.writeCheckpoint(spark, root)
    DeltaExport.cleanupLog(spark, root, retentionMs = 0L)
    val cold = DeltaImport.snapshot(spark, root)
    assert(cold.domainMetadata.contains("delta.rowTracking"))
    assert(deltaRowIds(cold) === graftIds)
  }

  test("mirror DV export is descriptor-sized at the driver (broad delete)") {
    // A 50% positional delete on a SINGLE-FILE table: 100k positions. The
    // pre-r11 export collected them all in one task result (~800 KB of
    // longs); the distributed build returns one ~100-byte descriptor, the
    // bitmap bytes going straight to a DV file from the task. The max
    // single-task resultSize observed during exportLog is the regression
    // tripwire — a reintroduced position collect blows the bound.
    val root = tmpDir("dexp-dv-payload")
    val t = GraftTable.create(spark, root,
      spark.range(200000L).select(col("id").as("k"),
        (col("id") % 97).as("v")).coalesce(1), Nil)
    t.deletePositional(col("k") % 2 === 0L)

    val maxResult = new java.util.concurrent.atomic.AtomicLong(0L)
    val marker = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) maxResult.getAndAccumulate(m.resultSize, math.max)
        marker.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DeltaExport.exportLog(t)
      // The listener bus is async: run a marker job, then wait until the
      // event counter goes quiet — every export task event (and the
      // marker's) has then been processed.
      spark.range(1L).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1L
      var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        val cur = marker.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100)
      }
      assert(marker.get() > 0, "listener saw no task events")
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(maxResult.get() < 128 * 1024,
      s"export returned ${maxResult.get()} bytes in one task result — " +
        "positions are reaching the driver again")
    val snap = DeltaImport.snapshot(spark, root)
    assert(snap.files.flatMap(_.deletionVector).map(_.cardinality).sum
      === 100000L)
    assert(DeltaImport.read(spark, root).count() === 100000L)
  }
}
