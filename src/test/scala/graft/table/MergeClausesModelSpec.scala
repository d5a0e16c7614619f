package graft.table

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{DeltaExport, DeltaImport}

/** Model-based randomized check of the general MERGE — every writer of
  * the shared clause algebra: [[GraftTable.mergeClausesOn]],
  * [[GraftTable.mergeClausesPositional]] (without the NMBS clause) and the
  * foreign clause merge on DV and DV-less Delta tables. For random
  * target/source states and a
  * clause set exercising every branch kind, the committed snapshot must
  * equal a row-by-row Scala evaluation of Delta's clause semantics
  * (first-true clause per branch; unclaimed target rows carry, unclaimed
  * source rows drop). Deterministic seeds — failures replay exactly. */
class MergeClausesModelSpec extends SparkSpec {

  private type T = (Long, String, Double)          // (id, s, v)
  private type S = (Long, String, Double, String)   // (id, s, v, op)

  /** The clause set under test, fixed in structure:
    *   WHEN MATCHED AND s.op = 'd'      THEN DELETE
    *   WHEN MATCHED AND t.v < uThresh   THEN UPDATE SET v = t.v + s.v
    *   WHEN MATCHED                     THEN UPDATE SET s = s.s
    *   WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (id, s, v)
    *   WHEN NOT MATCHED BY SOURCE AND t.v > dThresh THEN DELETE
    * The positional MERGE takes no NOT MATCHED BY SOURCE clause, so its
    * model (`nmbs = false`) keeps every unmatched target row.
    */
  private def model(target: Seq[T], source: Seq[S],
      uThresh: Double, dThresh: Double, nmbs: Boolean): Set[(Long, String, Double)] = {
    val byKey = source.map(r => r._1 -> r).toMap // source unique per key
    val kept = target.flatMap { case (id, ts, tv) =>
      byKey.get(id) match {
        case Some((_, ss, sv, op)) =>
          if (op == "d") None // matched delete
          else if (tv < uThresh) Some((id, ts, tv + sv))
          else Some((id, ss, tv))
        case None =>
          if (nmbs && tv > dThresh) None // NMBS delete
          else Some((id, ts, tv))
      }
    }
    val targetKeys = target.map(_._1).toSet
    val inserted = source.collect {
      case (id, ss, sv, op) if !targetKeys.contains(id) && op != "d" => (id, ss, sv)
    }
    (kept ++ inserted).toSet
  }

  private type Rows = Set[(Long, String, Double)]
  /** A MERGE writer under test: applies the clauses to a fresh table at
    * `root` holding `target` and returns its snapshot and the MERGE's CDF
    * counts per change type (empty when it published nothing). */
  private type Writer = (String, DataFrame, DataFrame, Seq[MergeClause],
    Seq[MergeClause], Seq[MergeClause]) => (Rows, Map[String, Long])

  private def rowsOf(df: DataFrame): Rows = df.collect().map(r =>
    (r.getAs[Long]("id"), r.getAs[String]("s"), r.getAs[Double]("v"))).toSet
  private def countsOf(ch: DataFrame): Map[String, Long] =
    ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The rewrite ([[GraftTable.mergeClausesOn]]) or the positional MERGE
    * ([[GraftTable.mergeClausesPositional]], which takes no NMBS clause). */
  private def native(positional: Boolean): Writer = {
    (root, target, src, matched, notMatched, bySource) =>
      val t = GraftTable.create(spark, root, target)
      val before = t.version
      if (positional) t.mergeClausesPositional(src, Seq("id"), onExtra = None,
        matched = matched, notMatched = notMatched)
      else t.mergeClausesOn(src, Seq("id"), onExtra = None, matched = matched,
        notMatched = notMatched, notMatchedBySource = bySource)
      (rowsOf(t.read()),
        if (t.version == before) Map.empty
        else countsOf(t.readChanges(t.version, t.version)))
  }

  /** The foreign clause merge ([[DeltaExport.mergeForeignClauses]]) into a
    * Delta table graft does not govern: a graft table exported and its own
    * log retired. With `dv` a deleted sentinel row makes the table
    * advertise deletion vectors; without, claims take the rewrite
    * fallback. */
  private def foreign(dv: Boolean): Writer = {
    (root, target, src, matched, notMatched, bySource) =>
      import spark.implicits._
      val t = GraftTable.create(spark, root,
        if (dv) target.unionByName(Seq((-1L, "sentinel", 0.0)).toDF("id", "s", "v"))
        else target)
      if (dv) t.deletePositional(col("id") === -1L)
      DeltaExport.exportLog(t)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(root, "_graft_log"), true)
      assert(DeltaImport.snapshot(spark, root).protocol.exists(
        _.writerFeatures.contains("deletionVectors")) === dv)
      val before = DeltaImport.latestVersion(spark, root)
      val (v, _, _, _) = DeltaExport.mergeForeignClauses(spark, root, src, Seq("id"),
        matched = matched, notMatched = notMatched, notMatchedBySource = bySource)
      (rowsOf(DeltaImport.read(spark, root)),
        if (v == before) Map.empty
        else countsOf(DeltaImport.readChanges(spark, root, v, v)))
  }

  /** Seeds 1–5 through `writer`, with the NMBS clause when `nmbs` (all
    * five clauses) or without it (the four the positional MERGE takes):
    * snapshot and CDF counts must match the model. */
  private def checkSeeds(name: String, writer: Writer, nmbs: Boolean): Unit = {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val target = (0L to 20L).filter(_ => rnd.nextBoolean()).map(i =>
        (i, s"t$i", math.floor(rnd.nextDouble() * 100) / 1.0))
      val source = (0L to 25L).filter(_ => rnd.nextBoolean()).map(i =>
        (i, s"s$i", math.floor(rnd.nextDouble() * 100) / 1.0,
          Seq("d", "u", "c")(rnd.nextInt(3))))
      if (target.nonEmpty) {
        val uThresh = rnd.nextInt(100).toDouble
        val dThresh = rnd.nextInt(100).toDouble
        val matched = Seq(
          MergeClause.Delete(Some(col("s.op") === "d")),
          MergeClause.Update(Map("v" -> (col("t.v") + col("s.v"))),
            Some(col("t.v") < uThresh)),
          MergeClause.Update(Map("s" -> col("s.s"))))
        val notMatched = Seq(
          MergeClause.Insert(Map("id" -> col("s.id"), "s" -> col("s.s"),
            "v" -> col("s.v")), Some(col("s.op") =!= "d")))
        val bySource =
          if (nmbs) Seq(MergeClause.Delete(Some(col("t.v") > dThresh))) else Nil
        val (got, ch) = writer(tmpDir(s"mc-model-$name-$seed"),
          target.toDF("id", "s", "v"), source.toDF("id", "s", "v", "op"),
          matched, notMatched, bySource)
        val want = model(target, source, uThresh, dThresh, nmbs)
        assert(got === want,
          s"seed=$seed writer=$name uThresh=$uThresh dThresh=$dThresh\n" +
            s"target=$target\nsource=$source\n" +
            s"missing=${want -- got}\nextra=${got -- want}")
        // CDF account: inserts + deletes + update pairs partition the diff
        val targetKeys = target.map(_._1).toSet
        val srcByKey = source.map(r => r._1 -> r).toMap
        val expDel = target.count(t0 => srcByKey.get(t0._1).exists(_._4 == "d")) +
          (if (nmbs) target.count(t0 => !srcByKey.contains(t0._1) && t0._3 > dThresh)
          else 0)
        val expIns = source.count(s0 => !targetKeys.contains(s0._1) && s0._4 != "d")
        val expUpd = target.count(t0 => srcByKey.get(t0._1).exists(_._4 != "d"))
        assert(ch.getOrElse("delete", 0L) === expDel.toLong, s"seed=$seed writer=$name")
        assert(ch.getOrElse("insert", 0L) === expIns.toLong, s"seed=$seed writer=$name")
        assert(ch.getOrElse("update_postimage", 0L) === expUpd.toLong,
          s"seed=$seed writer=$name")
        assert(ch.getOrElse("update_preimage", 0L) === expUpd.toLong,
          s"seed=$seed writer=$name")
      }
    }
  }

  test("random states: engine snapshot equals the Scala clause model") {
    checkSeeds("rewrite", native(positional = false), nmbs = true)
  }

  test("random states: the positional MERGE equals the clause model without NMBS") {
    checkSeeds("positional", native(positional = true), nmbs = false)
  }

  test("random states: the foreign clause merge equals the clause model " +
      "(deletion vectors)") {
    checkSeeds("foreign-dv", foreign(dv = true), nmbs = true)
  }

  test("random states: the foreign clause merge equals the clause model " +
      "(rewrite fallback, no deletion vectors)") {
    checkSeeds("foreign-nodv", foreign(dv = false), nmbs = true)
  }
}
