package graft.table

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Model-based randomized check of the general MERGE
  * ([[GraftTable.mergeClausesOn]], and [[GraftTable.mergeClausesPositional]]
  * without the NMBS clause): for random target/source states and a
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

  /** Seeds 1–5 through the rewrite (`positional = false`, all five
    * clauses) or the positional MERGE (the four without NMBS): snapshot
    * and CDF counts must match the model. */
  private def checkSeeds(positional: Boolean): Unit = {
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
        val root = tmpDir(s"mc-model-$seed")
        val t = GraftTable.create(spark, root, target.toDF("id", "s", "v"))
        val src = source.toDF("id", "s", "v", "op")
        val matched = Seq(
          MergeClause.Delete(Some(col("s.op") === "d")),
          MergeClause.Update(Map("v" -> (col("t.v") + col("s.v"))),
            Some(col("t.v") < uThresh)),
          MergeClause.Update(Map("s" -> col("s.s"))))
        val notMatched = Seq(
          MergeClause.Insert(Map("id" -> col("s.id"), "s" -> col("s.s"),
            "v" -> col("s.v")), Some(col("s.op") =!= "d")))
        val before = t.version
        if (positional) t.mergeClausesPositional(src, Seq("id"), onExtra = None,
          matched = matched, notMatched = notMatched)
        else t.mergeClausesOn(src, Seq("id"), onExtra = None,
          matched = matched, notMatched = notMatched,
          notMatchedBySource = Seq(MergeClause.Delete(Some(col("t.v") > dThresh))))
        val got = t.read().collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        val want = model(target, source, uThresh, dThresh, nmbs = !positional)
        assert(got === want,
          s"seed=$seed positional=$positional uThresh=$uThresh dThresh=$dThresh\n" +
            s"target=$target\nsource=$source\n" +
            s"missing=${want -- got}\nextra=${got -- want}")
        // CDF account: inserts + deletes + update pairs partition the diff
        val ch =
          if (t.version == before) Map.empty[String, Long] // nothing published
          else t.readChanges(t.version, t.version)
            .groupBy("_change_type").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        val targetKeys = target.map(_._1).toSet
        val srcByKey = source.map(r => r._1 -> r).toMap
        val expDel = target.count(t0 => srcByKey.get(t0._1).exists(_._4 == "d")) +
          (if (positional) 0
          else target.count(t0 => !srcByKey.contains(t0._1) && t0._3 > dThresh))
        val expIns = source.count(s0 => !targetKeys.contains(s0._1) && s0._4 != "d")
        val expUpd = target.count(t0 => srcByKey.get(t0._1).exists(_._4 != "d"))
        assert(ch.getOrElse("delete", 0L) === expDel.toLong)
        assert(ch.getOrElse("insert", 0L) === expIns.toLong)
        assert(ch.getOrElse("update_postimage", 0L) === expUpd.toLong)
        assert(ch.getOrElse("update_preimage", 0L) === expUpd.toLong)
      }
    }
  }

  test("random states: engine snapshot equals the Scala clause model") {
    checkSeeds(positional = false)
  }

  test("random states: the positional MERGE equals the clause model without NMBS") {
    checkSeeds(positional = true)
  }
}
