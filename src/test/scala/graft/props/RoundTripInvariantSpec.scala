package graft.props

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.analytics.CorpusQueries
import graft.dedup.Dedup
import graft.sources.{DeltaExport, DeltaImport}
import graft.table.GraftTable

/** Seeded randomized invariants for the round's two strongest claims:
  *  - the PPJoin prefix + positional candidate filters are LOSSLESS —
  *    the filtered pipeline must equal an exhaustive all-pairs jaccard
  *    over the same shingle definition, at any threshold;
  *  - the Delta export bridge is a faithful mirror under ARBITRARY op
  *    sequences (append / rewrite-delete / DV-delete / DV-update /
  *    merge / optimize): the exported log re-read through
  *    [[DeltaImport]] equals the graft snapshot at EVERY version.
  */
class RoundTripInvariantSpec extends SparkSpec {
  import spark.implicits._

  test("PPJoin prefix+positional filters are lossless vs exhaustive jaccard") {
    val rnd = new Random(77)
    for (trial <- 1 to 3) {
      val vocabN = 8 + rnd.nextInt(8)
      val vocab = (0 until vocabN).map(i => s"w$i")
      val docs = (1L to 40L).map { i =>
        val len = 5 + rnd.nextInt(30)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val t = Seq(0.6, 0.7, 0.8)(rnd.nextInt(3))

      val got = Dedup.ngramJaccardPairs(docs, n = 3, threshold = t)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet

      // exhaustive all-pairs over the SAME shingle definition — no
      // prefix filter, no positional filter, no candidate generation
      val sets = Dedup.docShingleSets(docs, 3)
      val a = sets.select(col("doc_id").as("a_id"), col("shset").as("a_set"))
      val b = sets.select(col("doc_id").as("b_id"), col("shset").as("b_set"))
      val expected = a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .withColumn("common", org.apache.spark.sql.graftnative.TextExpressions
          .sortedIntersectCount(col("a_set"), col("b_set")))
        .withColumn("j", col("common").cast("double")
          / (size(col("a_set")) + size(col("b_set")) - col("common")))
        .filter(col("j") >= t)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet

      assert(got === expected, s"trial $trial threshold $t")
    }
  }

  test("CDF conservation: each version's feed transforms snapshot v-1 into v") {
    val rnd = new Random(411)
    for (trial <- 1 to 2) {
      val root = tmpDir(s"cdf-inv-$trial")
      var next = 100L
      val t = GraftTable.create(spark, root,
        (1L to 20L).map(i => (i, rnd.nextInt(10))).toDF("id", "v"))
      (1 to 5).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 =>
            t.append((next to next + 9L).map(i => (i, rnd.nextInt(10)))
              .toDF("id", "v"))
            next += 10
          case 1 => t.delete(col("v") === rnd.nextInt(10))
          case 2 => t.deletePositional(col("v") === rnd.nextInt(10))
          case 3 =>
            val keys = (1L to next).filter(_ => rnd.nextInt(20) == 0).take(8)
            if (keys.nonEmpty)
              t.merge(keys.map(k => (k, 100 + rnd.nextInt(10))).toDF("id", "v"), "id")
          case 4 => t.optimize()
          case 5 => t.updatePositional(col("v") === rnd.nextInt(10), Map("v" -> (col("v") + 100)))
        }
      }
      DeltaExport.exportLog(t)

      def multiset(rows: Seq[(Long, Int)]): Map[(Long, Int), Int] =
        rows.groupBy(identity).view.mapValues(_.size).toMap
      def applyChanges(prev: Map[(Long, Int), Int],
          changes: Seq[((Long, Int), String)]): Map[(Long, Int), Int] =
        changes.foldLeft(prev) { case (m, (row, ct)) =>
          ct match {
            case "insert" | "update_postimage" =>
              m + (row -> (m.getOrElse(row, 0) + 1))
            case "delete" | "update_preimage" =>
              val n = m.getOrElse(row, 0) - 1
              if (n <= 0) m - row else m + (row -> n)
            case other => fail(s"unknown change type $other"); m
          }
        }
      def graftChanges(v: Long): Seq[((Long, Int), String)] =
        try t.readChanges(v, v)
          .select(col("id"), col("v"), col("_change_type"))
          .as[(Long, Int, String)].collect().toSeq
          .map { case (i, x, ct) => ((i, x), ct) }
        catch { case _: NoSuchElementException => Nil }
      def deltaChanges(v: Long): Seq[((Long, Int), String)] =
        try DeltaImport.readChanges(spark, root, v, v)
          .select(col("id"), col("v"), col("_change_type"))
          .as[(Long, Int, String)].collect().toSeq
          .map { case (i, x, ct) => ((i, x), ct) }
        catch { case _: NoSuchElementException => Nil }

      for (v <- 1L to t.version) {
        val prev = multiset(t.readVersion(v - 1).as[(Long, Int)].collect().toSeq)
        val cur = multiset(t.readVersion(v).as[(Long, Int)].collect().toSeq)
        assert(applyChanges(prev, graftChanges(v)) === cur,
          s"trial $trial graft CDF does not conserve at version $v")
        assert(applyChanges(prev, deltaChanges(v)) === cur,
          s"trial $trial exported Delta CDF does not conserve at version $v")
      }
    }
  }

  test("Delta export mirrors random op sequences exactly, at every version") {
    val rnd = new Random(99)
    for (trial <- 1 to 3) {
      val root = tmpDir(s"rt-inv-$trial")
      var next = 100L
      var renames = 0
      val t = GraftTable.create(spark, root,
        (1L to 20L).map(i => (i, rnd.nextInt(10))).toDF("id", "v"))
      // the value column's CURRENT logical name (metadata-only renames
      // move it; every op below must speak the name of its moment)
      def vcol: String = t.read().columns(1)
      (1 to 7).foreach { _ =>
        rnd.nextInt(7) match {
          case 0 =>
            t.append((next to next + 9L).map(i => (i, rnd.nextInt(10)))
              .toDF("id", vcol))
            next += 10
          case 1 => t.delete(col(vcol) === rnd.nextInt(10))
          case 2 => t.deletePositional(col(vcol) === rnd.nextInt(10))
          case 3 => t.updatePositional(col(vcol) === rnd.nextInt(10), Map(vcol -> (col(vcol) + 100)))
          case 4 =>
            val keys = (1L to next).filter(_ => rnd.nextInt(20) == 0).take(8)
            if (keys.nonEmpty)
              t.merge(keys.map(k => (k, 100 + rnd.nextInt(10))).toDF("id", vcol), "id")
          case 5 => t.optimize()
          case 6 =>
            renames += 1
            t.renameColumnMetadataOnly(vcol, s"v_$renames")
        }
      }
      DeltaExport.exportLog(t)
      for (v <- 0L to t.version) {
        val viaDelta = DeltaImport.read(spark, root, versionAsOf = Some(v))
        val viaGraft = t.readVersion(v)
        // per-version schema agrees (renames included), values match
        assert(viaDelta.columns.toSeq === viaGraft.columns.toSeq,
          s"trial $trial version $v schema")
        assert(viaDelta.as[(Long, Int)].collect().toSet ===
          viaGraft.as[(Long, Int)].collect().toSet, s"trial $trial version $v")
      }
    }
  }

  test("source overlap + novelty match set algebra on random corpora") {
    val rnd = new Random(4242)
    def md5b32(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    for (trial <- 1 to 3) {
      val vocab = (0 until 6 + rnd.nextInt(6)).map(i => s"w$i")
      // random docs, including sub-shingle-length ones (0-2 tokens)
      var rows = (1L to 30L).map { i =>
        val len = rnd.nextInt(20)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
          s"src${rnd.nextInt(3)}")
      }
      // plant a MIRROR (clone of src0 under a new name) and a SUBSET
      // (half of src1's docs) — the relationships the matrix must flag
      val base = rows.filter(_._3 == "src0")
      rows ++= base.zipWithIndex.map { case ((_, t, _), j) =>
        (100L + j, t, "srcMirror")
      }
      val sub = rows.filter(_._3 == "src1")
      rows ++= sub.take((sub.size + 1) / 2).zipWithIndex.map { case ((_, t, _), j) =>
        (200L + j, t, "srcSub")
      }
      val docs = rows.toDF("doc_id", "text", "source")

      def gramsOf(t: String): Set[String] = {
        val toks = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
        if (toks.size < 3) Set.empty
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val bySource = rows.groupBy(_._3)
        .map { case (s, xs) => s -> xs.flatMap(x => gramsOf(x._2)).toSet }
        .filter(_._2.nonEmpty)

      // --- overlap matrix vs set algebra
      val got = CorpusQueries.sourceOverlap(docs).collect().map { r =>
        (r.getString(0), r.getString(1)) -> (r.getLong(4), r.getDouble(5), r.getDouble(6))
      }.toMap
      val expectedPairs = for {
        a <- bySource.keys; b <- bySource.keys if a < b
        inter = (bySource(a) & bySource(b)).size if inter > 0
      } yield (a, b)
      assert(got.keySet === expectedPairs.toSet, s"trial $trial pair set")
      got.foreach { case ((a, b), (shared, jac, cont)) =>
        val (sa, sb) = (bySource(a), bySource(b))
        val inter = (sa & sb).size.toLong
        assert(shared === inter, s"trial $trial $a-$b shared")
        assert(jac === inter.toDouble / (sa.size + sb.size - inter))
        assert(cont === inter.toDouble / math.min(sa.size, sb.size))
      }
      // the planted mirror is flagged at jaccard 1; the subset at containment 1
      if (bySource.contains("src0") && bySource.contains("srcMirror")) {
        val m = got(("src0", "srcMirror"))
        assert(m._2 === 1.0 && m._3 === 1.0, s"trial $trial mirror")
      }
      if (bySource.contains("src1") && bySource.contains("srcSub")) {
        val s = got(("src1", "srcSub"))
        assert(s._3 === 1.0, s"trial $trial subset containment")
      }

      // --- novelty conservation + first-carrier correctness
      val nov = CorpusQueries.ngramNovelty(docs).collect().map { r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2))
      }.toMap
      val withGrams = rows.map(x => (x._1, gramsOf(x._2))).filter(_._2.nonEmpty)
      assert(nov.keySet === withGrams.map(_._1).toSet, s"trial $trial doc set")
      val allGrams = withGrams.flatMap(_._2).toSet
      assert(nov.values.map(_._1).sum === allGrams.size.toLong,
        s"trial $trial conservation")
      val firstCarrier = allGrams.map { g =>
        g -> withGrams.filter(_._2.contains(g)).map(_._1)
          .minBy(id => (md5b32(id), id))
      }.toMap
      withGrams.foreach { case (id, grams) =>
        assert(nov(id)._1 === grams.count(firstCarrier(_) == id).toLong,
          s"trial $trial novel of $id")
        assert(nov(id)._2 === grams.size.toLong)
      }
    }
  }
}
