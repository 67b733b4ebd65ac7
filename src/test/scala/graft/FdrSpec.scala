package graft

import graft.fdr.{CombinedFdr, ProteinInference, TargetDecoy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FdrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- A14 target-decoy q-values ----

  test("q-values match hand-computed target-decoy case") {
    // best-first (score desc): T(10) T(9) D(8) T(7) D(6) T(5)
    // fdr = cumD/max(cumT,1):  0/1  0/2  1/2  1/3  2/3  2/4
    // q (suffix min of fdr):   0    0    1/3  1/3  1/2  1/2
    val df = Seq(
      (1L, 10.0, false), (2L, 9.0, false), (3L, 8.0, true),
      (4L, 7.0, false), (5L, 6.0, true), (6L, 5.0, false),
    ).toDF("id", "score", "decoy")
    val got = TargetDecoy
      .withQValues(df, Seq.empty, col("score"), col("decoy"), col("id"))
      .orderBy(col("score").desc)
      .select(col("fdr"), col("q_value"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val want = Seq(
      (0.0, 0.0), (0.0, 0.0), (0.5, 1.0 / 3), (1.0 / 3, 1.0 / 3), (2.0 / 3, 0.5), (0.5, 0.5))
    got.zip(want).foreach { case ((f, q), (wf, wq)) =>
      assert(math.abs(f - wf) < 1e-12 && math.abs(q - wq) < 1e-12, s"got=$got")
    }
  }

  test("q-values are monotone non-increasing as score improves") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextInt(4) == 0))
    val df = rows.toDF("id", "score", "decoy")
    val qs = TargetDecoy
      .withQValues(df, Seq.empty, col("score"), col("decoy"), col("id"))
      .orderBy(col("score").desc, col("id"))
      .select(col("q_value")).collect().map(_.getDouble(0))
    qs.sliding(2).foreach { case Array(a, b) => assert(a <= b + 1e-15) }
  }

  test("per-assay partitioning computes independent q-values") {
    val df = Seq(
      ("a", 1L, 10.0, false), ("a", 2L, 9.0, true),
      ("b", 3L, 10.0, true), ("b", 4L, 9.0, false),
    ).toDF("assay", "id", "score", "decoy")
    val got = TargetDecoy
      .withQValues(df, Seq(col("assay")), col("score"), col("decoy"), col("id"))
      .orderBy(col("assay"), col("id"))
      .select(col("q_value")).collect().map(_.getDouble(0)).toSeq
    // assay a: T then D -> fdr 0, 1/1=1 -> q 0,1 ; assay b: D first -> fdr 1/1=1, 1/1 -> q 1,1
    assert(got == Seq(0.0, 1.0, 1.0, 1.0))
  }

  // ---- P9 q-value repair ----

  test("repairZeroQValues: zero becomes min-positive/10 rounded to 6dp") {
    val df = Seq(0.0, 0.0321, 0.07).toDF("q")
    val got = TargetDecoy.repairZeroQValues(df, col("q"), Seq.empty, "r")
      .orderBy(col("q")).select(col("r")).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.00321, 0.0321, 0.07))
  }

  test("repairZeroQValues: all-zero group yields NaN") {
    val df = Seq(0.0, 0.0).toDF("q")
    val got = TargetDecoy.repairZeroQValues(df, col("q"), Seq.empty, "r")
      .select(col("r")).collect().map(_.getDouble(0))
    assert(got.forall(_.isNaN))
  }

  test("repairZeroQValues: NULL q stays NULL (never fabricated)") {
    val df = Seq(Some(0.0), Some(0.05), None).toDF("q")
    val got = TargetDecoy.repairZeroQValues(df, col("q"), Seq.empty, "r")
      .select(col("q"), col("r")).collect()
    val byQ = got.map(r => Option(r.get(0)) -> r).toMap
    assert(byQ(Some(0.0)).getDouble(1) == 0.005)
    assert(byQ(Some(0.05)).getDouble(1) == 0.05)
    assert(byQ(None).isNullAt(1), got.mkString(","))
  }

  // ---- A15 protein inference ----

  test("occamsRazor: null peptide/protein pairs are dropped, not a crash") {
    val pairs = Seq(
      ("x", "pepA", "P1"),
      ("x", null, "P2"), // protein with ONLY null peptides -> dropped
      ("x", "pepB", null), // null protein -> dropped
    ).toDF("assay", "peptide", "protein")
    val got = ProteinInference.occamsRazor(pairs)
      .select(col("accession")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("P1"), got.toString)
  }

  test("occamsRazor: same-set collapse, subset elimination, greedy cover") {
    // P1 covers {pepA,pepB}; P2 identical set (same-set); P3 = {pepA} (subset);
    // P4 covers {pepC} (independent representative).
    val pairs = Seq(
      ("x", "pepA", "P1"), ("x", "pepB", "P1"),
      ("x", "pepA", "P2"), ("x", "pepB", "P2"),
      ("x", "pepA", "P3"),
      ("x", "pepC", "P4"),
    ).toDF("assay", "peptide", "protein")
    val got = ProteinInference.occamsRazor(pairs)
      .orderBy(col("accession"))
      .select(col("accession"), col("anchorProtein"), col("memberType"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("P1", "P1", "representative"),
      ("P2", "P1", "sameset"),
      ("P3", "P1", "subset"),
      ("P4", "P4", "representative"),
    ))
  }

  test("inferenceCategories: unique-peptide proteins are distinguishable") {
    val pairs = Seq(
      ("x", "pep1", "A"), // pep1 only in A -> A distinguishable
      ("x", "pep2", "A"), ("x", "pep2", "B"), // shared
      ("x", "pep3", "B"), ("x", "pep3", "C"),
    ).toDF("assay", "peptide", "protein")
    val got = ProteinInference.inferenceCategories(pairs)
      .orderBy(col("protein"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("A", "distinguishable"), ("B", "indistinguishable"), ("C", "indistinguishable")))
  }

  test("inferenceCategories: null peptide/protein rows carry no evidence") {
    val pairs = Seq(
      ("x", "pep2", "A"), ("x", "pep2", "B"), // shared -> both indistinguishable
      ("x", null, "B"),                        // null peptide must NOT distinguish B
      ("x", "pep9", null),                     // null protein must NOT appear in output
    ).toDF("assay", "peptide", "protein")
    val got = ProteinInference.inferenceCategories(pairs)
      .orderBy(col("protein"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("A", "indistinguishable"), ("B", "indistinguishable")))
  }

  test("null scores rank worst, not best, in lower-is-better mode (both forms)") {
    // e-value mode: nulls must NOT take rank 1 / fdr 0
    val df = Seq(
      (1L, Some(0.001), false), (2L, None, false), (3L, Some(0.02), true),
      (4L, None, true), (5L, Some(0.5), false),
    ).toDF("id", "score", "decoy")
    def firstRanked(got: org.apache.spark.sql.DataFrame): Long =
      got.filter(col("cum_decoys") + col("cum_targets") === 1)
        .select(col("id")).collect().head.getLong(0)
    val win = TargetDecoy.withQValues(df, Seq.empty, col("score"), col("decoy"),
      col("id"), lowerIsBetter = true)
    assert(firstRanked(win) == 1L) // best real score, not a null row
    // the pipeline's sweep ranks the same way: its q is the window's,
    // zero-repaired, nulls included
    val a = TargetDecoy.repairZeroQValues(win, col("q_value"), Seq.empty, "q")
      .orderBy(col("id")).select(col("id"), col("q")).collect().map(_.toSeq).toSeq
    val b = TargetDecoy.withSweptQAndFdrScore(df, "id", col("score"), col("decoy"),
      lowerIsBetter = true)
      .orderBy(col("id")).select(col("id"), col("q")).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("repairZeroQValuesAll matches nested single-column repairs") {
    val df = Seq(
      (1L, 0.0, 0.0), (2L, 0.02, 0.001), (3L, 0.5, 0.0), (4L, 0.0, 0.3),
    ).toDF("id", "q", "f")
    val nested = TargetDecoy.repairZeroQValues(
      TargetDecoy.repairZeroQValues(df, col("q"), Seq.empty, "q_r"),
      col("f"), Seq.empty, "f_r")
      .orderBy(col("id")).select(col("q_r"), col("f_r"))
      .collect().map(_.toSeq).toSeq
    val combined = TargetDecoy.repairZeroQValuesAll(df,
      Seq(col("q") -> "q_r", col("f") -> "f_r"))
      .orderBy(col("id")).select(col("q_r"), col("f_r"))
      .collect().map(_.toSeq).toSeq
    assert(combined == nested)
  }

  // ---- one-sweep PSM FDR (the index pipeline's window path) ----

  /** Seeded assay of `n` PSMs: scores tie (whole numbers), and are
    * sometimes NULL or NaN; decoy flags are sometimes NULL. */
  private def randomAssay(seed: Int, n: Int, decoyRate: Double): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val score = rnd.nextInt(20) match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case _ => Some(math.floor(rnd.nextDouble() * 25))
      }
      val decoy = if (rnd.nextInt(15) == 0) None else Some(rnd.nextDouble() < decoyRate)
      (s"p$i", score, decoy)
    }
    rows.toDF("id", "score", "decoy").repartition(3)
  }

  /** (id, q, fdrScore) sorted by id, doubles as bits (NaN equals NaN). */
  private def qAndFdrScoreBits(df: DataFrame): Seq[(Option[String], Long, Long)] =
    df.select(col("id"), col("q"), col("fdrScore")).collect().toSeq
      .map(r => (Option(r.getString(0)), java.lang.Double.doubleToLongBits(r.getDouble(1)),
        java.lang.Double.doubleToLongBits(r.getDouble(2))))
      .sortBy(_._1)

  test("withSweptQAndFdrScore is bit-identical to withQValues -> withFdrScoreFromCounts -> repairZeroQValuesAll") {
    val nullKey = Seq[(String, Option[Double], Option[Boolean])]((null, Some(3.0), Some(false)))
      .toDF("id", "score", "decoy")
    val assays = Seq(
      "mixed" -> randomAssay(1, 300, 0.2).unionByName(nullKey),
      "few decoys" -> randomAssay(2, 250, 0.03),
      "no decoys" -> randomAssay(3, 120, 0.0),
      "all decoys" -> randomAssay(4, 120, 1.0).na.fill(true, Seq("decoy")),
      "one row" -> randomAssay(5, 1, 0.5),
      "zero rows" -> randomAssay(6, 0, 0.5),
    )
    for ((name, df) <- assays; lowerIsBetter <- Seq(false, true)) {
      val scored = TargetDecoy.withQValues(
        df, Seq.empty, col("score"), col("decoy"), col("id"), lowerIsBetter)
      val oracle = TargetDecoy.repairZeroQValuesAll(
        CombinedFdr.withFdrScoreFromCounts(scored, col("decoy")),
        Seq(col("q_value") -> "q", col("fdr_score") -> "fdrScore"))
      val swept = TargetDecoy.withSweptQAndFdrScore(
        df, "id", col("score"), col("decoy"), lowerIsBetter)
      val want = qAndFdrScoreBits(oracle)
      assert(qAndFdrScoreBits(swept) == want, s"$name, lowerIsBetter=$lowerIsBetter")
      assert(swept.columns.toSeq == df.columns.toSeq ++ Seq("q", "fdrScore"))
      if (name == "no decoys") // no positive q: the repair gives NaN
        assert(want.nonEmpty && want.forall(_._2 == java.lang.Double.doubleToLongBits(Double.NaN)))
    }
  }
}
