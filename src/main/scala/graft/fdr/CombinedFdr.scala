package graft.fdr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Combined FDR Score (SURVEY.md §7.4 hard part #2; re-derivation of the
  * published multi-search-engine FDR method of Jones et al. 2009, as used
  * by PIA's `calculateCombinedFDRScore`, PIAModelerService.java:75-76).
  *
  * Two stages, both window transformations:
  *
  *  1. **FDR Score** per engine: the step-shaped q-value (flat between
  *     decoy observations) is linearly interpolated over rank between
  *     successive decoy steps, giving every PSM a strictly ordered,
  *     tie-free error estimate within its engine.
  *  2. **Combined FDR Score**: PSMs are grouped by (spectrum, peptide);
  *     the per-engine FDR scores multiply (engines agreeing on an
  *     identification reinforce it); each distinct engine-combination
  *     group then gets its own target-decoy q-value over the product
  *     score, so evidence from "seen by both engines" is calibrated
  *     separately from "seen by engine A only".
  */
object CombinedFdr {

  /** Stage 1 — adds `fdr_score`: the rank-interpolated q-value.
    *
    * Between two decoy-step rows at ranks r0 < r1 with q-values q0 <= q1,
    * a PSM at rank r gets `q0 + (r - r0) * (q1 - q0) / (r1 - r0)`; before
    * the first step it interpolates from (0, 0); after the last step it
    * keeps its q-value. */
  def withFdrScore(
      df: DataFrame,
      partitionBy: Seq[Column],
      score: Column,
      isDecoy: Column,
      tieBreak: Column,
      lowerIsBetter: Boolean = false,
  ): DataFrame = {
    val qd = TargetDecoy.withQValues(df, partitionBy, score, isDecoy, tieBreak, lowerIsBetter)
    // null-symmetric ordering, identical to TargetDecoy.withQValues
    val bestFirst =
      if (lowerIsBetter) Seq(score.asc_nulls_last, tieBreak.asc)
      else Seq(score.desc, tieBreak.asc)
    val w = Window.partitionBy(partitionBy: _*).orderBy(bestFirst: _*)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    val rn = row_number().over(w)
    val decoyRn = when(isDecoy, rn)
    val decoyQ = when(isDecoy, col("q_value"))

    qd.withColumn("_rn", rn)
      .withColumn("_r0", coalesce(last(decoyRn, ignoreNulls = true).over(wPrev), lit(0)))
      .withColumn("_q0", coalesce(last(decoyQ, ignoreNulls = true).over(wPrev), lit(0.0)))
      .withColumn("_r1", first(decoyRn, ignoreNulls = true).over(wNext))
      .withColumn("_q1", first(decoyQ, ignoreNulls = true).over(wNext))
      .withColumn("fdr_score",
        when(col("_r1").isNull, col("q_value")) // past the last decoy step
          .when(col("_r1") === col("_r0"), col("_q1")) // exactly on a step
          .otherwise(col("_q0") +
            (col("_rn") - col("_r0")).cast("double") * (col("_q1") - col("_q0")) /
              (col("_r1") - col("_r0")).cast("double")))
      .drop("_rn", "_r0", "_q0", "_r1", "_q1")
  }

  /** FDR Score from already-computed running counts — the window-free
    * form of [[withFdrScore]] for a frame that already carries
    * `cum_decoys`, `cum_targets`, `q_value` (TargetDecoy.withQValues
    * output, pre-repair).
    *
    * The rank interpolation needs no ordered window: rows with
    * `cum_decoys = k` sit between the k-th and (k+1)-th decoy in
    * best-first order, and `rank = cum_decoys + cum_targets` (inclusive
    * running counts over a tie-free total order). So (r0,q0) is decoy
    * step k — (0,0) ahead of the first decoy — and (r1,q1) is step k+1 —
    * absent past the last decoy, where the row keeps its q-value. Two
    * equi-joins against the one-row-per-decoy step table replace the
    * global window.
    *
    * For a PER-GROUP q-value frame (withQValues with non-empty
    * partitionBy) pass the group column NAMES in `groupCols` — the step
    * join then matches within each group. Without them, repeated
    * cum_decoys values across groups would fan rows out against the wrong
    * group's steps. */
  def withFdrScoreFromCounts(
      df: DataFrame, isDecoy: Column, groupCols: Seq[String] = Nil): DataFrame = {
    val rank = (col("cum_decoys") + col("cum_targets")).cast("double")
    val steps = df.filter(coalesce(isDecoy, lit(false)))
      .select(groupCols.map(g => col(g).as(s"_g_$g")) ++ Seq(
        col("cum_decoys").as("_step"),
        (col("cum_decoys") + col("cum_targets")).cast("double").as("_sr"),
        col("q_value").as("_sq")): _*)
    val prev = steps.select(groupCols.map(g => col(s"_g_$g")) ++ Seq(
      col("_step"), col("_sr").as("_r0"), col("_sq").as("_q0")): _*)
    val next = steps.select(groupCols.map(g => col(s"_g_$g").as(s"_h_$g")) ++ Seq(
      (col("_step") - 1).as("_nstep"),
      col("_sr").as("_r1"), col("_sq").as("_q1")): _*)
    val prevCond = groupCols.foldLeft(col("cum_decoys") === col("_step")) {
      (c, g) => c && col(g) <=> col(s"_g_$g")
    }
    val nextCond = groupCols.foldLeft(col("cum_decoys") === col("_nstep")) {
      (c, g) => c && col(g) <=> col(s"_h_$g")
    }
    df.join(prev, prevCond, "left")
      .join(next, nextCond, "left")
      .withColumn("fdr_score",
        when(col("_r1").isNull, col("q_value")) // past the last decoy step
          .otherwise(coalesce(col("_q0"), lit(0.0)) +
            (rank - coalesce(col("_r0"), lit(0.0))) *
              (col("_q1") - coalesce(col("_q0"), lit(0.0))) /
              (col("_r1") - coalesce(col("_r0"), lit(0.0)))))
      .drop(Seq("_step", "_r0", "_q0", "_nstep", "_r1", "_q1")
        ++ groupCols.map(g => s"_g_$g") ++ groupCols.map(g => s"_h_$g"): _*)
  }

  /** Stage 2 — combined q-values across engines.
    *
    * @param psms    one row per (engine, identification)
    * @param engine  search-engine column
    * @param keyCols identification identity (e.g. spectrum key + peptidoform)
    * @return one row per identification: keyCols, `engines` (sorted array),
    *         `is_decoy`, `combined_fdr_score` (product of per-engine FDR
    *         scores), `combined_q_value` (target-decoy q within the
    *         engine-combination group)
    */
  def combinedQValues(
      psms: DataFrame,
      engine: Column,
      keyCols: Seq[Column],
      score: Column,
      isDecoy: Column,
      tieBreak: Column,
      lowerIsBetter: Boolean = false,
  ): DataFrame = {
    val perEngine = withFdrScore(
      psms.withColumn("_engine", engine),
      Seq(col("_engine")), score, isDecoy, tieBreak, lowerIsBetter)

    // One factor per ENGINE per identification: an engine reporting the
    // same (spectrum, peptide) twice (charge states, ranks) contributes
    // its best FDR score once, not a double-counted product.
    val bestPerEngine = perEngine
      .groupBy((keyCols :+ col("_engine")): _*)
      .agg(min(col("fdr_score")).as("fdr_score"), max(isDecoy).as("_dec"))

    // Product of FDR scores, folded over the SORTED factor list so the
    // result is deterministic IEEE arithmetic (no exp/ln round-trip —
    // engine counts are small, so the direct product neither over- nor
    // underflows with the 1e-12 floor).
    val combined = bestPerEngine
      .groupBy(keyCols: _*)
      .agg(
        sort_array(collect_set(col("_engine"))).as("engines"),
        max(col("_dec")).as("is_decoy"),
        aggregate(sort_array(collect_list(greatest(col("fdr_score"), lit(1e-12)))),
          lit(1.0), (acc, x) => acc * x).as("combined_fdr_score"),
        min(col("fdr_score")).as("best_engine_fdr_score"),
      )

    // per engine-combination group, calibrate with target-decoy again.
    // struct ordering keeps the tiebreak INJECTIVE — a concat_ws join of
    // the key parts would collide for e.g. ('a|b','c') vs ('a','b|c'),
    // making tied-score row order nondeterministic
    val grouped = TargetDecoy.withQValues(
      combined,
      Seq(col("engines")),
      col("combined_fdr_score"),
      col("is_decoy"),
      struct(keyCols: _*),
      lowerIsBetter = true)

    grouped
      .withColumnRenamed("q_value", "combined_q_value")
      .drop("cum_decoys", "cum_targets", "fdr")
  }
}
