package graft.fdr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Target-decoy FDR / q-value computation (SURVEY.md §2.4 A14, §2.5 W2).
  *
  * The reference delegates this to the PIA library
  * (PIAModelerService.java:66-76: `calculateAllFDR`,
  * `calculateCombinedFDRScore`); here it is re-derived from the published
  * target-decoy method as window-function transformations:
  *
  *  1. sort PSMs best-score-first (with a unique tiebreak for determinism);
  *  2. running decoy / target counts give `FDR_i = decoys_i / max(targets_i, 1)`;
  *  3. `q_i = min(FDR_j : j >= i)` — the reverse running minimum, computed as a
  *     forward running `min` over the exactly-reversed sort order.
  *
  * Scale note: windows are partitioned by the caller's grouping columns
  * (assay/search-engine) — each assay sorts independently, so the shuffle is
  * one hash partitioning by assay, never a global sort. A single assay is at
  * most ~800k PSMs in the reference corpus (BASELINE.md), which fits one task
  * comfortably.
  */
object TargetDecoy {

  /** Adds `cum_decoys`, `cum_targets`, `fdr`, `q_value` columns.
    *
    * @param partitionBy  group columns (per-assay / per-search-engine FDR)
    * @param score        PSM score column
    * @param isDecoy      boolean decoy flag
    * @param tieBreak     unique column for deterministic ordering on ties
    * @param lowerIsBetter true when smaller scores are better (e-values/PEP)
    */
  def withQValues(
      df: DataFrame,
      partitionBy: Seq[Column],
      score: Column,
      isDecoy: Column,
      tieBreak: Column,
      lowerIsBetter: Boolean = false,
  ): DataFrame = {
    // NULL scores rank WORST in both modes (asc_nulls_last /
    // desc_nulls_first): plain .asc would place nulls first, handing a
    // scoreless PSM rank 1 and fdr 0 in lower-is-better (e-value) mode.
    val bestFirst =
      if (lowerIsBetter) Seq(score.asc_nulls_last, tieBreak.asc)
      else Seq(score.desc, tieBreak.asc)
    // exact reverse of bestFirst, so that "rows at or after i in best-first
    // order" === "rows at or before i in worst-first order"
    val worstFirst =
      if (lowerIsBetter) Seq(score.desc_nulls_first, tieBreak.desc)
      else Seq(score.asc, tieBreak.desc)

    val wBest = Window
      .partitionBy(partitionBy: _*)
      .orderBy(bestFirst: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wWorst = Window
      .partitionBy(partitionBy: _*)
      .orderBy(worstFirst: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    df.withColumn("cum_decoys", sum(when(isDecoy, 1L).otherwise(0L)).over(wBest))
      .withColumn("cum_targets", sum(when(isDecoy, 0L).otherwise(1L)).over(wBest))
      .withColumn("fdr", col("cum_decoys").cast("double") / greatest(col("cum_targets"), lit(1L)))
      .withColumn("q_value", min(col("fdr")).over(wWorst))
  }

  /** Distributed global target-decoy q-values — the scale path for a
    * single huge assay, where `withQValues(partitionBy = empty)` would
    * funnel everything through ONE window partition.
    *
    * Algorithm (exact, same results as the window form):
    *  1. total-order the PSMs via `repartitionByRange` + in-partition sort
    *     (parallel range sort, no single-partition stage);
    *  2. pass A: per-partition decoy/target subtotals -> driver (one tiny
    *     row per partition) -> prefix offsets;
    *  3. pass B: running counts + offsets give exact cumulative
    *     decoys/targets and FDR per row, plus per-partition FDR minima;
    *  4. suffix-minima of the partition minima close the q-value
    *     (reverse running min) across partitions; within a partition the
    *     suffix min is computed backwards in one buffered sweep.
    *
    * Rows per partition stay bounded by the range partitioning, so this
    * scales to arbitrarily large assays; the only driver state is two
    * arrays of numPartitions elements. */
  def withQValuesGlobal(
      df: DataFrame,
      score: Column,
      isDecoy: Column,
      tieBreak: Column,
      lowerIsBetter: Boolean = false,
      numPartitions: Int = 0,
  ): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    // same null-symmetric ordering as the window form (nulls rank worst)
    val bestFirst =
      if (lowerIsBetter) Seq(score.asc_nulls_last, tieBreak.asc)
      else Seq(score.desc, tieBreak.asc)

    // Output-column hygiene, matching the window form's overwrite
    // semantics: pre-existing result columns are replaced, not duplicated
    // (schema.add below would otherwise produce two `fdr`s and ambiguous
    // downstream references). The internal decoy marker uses a reserved
    // name we refuse to clobber silently.
    require(!df.columns.contains("_td_decoy"),
      "withQValuesGlobal: input already has a _td_decoy column (reserved)")
    val cleaned = df.drop("cum_decoys", "cum_targets", "fdr", "q_value")
    // null decoy flags count as targets, matching the window form's
    // when(isDecoy, 1).otherwise(0) semantics (and avoiding an NPE in the
    // primitive getBoolean below)
    val marked = cleaned.withColumn("_td_decoy", coalesce(isDecoy, lit(false)))
    val sorted = marked
      .repartitionByRange(n, bestFirst: _*)
      .sortWithinPartitions(bestFirst: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val decoyIdx = sorted.schema.fieldIndex("_td_decoy")

    // pass A: per-partition (decoys, targets)
    val subtotals = sorted.rdd
      .mapPartitionsWithIndex { (pid, rows) =>
        var d = 0L; var t = 0L
        rows.foreach(r => if (r.getBoolean(decoyIdx)) d += 1 else t += 1)
        Iterator((pid, d, t))
      }
      .collect().sortBy(_._1)
    val nParts = subtotals.length
    val dOffsets = new Array[Long](nParts)
    val tOffsets = new Array[Long](nParts)
    var dAcc = 0L; var tAcc = 0L
    subtotals.foreach { case (pid, d, t) =>
      dOffsets(pid) = dAcc; tOffsets(pid) = tAcc; dAcc += d; tAcc += t
    }

    // pass B: per-row fdr + per-partition suffix-min inputs (min fdr)
    val sc = df.sparkSession.sparkContext
    val bD = sc.broadcast(dOffsets)
    val bT = sc.broadcast(tOffsets)
    val withFdrRdd = sorted.rdd.mapPartitionsWithIndex { (pid, rows) =>
      var d = bD.value(pid); var t = bT.value(pid)
      rows.map { r =>
        if (r.getBoolean(decoyIdx)) d += 1 else t += 1
        val fdr = d.toDouble / math.max(t, 1L)
        Row.fromSeq(r.toSeq :+ d :+ t :+ fdr)
      }
    }
    val fdrSchema = sorted.schema
      .add("cum_decoys", LongType).add("cum_targets", LongType).add("fdr", DoubleType)
    val withFdr = df.sparkSession.createDataFrame(withFdrRdd, fdrSchema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val fdrIdx = fdrSchema.fieldIndex("fdr")
    val partMins = withFdr.rdd
      .mapPartitionsWithIndex { (pid, rows) =>
        var m = Double.MaxValue
        rows.foreach(r => m = math.min(m, r.getDouble(fdrIdx)))
        Iterator((pid, m))
      }
      .collect().sortBy(_._1).map(_._2)
    // suffix min of LATER partitions for each pid
    val laterMin = new Array[Double](nParts)
    var acc = Double.MaxValue
    for (p <- nParts - 1 to 0 by -1) { laterMin(p) = acc; acc = math.min(acc, partMins(p)) }
    val bLater = sc.broadcast(laterMin)

    // pass C: backwards in-partition suffix min, closed with later-partition min
    val qRdd = withFdr.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val buf = rows.toArray
      var m = bLater.value(pid)
      var i = buf.length - 1
      val out = new Array[Row](buf.length)
      while (i >= 0) {
        m = math.min(m, buf(i).getDouble(fdrIdx))
        out(i) = Row.fromSeq(buf(i).toSeq :+ m)
        i -= 1
      }
      out.iterator
    }
    val qSchema = fdrSchema.add("q_value", DoubleType)
    // Materialize the result (localCheckpoint cuts the lineage) so both
    // upstream caches can be released immediately — without this every
    // call would leak a cached copy of the assay for the session lifetime.
    val result = df.sparkSession.createDataFrame(qRdd, qSchema)
      .drop("_td_decoy")
      .localCheckpoint(true)
    sorted.unpersist()
    withFdr.unpersist()
    result
  }

  /** The PSM FDR of the index pipeline in ONE sorted sweep: adds `q` and
    * `fdrScore` to `df`, value-identical (bit for bit) to the composition
    * [[withQValues]] (no partitioning) -> `CombinedFdr.withFdrScoreFromCounts`
    * -> [[repairZeroQValuesAll]] over (`q_value` -> `q`, `fdr_score` ->
    * `fdrScore`), which stays the parity oracle and the distributed form.
    *
    * The narrow (key, score, isDecoy) projection is sorted once, best
    * first, into one partition — the same sort orders as the window form,
    * so null and NaN scores rank identically. One task then holds only the
    * keys and primitive arrays and computes, in that order: the running
    * decoy/target FDR, the q-value as a suffix minimum, the
    * rank-interpolated FDR score between decoy steps, and the minimum
    * positive value of each for the P9 zero repair. The repair itself is
    * the same Column expression as [[repairZeroQValuesAll]] (Spark's
    * HALF_UP `round`), and (key, q, fdrScore) joins back to `df`.
    *
    * For one assay of up to a few million PSMs (the pipeline's window
    * path); larger assays take [[withQValuesGlobal]].
    *
    * @param key unique, non-repeating row key — the tie-break of the sort
    *            and the join key back (null-safe, so one NULL key is kept)
    * @param isDecoy decoy flag; NULL counts as a target
    */
  def withSweptQAndFdrScore(
      df: DataFrame,
      key: String,
      score: Column,
      isDecoy: Column,
      lowerIsBetter: Boolean = false,
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._

    val narrow = df.select(col(key).as("_k"), score.as("_s"),
      coalesce(isDecoy, lit(false)).as("_d"))
    // withQValues' bestFirst, on the projected columns
    val bestFirst =
      if (lowerIsBetter) Seq(col("_s").asc_nulls_last, col("_k").asc)
      else Seq(col("_s").desc, col("_k").asc)
    val outSchema = StructType(Seq(
      StructField("_k", narrow.schema("_k").dataType),
      StructField("_q", DoubleType, nullable = false),
      StructField("_fs", DoubleType, nullable = false),
      StructField("_minPosQ", DoubleType),
      StructField("_minPosFs", DoubleType)))
    val swept = narrow.repartition(1).sortWithinPartitions(bestFirst: _*)
      .mapPartitions { rows =>
        val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
        val decoys = scala.collection.mutable.ArrayBuilder.make[Boolean]
        rows.foreach { r => keys += r.get(0); decoys += r.getBoolean(2) }
        val (q, fs) = sweep(decoys.result())
        val minPosQ = minPositive(q)
        val minPosFs = minPositive(fs)
        keys.iterator.zipWithIndex.map { case (k, i) => Row(k, q(i), fs(i), minPosQ, minPosFs) }
      }(Encoders.row(outSchema))
      .select(col("_k"),
        zeroRepaired(col("_q"), col("_minPosQ")).as("q"),
        zeroRepaired(col("_fs"), col("_minPosFs")).as("fdrScore"))
    df.join(swept, col(key) <=> col("_k")).drop("_k")
  }

  /** The raw (pre-repair) q-values and FDR scores of a best-first decoy
    * sequence: the arithmetic of [[withQValues]] and
    * `CombinedFdr.withFdrScoreFromCounts`, in the same operation order. */
  private[fdr] def sweep(decoy: Array[Boolean]): (Array[Double], Array[Double]) = {
    val n = decoy.length
    val q = new Array[Double](n)
    var d = 0L
    var t = 0L
    var i = 0
    while (i < n) { // running FDR
      if (decoy(i)) d += 1 else t += 1
      q(i) = d.toDouble / math.max(t, 1L)
      i += 1
    }
    i = n - 2
    while (i >= 0) { // q = min(FDR_j : j >= i)
      if (q(i + 1) < q(i)) q(i) = q(i + 1)
      i -= 1
    }
    // FDR score: rank r between the decoy steps (r0, q0) at or before it
    // — (0, 0) ahead of the first decoy — and (r1, q1) strictly after it;
    // past the last decoy the row keeps its q-value
    val fs = new Array[Double](n)
    var r0 = 0.0
    var q0 = 0.0
    var next = 0 // the first decoy index after i, n when there is none
    i = 0
    while (i < n) {
      if (decoy(i)) { r0 = (i + 1).toDouble; q0 = q(i) }
      if (next <= i) { next = i + 1; while (next < n && !decoy(next)) next += 1 }
      fs(i) =
        if (next == n) q(i)
        else q0 + ((i + 1).toDouble - r0) * (q(next) - q0) / ((next + 1).toDouble - r0)
      i += 1
    }
    (q, fs)
  }

  /** min(v > 0) boxed, null when no value is positive (`min(when(v > 0, v))`). */
  private def minPositive(v: Array[Double]): java.lang.Double = {
    var m = Double.PositiveInfinity
    v.foreach(x => if (x > 0.0 && x < m) m = x)
    if (m == Double.PositiveInfinity) null else m
  }

  /** P9 repair of `q` given the group's minimum positive value `minPos`:
    * q > 0 is kept, q == 0 becomes round(minPos / 10, 6), or NaN when no
    * positive value exists. NULL q stays NULL — fabricating min/10 for a
    * row whose q was never computed would invent confidence. */
  private def zeroRepaired(q: Column, minPos: Column): Column =
    when(q.isNull, lit(null).cast("double"))
      .when(q > 0.0, q)
      .otherwise(when(minPos.isNull, lit(Double.NaN)).otherwise(round(minPos / 10.0, 6)))

  /** P9 — q-value repair: q == 0 is replaced by `min(positive q) / 10`
    * rounded HALF_UP to 6 dp (NaN when no positive q exists in the group).
    * Reference: SubmissionPipelineUtils.getQValueLower:368-377 (BigDecimal
    * setScale(6, HALF_UP) — Spark's `round` is also HALF_UP).
    *
    * The group-global minimum is a windowed aggregate over the assay
    * partition — no driver round-trip, no cross join. */
  def repairZeroQValues(df: DataFrame, q: Column, partitionBy: Seq[Column], outCol: String): DataFrame = {
    if (partitionBy.isEmpty) {
      // Global form: an empty-partition window would funnel the whole
      // frame through one task — a broadcast of the one-row aggregate
      // keeps the plan fully parallel.
      val minRow = broadcast(df.agg(min(when(q > 0.0, q)).as("_minPosQ")))
      df.crossJoin(minRow).withColumn(outCol, zeroRepaired(q, col("_minPosQ"))).drop("_minPosQ")
    } else {
      val minPos = min(when(q > 0.0, q)).over(Window.partitionBy(partitionBy: _*))
      df.withColumn(outCol, zeroRepaired(q, minPos))
    }
  }

  /** Multi-column variant of [[repairZeroQValues]] for the global
    * (empty-partition) case: ALL minima come from ONE aggregation and one
    * broadcast crossJoin. Nested single-column calls each embed the input
    * lineage twice (agg subtree + main side), so two nested repairs replay
    * the upstream FDR plan four times on an uncached frame — this form
    * bounds it at two regardless of how many columns are repaired. */
  def repairZeroQValuesAll(df: DataFrame, repairs: Seq[(Column, String)]): DataFrame = {
    require(repairs.nonEmpty, "repairZeroQValuesAll: no repairs given")
    val aggs = repairs.zipWithIndex.map { case ((q, _), i) =>
      min(when(q > 0.0, q)).as(s"_minPosQ$i")
    }
    val minRow = broadcast(df.agg(aggs.head, aggs.tail: _*))
    val out = repairs.zipWithIndex.foldLeft(df.crossJoin(minRow)) {
      case (acc, ((q, outCol), i)) => acc.withColumn(outCol, zeroRepaired(q, col(s"_minPosQ$i")))
    }
    out.drop(repairs.indices.map(i => s"_minPosQ$i"): _*)
  }
}
