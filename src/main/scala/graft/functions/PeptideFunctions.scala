package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Peptide-domain functions (SURVEY.md §2.2 P6, P10, P12; §2.2 F10).
  *
  * Everything except the peptidoform codec is a pure `Column` expression;
  * the codec is plain Scala (string-builder over a position map — the one
  * place imperative code is genuinely simpler, per SURVEY §2.8) and the
  * reference that the native [[EncodePeptidoformExpr]] is tested against.
  */
object PeptideFunctions {

  // ---------------------------------------------------------------- P6 codec

  /** P6 — encode `sequence + {pos -> accession}` mods as a ProForma-style
    * peptidoform: `[acc]`-prefixed N-term (position 0), inline after residue
    * i for position i (1-based), `-[acc]` appended for C-term (position >
    * length). Reference: SubmissionPipelineUtils.encodePeptide:315-340. */
  def encodePeptidoform(sequence: String, mods: Map[Int, String]): String =
    if (mods == null || mods.isEmpty) sequence
    else {
      val sb = new StringBuilder
      mods.get(0).foreach(acc => sb.append('[').append(acc).append(']'))
      sequence.zipWithIndex.foreach { case (c, i) =>
        sb.append(c)
        mods.get(i + 1).foreach(acc => sb.append('[').append(acc).append(']'))
      }
      // C-term mods (position > sequence length), in position order for
      // determinism (the reference iterates hash-map order here).
      mods.toSeq.filter(_._1 > sequence.length).sortBy(_._1).foreach { case (_, acc) =>
        sb.append("-[").append(acc).append(']')
      }
      sb.toString
    }

  /** P6 — peptidoform with charge suffix (`.../2`).
    * Reference: SubmissionPipelineUtils.encodePSM:307-309. */
  def encodePsm(sequence: String, mods: Map[Int, String], charge: Int): String =
    encodePeptidoform(sequence, mods) + "/" + charge

  /** Inverse of [[encodePsm]]: drop the `/charge` suffix. The reference chops
    * exactly the last 2 characters (SubmissionPipelineUtils.java:311-313),
    * which is wrong for charge >= 10; default here is the clean regex
    * semantics, with `legacyCompat = true` reproducing the reference bug
    * (SURVEY §7.4 item 5). */
  def removeChargeState(peptidoform: Column, legacyCompat: Boolean = false): Column =
    if (legacyCompat) peptidoform.substr(lit(1), length(peptidoform) - 2)
    else regexp_replace(peptidoform, "/\\d+$", "")

  def removeChargeStateStr(peptidoform: String): String =
    peptidoform.replaceAll("/\\d+$", "")

  // ----------------------------------------------------------- P10 cleavages

  /** P10 — missed tryptic cleavages: non-terminal K/R not followed by P.
    * Counted as (K/R with ANY following residue) minus (K/R followed by P)
    * — zero-width lookaheads so overlapping sites (KK) all count, and a
    * terminal KP is correctly zero. Used when the parser reports -1
    * (PrideAnalysisAssayService.java:702-705). Pure column expression;
    * Java regex lookahead is fine here (executors run Java regex). */
  def missedCleavages(sequence: Column): Column =
    (coalesce(regexp_count(sequence, lit("[KR](?=.)")), lit(0)) -
      coalesce(regexp_count(sequence, lit("[KR](?=P)")), lit(0))).cast("int")

  // ------------------------------------------------------------- F10 deltaMz

  /** Monoisotopic residue masses (public knowledge; standard amino-acid
    * monoisotopic mass table). */
  val MonoisotopicMasses: Map[String, Double] = Map(
    "G" -> 57.02146, "A" -> 71.03711, "S" -> 87.03203, "P" -> 97.05276,
    "V" -> 99.06841, "T" -> 101.04768, "C" -> 103.00919, "L" -> 113.08406,
    "I" -> 113.08406, "N" -> 114.04293, "D" -> 115.02694, "Q" -> 128.05858,
    "K" -> 128.09496, "E" -> 129.04259, "M" -> 131.04049, "H" -> 137.05891,
    "F" -> 147.06841, "R" -> 156.10111, "Y" -> 163.06333, "W" -> 186.07931,
    "U" -> 150.95364, "O" -> 237.14773,
  )
  val WaterMono = 18.010565
  val ProtonMono = 1.007276

  private def massMapCol: Column =
    map(MonoisotopicMasses.toSeq.sortBy(_._1).flatMap { case (aa, m) => Seq(lit(aa), lit(m)) }: _*)

  /** Summed residue masses as the column-expression fold — the reference
    * semantics and no-session fallback for [[ResidueMassExpr]] (identical
    * IEEE fold order; property-tested). */
  def residueMassHof(sequence: Column): Column =
    aggregate(
      transform(split(sequence, ""), c => coalesce(element_at(massMapCol, c), lit(0.0))),
      lit(0.0),
      (acc, x) => acc + x,
    )

  /** Theoretical m/z of a (sequence, charge) with total PTM delta mass:
    * `(sum(residues) + water + ptmMass + z * proton) / z`. Residue
    * summing evaluates through the native codegen kernel
    * ([[ResidueMassExpr]] — one primitive char loop per row instead of
    * two interpreted lambdas per residue). */
  def theoreticalMz(sequence: Column, charge: Column, ptmMass: Column): Column = {
    val residues = ResidueMassExpr.residueMassCol(sequence)
    (residues + lit(WaterMono) + ptmMass + charge.cast("double") * lit(ProtonMono)) /
      charge.cast("double")
  }

  /** F10 — absolute delta between observed and theoretical m/z. The reference
    * hard-fails an assay when any PSM exceeds 10 and counts PSMs exceeding 0.9
    * as errors (PrideAnalysisAssayService.java:646-660). */
  def deltaMz(sequence: Column, observedMz: Column, charge: Column, ptmMass: Column): Column =
    abs(observedMz - theoreticalMz(sequence, charge, ptmMass))

  // ---------------------------------------------------------------- P12 score

  /** P12 — protein score transform: `-log10(bestQValue)` rounded to 5 dp
    * (the reference formats with DecimalFormat("###.#####"),
    * PrideAnalysisAssayService.java:950-951). */
  def proteinScore(bestQValue: Column): Column = round(-log10(bestQValue), 5)

  /** Java `DecimalFormat("###.#####")` parity — the reference's score
    * formatter: at most 5 decimals (HALF_EVEN — `format_number`'s rounding
    * AND DecimalFormat's default, so parity holds), trailing zeros and a
    * bare decimal point trimmed, no grouping separators ("2.5", not
    * "2.50000"; "2", not "2.00000"). */
  def decimalFormat5(value: Column): Column =
    regexp_replace(
      regexp_replace(format_number(value, 5), ",", ""),
      "\\.?0+$", "")
}
