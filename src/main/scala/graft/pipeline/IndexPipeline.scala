package graft.pipeline

import graft.fdr.TargetDecoy
import graft.functions.{PeptideFunctions, UsiFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `generate-index-files` command as one Spark DAG (SURVEY.md §3.1).
  *
  * Reference flow (PrideAnalysisAssayService.writeAnalysisOutputFromResultFiles
  * :242-304 + indexSpectraStep :489-858 + proteinIndexStep :938-995): a
  * per-PSM Java loop with ehcache spill. Here the whole thing is a single
  * declarative plan — `psms |> fdr |> filters |> join(spectra) |>
  * projections` — whose shuffle boundaries replace the reference's cache
  * tiers, and whose per-assay partitioning carries to every window.
  */
object IndexPipeline {

  final case class IndexConfig(
      projectAccession: String,
      assayAccession: String,
      reanalysisAccession: Option[String] = None,
      /** F4 — PSM q-value gate (default 0.01, PrideAnalysisAssayService.java:79-80). */
      qValueThreshold: Double = 0.01,
      /** F5 — protein q-value gate (PrideAnalysisAssayService.java:82-83). */
      proteinQThreshold: Double = 0.01,
      /** F6 — min peptide length (default 7, :85-86). */
      peptideLength: Int = 7,
      /** F9 — min PSMs per valid assay (default 1000, :88-89). */
      minPsms: Long = 1000,
      /** F8 — min unique peptides per protein (default 0, :91-92). */
      uniquePeptides: Int = 0,
      /** true when smaller PSM scores are better (e-values / PEP). */
      scoreLowerIsBetter: Boolean = false,
      /** Picked protein FDR (published competition method): each
        * target/decoy protein pair (accession vs decoyPrefix+accession)
        * keeps only its better-scoring member before the protein-level
        * target-decoy calibration, removing the decoy-inflation bias of
        * naive protein FDR. */
      pickedProteinFdr: Boolean = false,
      /** Decoy accession prefix — must match the PSM parser's
        * (MzTabIO.standardPsms decoyPrefix). */
      decoyPrefix: String = "DECOY_",
      /** PIA protein-FDR parity variant (PIAModelerService.java:80-101):
        * PIA scores proteins with MultiplicativeScoring over the
        * PSM-level FDR SCORE (the Combined-FDR-Score family) of the best
        * PSM per peptide (PSMForScoring.ONLY_BEST), then calibrates the
        * protein target-decoy q over that protein score
        * (`updateFDRData`/`calculateFDR`). When true, the protein stage
        * does the same: best-per-peptide selection, the multiplicative
        * score, the picked competition, and the q calibration all key on
        * the PSM `fdrScore` instead of the default best-PSM-q basis. */
      proteinScoreFromPsmFdrScore: Boolean = false,
      /** J5 fallback: project-level sample (name, value) params — e.g.
        * organism / organism part / disease from the project metadata —
        * stamped on PSMs whose file has NO SDRF characteristics
        * (PrideAnalysisAssayService.java:365-385, :574-579; the reference
        * leaves their accession null). */
      globalSampleProps: Seq[(String, String)] = Seq.empty,
  )

  /** Monoisotopic delta masses for common UNIMOD accessions (public UNIMOD
    * values), used by the F10 delta-mass gate. */
  val ModMasses: Map[String, Double] = Map(
    "UNIMOD:1" -> 42.010565, // acetyl
    "UNIMOD:4" -> 57.021464, // carbamidomethyl
    "UNIMOD:5" -> 43.005814, // carbamyl
    "UNIMOD:7" -> 0.984016, // deamidation
    "UNIMOD:21" -> 79.966331, // phospho
    "UNIMOD:35" -> 15.994915, // oxidation
  )

  final case class IndexOutputs(
      archiveSpectra: DataFrame,
      psmSummaries: DataFrame,
      proteinEvidence: DataFrame,
      /** F9 counters: (nr_psms, nr_decoys, nr_error_delta, hard_delta_fail). */
      validity: DataFrame,
      /** F9 `nr_psms` and `nr_decoys`, already counted by `run` — read them
        * here rather than by running `validity`. */
      nrPsms: Long,
      nrDecoys: Long,
      /** The shared cached intermediates behind all four frames. */
      private val cached: Seq[DataFrame] = Seq.empty,
  ) {
    /** Release the shared cached intermediates once outputs are written. */
    def unpersist(): Unit = cached.foreach(_.unpersist())
  }

  private def param(accession: String, name: String, value: Column): Column =
    struct(lit(accession).as("accession"), lit(name).as("name"),
      value.cast("string").as("value"))

  /** Spectrum file types addressed by index, not by id (the MGF family). */
  private val IndexAddressedTypes = Seq("MGF", "PKL", "APL", "DTA", "MS2")

  /** True when the optimizer folds `df` to an empty relation. The ANALYZED
    * plan is optimized, before cache substitution: a persisted input would
    * otherwise be an opaque in-memory leaf, whatever filter sits on it. */
  private def provablyEmpty(df: DataFrame): Boolean =
    df.sparkSession.sessionState.optimizer.execute(df.queryExecution.analyzed) match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** J1 — PSM⋈spectrum resolution: the reference's staged id lookup
    * (JmzReaderSpectrumService.getSpectrumById:70-106) as joins.
    *
    *  1. Exact: equi-join on the normalized `scanKey`
    *     (UsiFunctions.normalizeScanId on both sides folds the reference's
    *     raw-id equality and its per-token `scan=N` stage — :92-100 — into
    *     one key).
    *  2. Unique-contains rescue (:85-89): PSMs the exact join missed are
    *     matched to the spectrum id of the same file that CONTAINS the
    *     PSM's `scan=`-stripped id (:72-73), kept only when that
    *     containing id is UNIQUE — zero or several hits leave the PSM
    *     dropped, exactly like the reference.
    *
    * Scale shape: stage 2's probe set is only the exact-join misses —
    * malformed-id rows, rare by construction — broadcast against ONE pass
    * over the spectra (contains-theta join); the uniqueness gate is a tiny
    * aggregation over the hits. Index-addressed formats (the MGF family)
    * are never rescued: the reference reads those positionally
    * (getSpectrumByIndex), not by id.
    *
    * @param psmKeyed PSM rows incl. `fileName`, `sourceId`, `idFormat`,
    *                 `scanKey`
    * @param spectraKeyed spectrum rows: `fileName`, `scanKey`, `scanId`,
    *                 `spectrumFileType` + payload columns (the first four
    *                 drive the join; `scanId`/`spectrumFileType` are
    *                 dropped from the output)
    * @return exact + rescued rows; rescued rows keep the PSM's `scanKey`
    *         (USI identifiers derive from the PSM's own annotation)
    */
  /** Upper bound on the stage-2 rescue probe set (distinct missed ids
    * collected to the driver). Rescue rows are malformed-id NOISE — a
    * probe set anywhere near this size means the id format itself is
    * wrong, and the join must fail with a diagnosis rather than broadcast
    * the whole PSM id set. ~1M (fileName, id) strings ≈ low hundreds of
    * MB on the driver, the same order as Spark's own broadcast ceiling. */
  private[pipeline] val RescueLookupCap = 1000000

  def scanKeyJoin(
      psmKeyed: DataFrame,
      spectraKeyed: DataFrame,
      rescueLookupCap: Int = RescueLookupCap,
  ): DataFrame = {
    val specPayload = spectraKeyed.drop("scanId", "spectrumFileType")
    val exact = psmKeyed.join(specPayload, Seq("fileName", "scanKey"), "inner")

    val idBased = col("idFormat").isin(
      UsiFunctions.IdFormat.SpectrumNativeId, UsiFunctions.IdFormat.MzmlId)
    // idBased filters the LEFT side only, so it commutes with the anti
    // join — applied BEFORE it explicitly (not left to predicate
    // pushdown), an index-addressed assay (the MGF family) feeds the
    // rescue anti-join zero rows instead of its full PSM set.
    val unmatched = psmKeyed
      .filter(idBased)
      .join(spectraKeyed.select("fileName", "scanKey"),
        Seq("fileName", "scanKey"), "left_anti")
      .withColumn("_strippedId",
        when(col("sourceId").startsWith("scan="),
          // ALL occurrences, not just the prefix: the reference's Java
          // String.replace("scan=", "") is a replace-all — :72-73
          regexp_replace(col("sourceId"), "scan=", ""))
          .otherwise(col("sourceId")))

    // The rescue's contains-join input: the id-addressed spectra.
    val containsBase = spectraKeyed
      .filter(!col("spectrumFileType").isin(IndexAddressedTypes: _*))

    // The rescue is dead when either join input is provably empty, and the
    // join then stays a single lazy equi-join: no probe job, no pin.
    //  - `unmatched` folds when the optimizer can evaluate idFormat to an
    //    index-addressed format, e.g. a plan literal. It never folds for
    //    the mzid and mzTab commands: their idFormat arrives through a
    //    join with the parsed input.
    //  - `containsBase` folds when every spectra source is MGF-family:
    //    readSpectraDir stamps each reader's `fileType` as a literal.
    if (provablyEmpty(unmatched) || provablyEmpty(containsBase)) return exact

    // A live rescue subtree reads psmKeyed three times (exact side, probe
    // collect, rescued side) — pin it so the upstream DAG (in the pipeline:
    // the FDR sweep) runs once. Lazy persist: the probe collect
    // below fills it. run() releases it via IndexOutputs.unpersist();
    // standalone callers hold only their small keyed frames.
    psmKeyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // The rescue probe set is materialized on the driver (the broadcast
    // build would collect it there anyway) behind a hard cap: a
    // systematically mismatched id format would otherwise stream the whole
    // PSM id set into an unbounded broadcast and die with an opaque OOM
    // mid-shuffle. Over the cap we fail fast with the diagnosis instead —
    // the limit short-circuits, so the guard never scans past cap+1 rows.
    // A failing collect (or the cap exception) releases the pin above:
    // run()'s IndexOutputs.unpersist only covers the success path, and a
    // leaked persist would hold cache blocks for the session lifetime.
    val spark = psmKeyed.sparkSession
    val lookupSet = unmatched.select(col("fileName"), col("_strippedId")).distinct()
    val lookupRows =
      try {
        val rows = lookupSet.limit(rescueLookupCap + 1).collect()
        if (rows.length > rescueLookupCap)
          throw new IllegalStateException(
            s"scanKeyJoin stage-2 rescue: more than $rescueLookupCap distinct PSM ids missed " +
              "the exact scan-key join — the assay's spectrum id format is systematically " +
              "mismatched, not malformed-row noise; fix the id normalization instead")
        rows
      } catch {
        case t: Throwable => psmKeyed.unpersist(); throw t
      }
    val lookup = spark.createDataFrame(
      java.util.Arrays.asList(lookupRows: _*), lookupSet.schema)
    val payloadCols = containsBase.columns
      .filterNot(Seq("fileName", "scanKey", "scanId", "spectrumFileType").contains).toSeq
    val hits = containsBase.join(
      broadcast(lookup.withColumnRenamed("fileName", "_lf")),
      col("fileName") === col("_lf") && col("scanId").contains(col("_strippedId")))
      .drop("_lf")
    val uniqueHits = hits
      .groupBy(col("fileName"), col("_strippedId"))
      .agg(count(lit(1)).as("_nh"),
        first(struct(payloadCols.map(col): _*)).as("_spec"))
      .filter(col("_nh") === 1) // :88 — only a UNIQUE containing id rescues
      .select(Seq(col("fileName"), col("_strippedId")) ++
        payloadCols.map(c => col(s"_spec.$c").as(c)): _*)

    val rescued = unmatched
      .join(uniqueHits, Seq("fileName", "_strippedId"), "inner")
      .drop("_strippedId")
    exact.unionByName(rescued.select(exact.columns.map(col).toSeq: _*))
  }

  /** Runs the full index step.
    *
    * @param psms standardized PSM rows (MzTabIO.standardPsms shape) plus
    *             `fileName` (resolved spectra file) and `idFormat`
    *             (UsiFunctions.IdFormat value per file)
    * @param spectra spectra rows (MgfIO.read / mzML shape): fileName, index,
    *                scanId, msLevel, precursorMz, precursorCharge,
    *                retentionTime, masses, intensities, plus `fileType`
    *                ("MGF" | "MZML")
    * @param sdrf optional melted SDRF (SideInputs.readSdrf shape)
    */
  def run(
      psms: DataFrame,
      spectra: DataFrame,
      sdrf: Option[DataFrame],
      cfg: IndexConfig,
  ): IndexOutputs = {
    graft.functions.EncodePeptidoformExpr.register(psms.sparkSession)
    graft.functions.ModsToStructsExpr.register(psms.sparkSession)
    // deltaMz/theoreticalMz below route residue summing through the native
    // kernel — register it on the frame's OWNING session (call_function
    // analyzes there; the active thread-local session may differ).
    graft.functions.ResidueMassExpr.register(psms.sparkSession)

    // ---- one row per PSM (mzTab repeats rows per protein accession).
    // A PSM is decoy only when ALL of its accessions are decoy (PIA
    // semantics) — min over the boolean, not whichever row the dedup keeps.
    // A groupBy, NOT a window: the aggregation gets map-side partial
    // combine (mzTab's per-accession row expansion collapses before the
    // shuffle) behind the same single exchange. (collect_set/min_by run
    // as ObjectHashAggregate, which falls back to sort-based above
    // ~128 groups per partition — so at high cardinality the reduce side
    // still sorts like the window did; the partial combine is the win,
    // and the window form had neither.) The surviving payload row is
    // min_by over the accession, matching the window form's
    // orderBy(proteinAccession) pick (the payload struct carries
    // `modifications`, a map — unorderable, so the ordering key stays
    // the bare accession).
    val payloadCols = psms.columns.filterNot(c =>
      c == "psmId" || c == "proteinAccession" || c == "isDecoy").toSeq
    val psmsU = psms
      .groupBy(col("psmId"))
      .agg(
        sort_array(collect_set(col("proteinAccession"))).as("proteinAccessions"),
        min(col("isDecoy")).as("isDecoy"),
        // The ordering key is null-proofed: min_by SKIPS rows whose key is
        // NULL, so a PSM whose accessions are all NULL would collapse to a
        // NULL payload struct. (false, "") < (true, acc) keeps the window
        // form's asc-nulls-first pick and never discards the payload.
        min_by(struct(payloadCols.map(col): _*),
          struct(col("proteinAccession").isNotNull,
            coalesce(col("proteinAccession"), lit("")))).as("_row"))
      .select(Seq(col("psmId"), col("proteinAccessions"), col("isDecoy")) ++
        payloadCols.map(c => col(s"_row.`$c`").as(c)): _*)
      // Shared by the FDR sweep, the F9 counters, and the assay-validity
      // flag; the eager count below materializes the cache.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- A14 FDR + FDRScore + P9 repair --------------------------------
    // ONE eager aggregate materializes the cache and yields the F9
    // counters; assay validity then enters the
    // plan as a literal (no broadcast-subquery crossJoin per output).
    // Counts come from the UNFILTERED PSM set (decoys counted before any
    // q-value filter, PrideAnalysisAssayService.java:440-447).
    val preCounts = psmsU.agg(
      count(lit(1)).as("nr_psms"),
      // coalesce: sum() over ZERO rows is NULL — an empty assay must reach
      // the validity gate, not NPE here
      coalesce(sum(when(col("isDecoy"), 1L).otherwise(0L)), lit(0L)).as("nr_decoys")).head()
    val psmCount = preCounts.getLong(0)
    val nrDecoys = preCounts.getLong(1)
    // Rank-interpolated FDR score (the value the reference writes under
    // MS:1002354, PrideAnalysisAssayService.java:627-628), computed from
    // the raw q-value steps; both it and the q-value then get the
    // getQValueLower-style zero repair (P9). All of it is ONE sorted sweep
    // over the narrow (psmId, score, isDecoy) rows, joined back.
    val repaired = TargetDecoy.withSweptQAndFdrScore(psmsU, "psmId", col("score"),
      col("isDecoy"), lowerIsBetter = cfg.scoreLowerIsBetter)

    // ---- F3/F4/F6/F7 PSM filters ---------------------------------------
    val filtered = repaired
      .filter(col("sourceId") =!= "index=null") // F3 (:456-458)
      .filter(col("q") <= cfg.qValueThreshold) // F4 (:466-468)
      .filter(length(col("peptideSequence")) >= cfg.peptideLength) // F6 (:462-463)
      .filter(!exists(map_entries(col("modifications")), e => // F7 (:464)
        e.getField("value") === "UNIMOD:21" &&
          col("peptideSequence").substr(e.getField("key"), lit(1)) === "A"))

    // ---- J1 scan-key join ----------------------------------------------
    // scanKeyJoin persists this frame ONLY when the stage-2 rescue subtree
    // is live (it then has three readers above the FDR); for MGF-family
    // spectra the optimizer proves the rescue dead and no pin happens.
    // IndexOutputs.unpersist is a no-op for it in that case.
    val psmKeyed = filtered.withColumn(
      "scanKey", UsiFunctions.normalizeScanId(col("sourceId"), col("idFormat")))

    // Spectrum-side key: MGF joins by 1-based index (the Mascot/MGF `+1`
    // rule, SubmissionPipelineUtils.java:229-235 — jmzReader MGF access is
    // 1-based); mzML joins by the scan= token of its native id. scanId and
    // the spectrum-side fileType ride along for the stage-2 contains
    // rescue, scanKeyJoin drops them before the equi-join.
    val spectraKeyed = spectra
      .filter(col("msLevel") =!= 1) // F11 (JmzReaderSpectrumService.java:105-106)
      .withColumn("scanKey",
        when(col("fileType").isin(IndexAddressedTypes: _*),
          (col("index") + 1).cast("string"))
          .otherwise(UsiFunctions.normalizeScanId(col("scanId"),
            lit(UsiFunctions.IdFormat.MzmlId))))
      .withColumnRenamed("retentionTime", "spectrumRt")
      .withColumnRenamed("precursorMz", "spectrumPrecursorMz")
      .withColumnRenamed("precursorCharge", "spectrumPrecursorCharge")
      .withColumnRenamed("fileType", "spectrumFileType")
      .select("fileName", "scanKey", "scanId", "spectrumFileType", "msLevel",
        "spectrumPrecursorMz", "spectrumPrecursorCharge", "spectrumRt",
        "masses", "intensities")

    val joined = scanKeyJoin(psmKeyed, spectraKeyed)

    // ---- P3-P6 identifiers ---------------------------------------------
    val isWiff = UsiFunctions.isWiffId(col("sourceId"))
    val scanType =
      when(col("fileType") === "MZML" && isWiff, "nativeId")
        .when(col("fileType") === "MZML", "scan")
        .otherwise("index") // buildUsi (SubmissionPipelineUtils.java:289-305)
    val usiId =
      when(col("fileType") === "MZML" && isWiff,
        UsiFunctions.nativeIdValues(col("sourceId"))).otherwise(col("scanKey"))
    val withIds = joined
      .withColumn("usi", UsiFunctions.cleanUsi(UsiFunctions.buildUsi(
        lit(cfg.projectAccession),
        UsiFunctions.fileNameNoExtension(col("fileName")), scanType, usiId)))
      .withColumn("spectraUsi", UsiFunctions.spectraUsi(col("usi")))
      // native codegen expression, not a UDF (see EncodePeptidoformExpr)
      .withColumn("peptidoform", graft.functions.EncodePeptidoformExpr.encode(
        col("peptideSequence"), col("modifications"), col("charge")))

    // ---- F10 delta mass, P10, P11 --------------------------------------
    val modMassMap = map(ModMasses.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val ptmMass = aggregate(map_values(col("modifications")),
      lit(0.0), (acc, m) => acc + coalesce(element_at(modMassMap, m), lit(0.0)))
    val derived = withIds
      .withColumn("deltaMass", PeptideFunctions.deltaMz(
        col("peptideSequence"), col("expMassToCharge"), col("charge"), ptmMass))
      .withColumn("missedCleavages",
        PeptideFunctions.missedCleavages(col("peptideSequence"))) // P10 (:702-705)
      .withColumn("retentionTime", // P11 (:631-644)
        coalesce(col("retentionTime"), col("spectrumRt"), lit(Double.NaN)))
      .withColumn("numPeaks", size(col("masses")))

    // ---- F9 assay-level validity ---------------------------------------
    // The reference stamps EVERY output PSM with the assay-level flag
    // (nrDecoys > 0, PrideAnalysisAssayService.java:448,728); the
    // per-spectrum structural check (F12) lives only in the
    // spectra-json-check pass (ArchiveJson.validate). The flag is a
    // plan-time literal from the eager pre-count above.
    val assayValid = lit(nrDecoys > 0L)

    // ---- J5 sample properties ------------------------------------------
    // Fallback for files without SDRF rows: the project-level params
    // (a plan-time literal array — the reference's globalSampleProperties).
    val globalProps: Column =
      if (cfg.globalSampleProps.isEmpty)
        array().cast("array<struct<accession:string,name:string,value:string>>")
      else array(cfg.globalSampleProps.map { case (n, v) =>
        struct(lit(null).cast("string").as("accession"), lit(n).as("name"), lit(v).as("value"))
      }: _*)
    val sampleProps = sdrf match {
      case Some(sd) =>
        val grouped = sd.groupBy(col("fileKey")).agg(
          collect_list(struct(
            col("accession"), col("name"), col("value"))).as("sampleProperties"))
        derived
          .withColumn("fileKey", UsiFunctions.fileNameNoExtension(col("fileName")))
          .join(broadcast(grouped), Seq("fileKey"), "left")
          .withColumn("sampleProperties",
            coalesce(col("sampleProperties"), globalProps))
          .drop("fileKey")
      case None =>
        derived.withColumn("sampleProperties", globalProps)
    }

    // ---- one row per USI (the usi is the primary key; multiple PSMs on
    // one spectrum merge accessions, mirroring the reference's last-wins
    // byte-offset index, PrideJsonRandomAccess.java:39-53) ---------------
    val wUsi = Window.partitionBy(col("usi"))
    // Persisted: three output tables plus the validity counters all derive
    // from this frame — without it every caller action replays the full
    // FDR/join/projection DAG. Callers release via IndexOutputs.unpersist().
    val perPsm = sampleProps
      .withColumn("assayIsValid", assayValid)
      .withColumn("proteinAccessions",
        array_distinct(flatten(collect_list(col("proteinAccessions")).over(wUsi))))
      .withColumn("_rn", row_number().over(wUsi.orderBy(col("psmId"))))
      .filter(col("_rn") === 1).drop("_rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // F9 delta-mass counters are post-join properties (computed in the
    // indexing loop, :646-660). Caller checks nr_decoys>0 &&
    // nr_psms>minPsms (:477-480).
    val deltaCounters = perPsm.agg(
      // coalesce: aggregates over an EMPTY filtered assay are NULL
      coalesce(sum(when(col("deltaMass") > 0.9, 1L).otherwise(0L)), lit(0L))
        .as("nr_error_delta"), // F10
      coalesce(max(when(col("deltaMass") > 10.0, 1L).otherwise(0L)), lit(0L))
        .as("hard_delta_fail"))
    val validity = deltaCounters
      .withColumn("nr_psms", lit(psmCount))
      .withColumn("nr_decoys", lit(nrDecoys))
      .select(col("nr_psms"), col("nr_decoys"), col("nr_error_delta"), col("hard_delta_fail"))

    // ---- P1 archive spectra --------------------------------------------
    val bestScore = param("MS:1002355", "PSM-level q-value", col("q"))
    val archiveSpectra = perPsm.select(
      col("usi"), col("spectraUsi"),
      lit(cfg.projectAccession).as("projectAccession"),
      lit(cfg.assayAccession).as("assayAccession"),
      lit(cfg.reanalysisAccession.orNull).as("reanalysisAccession"),
      col("peptideSequence"), col("peptidoform"),
      col("isDecoy"), col("assayIsValid").as("isValid"),
      col("retentionTime"), col("msLevel"),
      col("charge").as("precursorCharge"),
      col("spectrumPrecursorMz").as("precursorMz"),
      col("masses"), col("intensities"), col("numPeaks"), col("missedCleavages"),
      col("proteinAccessions"),
      graft.functions.ModsToStructsExpr.toStructs(col("modifications")).as("modifications"),
      bestScore.as("bestSearchEngineScore"),
      array(param("MS:1002355", "PSM-level q-value", col("q")),
        param("MS:1002354", "PSM-level FDRScore", col("fdrScore"))).as("scores"),
      array(param("PRIDE:0000511", "delta m/z", round(col("deltaMass"), 6)))
        .as("properties"),
      col("sampleProperties"),
      array(param("MS:1001194", "quality estimation by decoy database", lit("true")))
        .as("qualityEstimationMethods"),
    )

    // ---- P2 summaries (precursorMz from the PSM, :754) -----------------
    val psmSummaries = perPsm.select(
      col("usi"), col("spectraUsi"),
      lit(cfg.projectAccession).as("projectAccession"),
      lit(cfg.assayAccession).as("assayAccession"),
      lit(cfg.reanalysisAccession.orNull).as("reanalysisAccession"),
      col("peptideSequence"), col("peptidoform"),
      col("isDecoy"), col("assayIsValid").as("isValid"),
      col("charge").as("precursorCharge"),
      col("expMassToCharge").as("precursorMz"),
      col("numPeaks"), col("proteinAccessions"),
      bestScore.as("bestSearchEngineScore"),
      array(param("MS:1002355", "PSM-level q-value", col("q"))).as("scores"),
      col("sampleProperties"),
    )

    // ---- J7 + A3-A9 + P12 + F5/F8 protein evidence ---------------------
    val proteinEvidence = buildProteinEvidence(perPsm, cfg)

    IndexOutputs(archiveSpectra, psmSummaries, proteinEvidence, validity,
      psmCount, nrDecoys, Seq(perPsm, psmsU, psmKeyed))
  }

  /** proteinIndexStep (PrideAnalysisAssayService.java:938-995) as one
    * exploded groupBy: all five reference maps collapse into aggregates. */
  private def buildProteinEvidence(perPsm: DataFrame, cfg: IndexConfig): DataFrame = {
    val exploded = perPsm.select(
      explode(col("proteinAccessions")).as("accession"),
      col("usi"), col("peptideSequence"), col("peptidoform"), col("isDecoy"),
      col("charge"), col("expMassToCharge"), col("q"), col("fdrScore"),
      col("modifications"))

    // The per-PSM error estimate the protein stage keys on: best PSM q by
    // default, or the PSM-level FDR score (Combined-FDR family) when the
    // PIA-parity flag is set — used consistently for best-per-peptide
    // selection, the multiplicative score, and the q calibration below.
    val scoreBasis =
      if (cfg.proteinScoreFromPsmFdrScore) col("fdrScore") else col("q")

    // A3 dedup: ONE psm per distinct peptideSequence per protein (the
    // reference's TreeSet(comparing(getPeptideSequence)), :954-955;
    // PSMForScoring.ONLY_BEST under the parity flag).
    val dedup = exploded
      .withColumn("_rn", row_number().over(Window
        .partitionBy(col("accession"), col("peptideSequence"))
        .orderBy(scoreBasis.asc, col("usi").asc)))
      .filter(col("_rn") === 1)

    val rollup = dedup.groupBy(col("accession")).agg(
      min(col("q")).as("bestQ"), // A4
      // A15 multiplicative scoring (PIA's OccamsRazor scoring,
      // PIAModelerService.java:80-101): product over peptides of the best
      // PSM error estimate — computed as -sum(log10 basis) over the
      // per-peptide best rows (this frame is already deduped to
      // best-per-peptide). Clamped away from log10(0) after P9 repair
      // edge cases. Unrounded (`_calibScore`) for calibration ordering;
      // rounded 5 dp for the reported property.
      (-sum(log10(greatest(scoreBasis, lit(1e-18))))).as("_calibScore"),
      round(-sum(log10(greatest(scoreBasis, lit(1e-18)))), 5).as("occamScore"),
      countDistinct(col("peptideSequence")).as("numberPeptides"), // A9
      count(lit(1)).as("numberPSMs"),
      max(col("isDecoy")).as("isDecoy"), // A7 (bool_or)
      array_distinct(flatten(collect_list(map_values(col("modifications")))))
        .as("modificationsNames"), // A8
      sort_array(collect_list(struct( // A3 + W4 ordered by peptideSequence
        col("peptideSequence"),
        struct(col("charge"), col("expMassToCharge").as("precursorMass"),
          col("usi"), col("peptideSequence"),
          PeptideFunctions.removeChargeState(col("peptidoform")).as("peptidoform"))
          .as("o")))).as("sortedOverviews"),
    )

    // A5/A6 inference category over the peptidoform<->protein graph.
    val categories = graft.fdr.ProteinInference.inferenceCategories(
      exploded.select(lit(cfg.assayAccession).as("assay"),
        col("peptidoform").as("peptide"), col("accession").as("protein")))
      .select(col("protein").as("accession"), col("category"))

    // Protein-level target-decoy q-values (F5 gate), optionally after
    // picked-pair competition. Default basis: best PSM q (lower better).
    // PIA-parity flag: the multiplicative protein score (higher better),
    // matching `updateFDRData`/`calculateFDR` over the inference score.
    val betterFirst: Seq[Column] =
      if (cfg.proteinScoreFromPsmFdrScore) Seq(col("_calibScore").desc)
      else Seq(col("bestQ").asc)
    val competed =
      if (cfg.pickedProteinFdr)
        rollup
          .withColumn("_pair", regexp_replace(col("accession"),
            "^" + java.util.regex.Pattern.quote(cfg.decoyPrefix), ""))
          .withColumn("_pr", row_number().over(Window
            .partitionBy(col("_pair"))
            .orderBy(betterFirst ++ Seq(col("isDecoy").asc, col("accession")): _*)))
          .filter(col("_pr") === 1)
          .drop("_pair", "_pr")
      else rollup
    val proteinScored =
      if (cfg.proteinScoreFromPsmFdrScore)
        TargetDecoy.withQValues(
          competed, Seq.empty, col("_calibScore"), col("isDecoy"), col("accession"),
          lowerIsBetter = false)
      else
        TargetDecoy.withQValues(
          competed, Seq.empty, col("bestQ"), col("isDecoy"), col("accession"),
          lowerIsBetter = true)

    // F8 — PIA parity (NR_UNIQUE_PEPTIDES_PER_PROTEIN_FILTER,
    // PrideAnalysisAssayService.java:470): the gate counts peptides UNIQUE
    // to the protein — PIA's "unique peptide" is one whose protein list is
    // exactly [this protein], the same uniqueness notion as the A6
    // inference category — NOT the distinct-peptide count (that stays the
    // reported `numberPeptides`, :963-964). Uniqueness is over
    // peptideSequence, consistent with the A9 count the gate's namesake
    // reports. At the default uniquePeptides=0 the gate is off and the
    // uniqueness subtree is never built — zero added shuffles.
    val qFiltered = proteinScored
      .join(categories, Seq("accession"), "left")
      .filter(col("q_value") <= cfg.proteinQThreshold) // F5 (:460)
    val gated =
      if (cfg.uniquePeptides <= 0) qFiltered
      else {
        val uniqueCounts = exploded
          .groupBy(col("peptideSequence"))
          .agg(collect_set(col("accession")).as("_accs"))
          .filter(size(col("_accs")) === 1)
          .select(element_at(col("_accs"), 1).as("accession"))
          .groupBy(col("accession"))
          .agg(count(lit(1)).as("_uniquePeptides"))
        qFiltered
          .join(uniqueCounts, Seq("accession"), "left")
          .filter(coalesce(col("_uniquePeptides"), lit(0L)) >= cfg.uniquePeptides) // F8 (:470)
          .drop("_uniquePeptides")
      }

    gated
      .select(
        col("accession").as("reportedAccession"),
        lit(cfg.projectAccession).as("projectAccession"),
        lit(cfg.assayAccession).as("assayAccession"),
        lit(cfg.reanalysisAccession.orNull).as("reanalysisAccession"),
        lit(true).as("isValid"),
        col("isDecoy"),
        col("numberPeptides").cast("int").as("numberPeptides"),
        col("numberPSMs").cast("int").as("numberPSMs"),
        col("modificationsNames"),
        struct(lit("MS:1002355").as("accession"), // P12 (:950-951)
          lit("protein-level q-value").as("name"),
          // DecimalFormat("###.#####") parity (the reference's score
          // formatter, PeptideFunctions.decimalFormat5). Under the
          // PIA-parity flag the reported protein score IS the
          // multiplicative inference score.
          PeptideFunctions.decimalFormat5(
            if (cfg.proteinScoreFromPsmFdrScore) col("_calibScore")
            else PeptideFunctions.proteinScore(col("bestQ"))).as("value"))
          .as("bestSearchEngineScore"),
        array(
          struct(lit("MS:1001600").as("accession"),
            lit("protein inference confidence category").as("name"),
            coalesce(col("category"), lit("indistinguishable")).as("value")),
          struct(lit("MS:1002404").as("accession"),
            lit(if (cfg.proteinScoreFromPsmFdrScore)
              "multiplicative protein score (-sum log10 FDRScore)"
            else "multiplicative protein score (-sum log10 q)").as("name"),
            col("occamScore").cast("string").as("value")),
        ).as("properties"),
        array(struct(lit("MS:1001194").as("accession"),
          lit("quality estimation by decoy database").as("name"),
          lit("true").as("value"))).as("qualityEstimationMethods"),
        transform(col("sortedOverviews"), x => x.getField("o")).as("psmAccessions"),
      )
  }
}
