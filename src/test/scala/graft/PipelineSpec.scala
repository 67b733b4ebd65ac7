package graft

import graft.pipeline.{ClusterInference, IndexPipeline}
import graft.pipeline.IndexPipeline.IndexConfig
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end micro-assay for the generate-index-files DAG (SURVEY §3.1)
  * and the cluster-consensus inference (§3.2), mirroring FIXTURES.md §6. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val MPL = graft.functions.UsiFunctions.IdFormat.MultiPeakListNativeId

  // (psmId, seq, protein, decoy, score, charge, expMz, calcMz, mods, sourceId)
  private def psms = Seq(
    ("1", "PEPTIDEK", "sp|P1", false, 10.0, 2, 458.23, 458.23, Map(3 -> "UNIMOD:35"), "index=0"),
    ("2", "ELVISLIVESK", "sp|P1", false, 9.5, 2, 607.38, 607.38, Map.empty[Int, String], "index=1"),
    ("2", "ELVISLIVESK", "sp|P2", false, 9.5, 2, 607.38, 607.38, Map.empty[Int, String], "index=1"),
    ("4", "AAAAKPEPR", "sp|P2", false, 9.0, 2, 456.76, 456.76, Map.empty[Int, String], "index=2"),
    ("5", "DECOYPEPK", "DECOY_P9", true, 2.0, 2, 524.76, 524.76, Map.empty[Int, String], "index=3"),
    ("6", "SHORT", "sp|P3", false, 8.0, 2, 295.17, 295.17, Map.empty[Int, String], "index=4"), // F6
    ("7", "APEPTIDE", "sp|P3", false, 7.0, 2, 434.71, 434.71, Map(1 -> "UNIMOD:21"), "index=5"), // F7
    ("8", "MISSINGSPEC", "sp|P3", false, 6.0, 2, 600.0, 600.0, Map.empty[Int, String], "index=null"), // F3
  ).toDF("psmId", "peptideSequence", "proteinAccession", "isDecoy", "score",
      "charge", "expMassToCharge", "calcMassToCharge", "modifications", "sourceId")
    .withColumn("fileName", lit("run1.mgf"))
    .withColumn("idFormat", lit(MPL))
    .withColumn("fileType", lit("MGF"))
    .withColumn("retentionTime", lit(null).cast("double"))

  private def spectra = (0 to 5).map { i =>
    ("run1.mgf", i.toLong, i.toString, s"spec$i", 2, 400.0 + i, 2,
      Some(60.0 + i), Seq(100.0, 200.0, 300.0), Seq(10.0, 20.0, 30.0))
  }.toDF("fileName", "index", "scanId", "title", "msLevel", "precursorMz",
      "precursorCharge", "retentionTime", "masses", "intensities")
    .withColumn("fileType", lit("MGF"))

  private val cfg = IndexConfig(
    projectAccession = "PXDTEST", assayAccession = "assay1",
    qValueThreshold = 0.05, minPsms = 1)

  test("index pipeline: filters, FDR, join, USI, outputs") {
    val out = IndexPipeline.run(psms, spectra, None, cfg)

    val spec = out.archiveSpectra.orderBy(col("usi")).collect()
    // survivors: psm 1, 2(merged accessions), 4 — decoy killed by F4,
    // SHORT by F6, phospho-Ala by F7, index=null by F3.
    assert(spec.length == 3)
    val byUsi = spec.map(r => r.getAs[String]("usi") -> r).toMap
    assert(byUsi.keySet == Set(
      "mzspec:PXDTEST:run1:index:1",
      "mzspec:PXDTEST:run1:index:2",
      "mzspec:PXDTEST:run1:index:3"))

    val s1 = byUsi("mzspec:PXDTEST:run1:index:1")
    assert(s1.getAs[String]("peptidoform") == "PEP[UNIMOD:35]TIDEK/2")
    assert(s1.getAs[String]("spectraUsi") == "mzspec:PXDTEST:run1:index:1")
    assert(s1.getAs[Int]("numPeaks") == 3)
    assert(s1.getAs[Double]("precursorMz") == 400.0) // spectrum-side m/z
    assert(s1.getAs[Double]("retentionTime") == 60.0) // P11 spectrum fallback
    assert(s1.getAs[Int]("missedCleavages") == 0)
    assert(s1.getAs[Boolean]("isValid"))

    val s2 = byUsi("mzspec:PXDTEST:run1:index:2")
    assert(s2.getAs[scala.collection.Seq[String]]("proteinAccessions").toSet == Set("sp|P1", "sp|P2"))

    // summaries mirror, with PSM-side precursorMz (FIXTURES §4.2)
    val sum1 = out.psmSummaries.filter(col("usi").endsWith(":1")).head()
    assert(sum1.getAs[Double]("precursorMz") == 458.23)

    // F9 validity counters: computed over the UNFILTERED PSM set, like the
    // reference (7 unique psmIds incl. the decoy; 1 decoy present).
    val v = out.validity.head()
    assert(v.getAs[Long]("nr_psms") == 7)
    assert(v.getAs[Long]("nr_decoys") == 1)

    // protein evidence: P1 {PEPTIDEK, ELVISLIVESK}, P2 {ELVISLIVESK, AAAAKPEPR}
    val prot = out.proteinEvidence.orderBy(col("reportedAccession")).collect()
    assert(prot.map(_.getAs[String]("reportedAccession")).toSeq == Seq("sp|P1", "sp|P2"))
    val p1 = prot(0)
    assert(p1.getAs[Int]("numberPeptides") == 2)
    assert(p1.getAs[Int]("numberPSMs") == 2)
    assert(!p1.getAs[Boolean]("isDecoy"))
    val overviews = p1.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("psmAccessions")
    assert(overviews.map(_.getAs[String]("peptideSequence")).toSeq ==
      Seq("ELVISLIVESK", "PEPTIDEK")) // W4: sorted by sequence
    assert(overviews.head.getAs[String]("peptidoform") == "ELVISLIVESK") // charge stripped
    // modifications rollup (A8)
    assert(p1.getAs[scala.collection.Seq[String]]("modificationsNames").toSeq == Seq("UNIMOD:35"))
  }

  test("index pipeline: q-value repair keeps perfect targets above zero") {
    val out = IndexPipeline.run(psms, spectra, None, cfg)
    val qs = out.archiveSpectra
      .select(col("bestSearchEngineScore.value").cast("double")).collect().map(_.getDouble(0))
    // decoy at rank bottom: targets' raw q == 0 -> repaired to min-positive/10
    assert(qs.forall(q => q > 0 && q <= 0.05))
  }

  test("index pipeline: sdrf sample properties joined per file") {
    val sdrf = Seq(("run1", "EFO:0000634", "organism", "Homo sapiens"))
      .toDF("fileKey", "accession", "name", "value")
    val out = IndexPipeline.run(psms, spectra, Some(sdrf), cfg)
    val props = out.archiveSpectra.limit(1)
      .select(explode(col("sampleProperties")).as("p"))
      .select(col("p.accession"), col("p.name"), col("p.value")).collect()
    assert(props.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("EFO:0000634", "organism", "Homo sapiens")))
  }

  test("picked protein FDR drops the losing member of each target/decoy pair") {
    // sp|P1 (target, good q) vs DECOY_sp|P1 (decoy, bad q): picked keeps
    // only the target; naive FDR would keep both.
    val psmRows = Seq(
      ("1", "PEPTIDEK", "sp|P1", false, 10.0, 2, 458.23, 458.23, Map.empty[Int, String], "index=0"),
      ("2", "ELVISLIVESK", "DECOY_sp|P1", true, 2.0, 2, 607.38, 607.38, Map.empty[Int, String], "index=1"),
    ).toDF("psmId", "peptideSequence", "proteinAccession", "isDecoy", "score",
        "charge", "expMassToCharge", "calcMassToCharge", "modifications", "sourceId")
      .withColumn("fileName", lit("run1.mgf"))
      .withColumn("idFormat", lit(MPL))
      .withColumn("fileType", lit("MGF"))
      .withColumn("retentionTime", lit(null).cast("double"))
    val looseCfg = cfg.copy(qValueThreshold = 1.0, proteinQThreshold = 1.0)

    val naive = IndexPipeline.run(psmRows, spectra, None, looseCfg)
      .proteinEvidence.collect().map(_.getAs[String]("reportedAccession")).toSet
    assert(naive == Set("sp|P1", "DECOY_sp|P1"))

    val picked = IndexPipeline.run(psmRows, spectra, None,
      looseCfg.copy(pickedProteinFdr = true))
      .proteinEvidence.collect().map(_.getAs[String]("reportedAccession")).toSet
    assert(picked == Set("sp|P1"))
  }

  test("cluster inference: purity filters and representatives (A10-A12)") {
    val spectra = Seq(
      (0L, "u0", "AAK", "AAK/2", false, 0.010),
      (1L, "u1", "AAK", "AAK/2", false, 0.005),
      (2L, "u2", "LEVK", "LEVK/2", false, 0.010),
      (3L, "u3", "IEVK", "IEVK/2", false, 0.020),
      (4L, "u4", "CCK", "CCK/2", false, 0.010),
      (5L, "u5", "DDK", "DDK/2", false, 0.010),
      (6L, "u6", "EEK", "EEK/2", false, 0.030),
    ).toDF("index", "usi", "peptideSequence", "peptidoform", "isDecoy", "score")
    val clusters = Seq(
      ("f", 0L, 10L), ("f", 1L, 10L), ("f", 2L, 11L), ("f", 3L, 11L),
      ("f", 4L, 12L), ("f", 5L, 12L), ("f", 6L, 13L),
    ).toDF("file", "spectrumIndex", "clusterId")

    val out = ClusterInference.run(spectra, clusters)
    val reps = out.representatives.orderBy(col("clusterId"))
      .select(col("clusterId"), col("usi")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(reps == Seq((10L, "u1"), (13L, "u6"))) // best score in pure clusters

    val removed = out.removed.orderBy(col("clusterId")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(removed == Seq(
      (11L, "no_majority_peptidoform"), // L/I isobaric but two 50% forms
      (12L, "multiple_isobaric_sequences")))
  }

  test("cluster inference: legacy first-seen-wins representative (A12)") {
    // file order: B first, then the dominant form A (3 of 4 members).
    val spectra = Seq(
      (0L, "u0", "AAK", "AAK/3", false, 0.5), // first seen: form B
      (1L, "u1", "AAK", "AAK/2", false, 0.1),
      (2L, "u2", "AAK", "AAK/2", false, 0.2),
      (3L, "u3", "AAK", "AAK/2", false, 0.3),
    ).toDF("index", "usi", "peptideSequence", "peptidoform", "isDecoy", "score")
    val clusters = Seq(("f", 0L, 1L), ("f", 1L, 1L), ("f", 2L, 1L), ("f", 3L, 1L))
      .toDF("file", "spectrumIndex", "clusterId")

    val clean = ClusterInference.run(spectra, clusters)
      .representatives.select(col("usi")).head().getString(0)
    assert(clean == "u1") // dominant form A, best score

    val legacy = ClusterInference.run(spectra, clusters, legacyFirstSeen = true)
      .representatives.select(col("usi")).head().getString(0)
    assert(legacy == "u0") // reference: first-seen form wins outright
  }

  test("cluster inference: legacy first-seen form identity is isobaric (L/I)") {
    // forms differ only by L/I: the reference's PeptidoformClustered
    // equality (L->I) treats all four as ONE form, so first-seen is index
    // 0's form and the representative is the lowest score overall
    val spectra = Seq(
      (0L, "u0", "PEPTLDE", "PEPTLDE/2", false, 0.9),
      (1L, "u1", "PEPTIDE", "PEPTIDE/2", false, 0.1),
      (2L, "u2", "PEPTIDE", "PEPTIDE/2", false, 0.2),
      (3L, "u3", "PEPTIDE", "PEPTIDE/2", false, 0.3),
    ).toDF("index", "usi", "peptideSequence", "peptidoform", "isDecoy", "score")
    val clusters = Seq(("f", 0L, 1L), ("f", 1L, 1L), ("f", 2L, 1L), ("f", 3L, 1L))
      .toDF("file", "spectrumIndex", "clusterId")
    val legacy = ClusterInference.run(spectra, clusters, legacyFirstSeen = true)
      .representatives.select(col("usi")).head().getString(0)
    assert(legacy == "u1") // NOT u0: raw-form grouping would pick 0.9's row
  }

  test("cluster inference: null scores never win; null sequences carry no evidence") {
    val spectra = Seq(
      (0L, "u0", "AAK", "AAK/2", false, null.asInstanceOf[java.lang.Double]),
      (1L, "u1", "AAK", "AAK/2", false, java.lang.Double.valueOf(0.3)),
      (2L, "u2", null.asInstanceOf[String], null.asInstanceOf[String], false,
        java.lang.Double.valueOf(0.1)),
    ).toDF("index", "usi", "peptideSequence", "peptidoform", "isDecoy", "score")
    val clusters = Seq(("f", 0L, 1L), ("f", 1L, 1L), ("f", 2L, 1L))
      .toDF("file", "spectrumIndex", "clusterId")
    val rep = ClusterInference.run(spectra, clusters)
      .representatives.select(col("usi")).head().getString(0)
    assert(rep == "u1") // not the null-score u0, not the null-sequence u2
  }

  test("cluster inference: orphan cluster members fail loudly, not silently") {
    val spectra = Seq((0L, "u0", "AAK", "AAK/2", false, 0.1))
      .toDF("index", "usi", "peptideSequence", "peptidoform", "isDecoy", "score")
    val clusters = Seq(("f", 0L, 1L), ("f", 99L, 1L)) // 99 has no spectrum row
      .toDF("file", "spectrumIndex", "clusterId")
    intercept[IllegalArgumentException] {
      ClusterInference.run(spectra, clusters)
    }
    // opt-out accepts the partial membership
    assert(ClusterInference.run(spectra, clusters, requireFullCoverage = false)
      .representatives.count() == 1)
  }

  test("cluster inference: legacy integer-ratio keeps only 100% clusters") {
    // 3 members, dominant form 2/3 (>0.5 clean, 0 legacy)
    val spectra = Seq(
      (0L, "u0", "AAK", "AAK/2", false, 0.01),
      (1L, "u1", "AAK", "AAK/2", false, 0.02),
      (2L, "u2", "AAK", "AAK/3", false, 0.03), // same iso seq, different form
    ).toDF("index", "usi", "peptideSequence", "peptidoform", "isDecoy", "score")
    val clusters = Seq(("f", 0L, 1L), ("f", 1L, 1L), ("f", 2L, 1L))
      .toDF("file", "spectrumIndex", "clusterId")

    assert(ClusterInference.run(spectra, clusters).representatives.count() == 1)
    assert(ClusterInference.run(spectra, clusters, legacyRatio = true)
      .representatives.count() == 0) // InferenceService.java:126 bug-compat
  }

  test("J1 stage-2 unique-contains rescue (JmzReaderSpectrumService:85-89)") {
    val MZML = graft.functions.UsiFunctions.IdFormat.MzmlId
    // exact-miss PSMs: one uniquely-contained, one ambiguous, one targeting
    // an index-addressed (MGF) file that must never be rescued; plus one
    // exact hit via the scan-token key
    val psmKeyed = Seq(
      ("p_exact", "scan=9", "a.mzML", MZML),
      ("p_unique", "scan=foo7", "a.mzML", MZML), // strippedId foo7, 1 hit
      ("p_ambig", "amb", "a.mzML", MZML), // contained in 2 spectrum ids
      ("p_mgf", "frag3", "b.mgf", MZML), // MGF family: index-addressed
    ).toDF("psmId", "sourceId", "fileName", "idFormat")
      .withColumn("scanKey", graft.functions.UsiFunctions.normalizeScanId(
        col("sourceId"), col("idFormat")))
    val spectraKeyed = Seq(
      ("a.mzML", "controllerType=0 controllerNumber=1 scan=9", "MZML", 1.0),
      ("a.mzML", "run foo7 extra", "MZML", 2.0),
      ("a.mzML", "amb left", "MZML", 3.0),
      ("a.mzML", "amb right", "MZML", 4.0),
      ("b.mgf", "has frag3 inside", "MGF", 5.0),
    ).toDF("fileName", "scanId", "spectrumFileType", "payload")
      .withColumn("scanKey", graft.functions.UsiFunctions.normalizeScanId(
        col("scanId"), lit(MZML)))
      .select("fileName", "scanKey", "scanId", "spectrumFileType", "payload")
    val out = IndexPipeline.scanKeyJoin(psmKeyed, spectraKeyed)
      .select("psmId", "scanKey", "payload").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toMap2
    assert(out == Map(
      "p_exact" -> ("9", 1.0), // stage-1 scan-token equi-join
      "p_unique" -> ("foo7", 2.0), // rescued; keeps the PSM's own scanKey
    )) // p_ambig: 2 containing ids -> dropped; p_mgf: never id-rescued
  }

  /** Runs `body` and counts the Spark jobs it started on this thread. A
    * sentinel job in the same job group flushes the listener bus, so every
    * earlier job event has arrived before the count is read. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "body")
    try {
      val out = body
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains("sentinel"), "the listener bus never delivered the sentinel job")
      (out, started.size - 1)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("J1 rescue over MGF-family spectra: no job, no pin, even when idFormat arrives through a join") {
    val dir = java.nio.file.Files.createTempDirectory("rescue-mgf").toFile
    val mgf = (0 to 1).map(i =>
      s"BEGIN IONS\nTITLE=s$i\nPEPMASS=40$i.0\nCHARGE=2+\n100.0 10.0\n200.0 20.0\nEND IONS\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "a.mgf").toPath, mgf.mkString)
    // the mzid command's shape: the id format is a column of the broadcast
    // join with the parsed SpectraData, an RDD-backed frame the optimizer
    // cannot evaluate — so the PSM side of the rescue never folds
    val sd = spark.sparkContext.parallelize(Seq(("sd1", "a.mgf", MPL)))
      .toDF("spectraDataId", "fileName", "idFormat")
    val psmKeyed = Seq(("p1", "index=0", "sd1"), ("p2", "index=1", "sd1"), ("p3", "index=7", "sd1"))
      .toDF("psmId", "sourceId", "spectraDataRef")
      .join(broadcast(sd), col("spectraDataRef") === col("spectraDataId"))
      .withColumn("scanKey", graft.functions.UsiFunctions.normalizeScanId(
        col("sourceId"), col("idFormat")))
    def keyed(spectra: DataFrame): DataFrame = spectra
      .withColumn("scanKey", (col("index") + 1).cast("string"))
      .withColumnRenamed("fileType", "spectrumFileType")
      .select("fileName", "scanKey", "scanId", "spectrumFileType", "precursorMz")
    val spectra = graft.pipeline.Commands.readSpectraDir(spark, dir.getPath)
    def noProbe(name: String): Unit = {
      val (out, jobs) = jobsStartedBy(IndexPipeline.scanKeyJoin(psmKeyed, keyed(spectra)))
      assert(jobs == 0, s"$name spectra: the rescue probe ran $jobs job(s)")
      assert(psmKeyed.storageLevel == StorageLevel.NONE, s"$name spectra: psmKeyed was pinned")
      val got = out.select("psmId", "scanKey", "precursorMz").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
      assert(got == Seq(("p1", "1", 400.0), ("p2", "2", 401.0)), s"$name spectra")
    }
    noProbe("plain")
    // pinned, as a caller that reuses the spectra does: the cached plan is
    // an opaque leaf, but the rescue must still be proven dead
    spectra.persist(StorageLevel.MEMORY_AND_DISK).count()
    try noProbe("persisted")
    finally {
      spectra.unpersist()
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  private implicit class Tuples3(rows: Array[(String, String, Double)]) {
    def toMap2: Map[String, (String, Double)] =
      rows.map { case (a, b, c) => a -> (b, c) }.toMap
  }

  test("F8/F11 filter-gate assay differentiates both gates (PIA unique-peptide semantics)") {
    val out = graft.pipeline.DemoAssay.filterGateIndex(spark)
    val prots = out.proteinEvidence.select("reportedAccession")
      .as[String].collect().sorted
    // PIA predicate at uniquePeptides=1: sp|P4's single peptide is unique
    // to it (kept — the old distinct-count >= 2 gate dropped it); sp|P5 and
    // sp|P6 each have 2 DISTINCT peptides but 0 UNIQUE ones (both shared
    // between exactly the two) — the old gate kept them, PIA parity drops
    // them even though every one of their PSMs survives the PSM gates
    // (index:9 / index:10 below).
    assert(prots.sameElements(Array("sp|P1", "sp|P2", "sp|P4")), prots.mkString(","))
    val usis = out.archiveSpectra.select("usi").as[String].collect().sorted
    assert(usis.contains("mzspec:PXDTEST:run1:index:8"))
    assert(usis.contains("mzspec:PXDTEST:run1:index:9"))
    assert(usis.contains("mzspec:PXDTEST:run1:index:10"))
    // PSM 9 differs from PSM 10 only in targeting the msLevel-1 spectrum
    assert(!usis.exists(_.endsWith("index:7")), usis.mkString(","))
  }

  test("PSM dedup: an all-NULL-accession PSM keeps its payload row") {
    // min_by SKIPS null ordering keys — with the bare accession as the key,
    // psm 4's single null-accession row would collapse the whole payload
    // struct (sequence, charge, masses, ...) to NULL. The null-proofed key
    // must keep it, matching the old window form's nulls-first pick.
    val p = psms.withColumn("proteinAccession",
      when(col("psmId") === "4", lit(null).cast("string"))
        .otherwise(col("proteinAccession")))
    val out = IndexPipeline.run(p, spectra, None, cfg)
    val s = out.archiveSpectra
      .filter(col("usi") === "mzspec:PXDTEST:run1:index:3").head()
    assert(s.getAs[String]("peptideSequence") == "AAAAKPEPR", s.toString)
    assert(s.getAs[scala.collection.Seq[String]]("proteinAccessions").isEmpty)
    out.unpersist()
  }

  test("stage-2 rescue fails fast past the lookup cap (systematic id mismatch)") {
    val MZML = graft.functions.UsiFunctions.IdFormat.MzmlId
    val psmKeyed = Seq(("p1", "idA", "a.mzML", MZML), ("p2", "idB", "a.mzML", MZML))
      .toDF("psmId", "sourceId", "fileName", "idFormat")
      .withColumn("scanKey", graft.functions.UsiFunctions.normalizeScanId(
        col("sourceId"), col("idFormat")))
    val spectraKeyed = Seq(("a.mzML", "zzz", "MZML", 1.0))
      .toDF("fileName", "scanId", "spectrumFileType", "payload")
      .withColumn("scanKey", graft.functions.UsiFunctions.normalizeScanId(
        col("scanId"), lit(MZML)))
      .select("fileName", "scanKey", "scanId", "spectrumFileType", "payload")
    val e = intercept[IllegalStateException] {
      IndexPipeline.scanKeyJoin(psmKeyed, spectraKeyed, rescueLookupCap = 1)
    }
    assert(e.getMessage.contains("systematically mismatched"), e.getMessage)
  }

  test("empty assay: pipeline completes with zeroed validity, no crash") {
    import org.apache.spark.sql.functions._
    val psms = graft.pipeline.DemoAssay.psms(spark).filter(lit(false))
    val out = graft.pipeline.IndexPipeline.run(
      psms, graft.pipeline.DemoAssay.spectra(spark), None, graft.pipeline.DemoAssay.config)
    val v = out.validity.head()
    // every counter must be a real zero, not a NULL aggregate
    assert((0 to 3).forall(i => !v.isNullAt(i) && v.getLong(i) == 0L), v.toString)
    assert(out.archiveSpectra.count() == 0L)
    assert(out.proteinEvidence.count() == 0L)
    out.unpersist()
  }
}
