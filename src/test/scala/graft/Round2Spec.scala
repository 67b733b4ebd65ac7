package graft

import java.nio.file.Files

import graft.fdr.{CombinedFdr, TargetDecoy}
import graft.functions.PeptideFunctions
import graft.operators.{Dedup, GlobalIndex, Similarity}
import graft.pipeline.{Commands, IndexPipeline}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 behaviors: counts-based FDR score, an RDD-free index plan,
  * global repair without a window, distributed global index,
  * deterministic IVF training, multi-evidence mzid rows, file-scoped psmId
  * uniqueness, peak-list fileType routing, DecimalFormat parity. */
class Round2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomPsms(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextInt(3) == 0))
      .toDF("id", "score", "decoy")
  }

  test("counts-based FDR score equals the windowed interpolation, both orders") {
    for (lower <- Seq(false, true)) {
      val df = randomPsms(400, 13)
      val windowed = CombinedFdr
        .withFdrScore(df, Seq.empty, col("score"), col("decoy"), col("id"), lower)
        .select(col("id"), col("fdr_score"))
      val counted = CombinedFdr.withFdrScoreFromCounts(
        TargetDecoy.withQValues(df, Seq.empty, col("score"), col("decoy"), col("id"), lower),
        col("decoy"))
        .select(col("id"), col("fdr_score").as("fdr_score_c"))
      val joined = windowed.join(counted, "id").collect()
      assert(joined.length == 400)
      joined.foreach { r =>
        assert(r.getDouble(1) == r.getDouble(2), s"id=${r.getLong(0)}")
      }
    }
  }

  test("the index plan scans no RDD: the FDR sweep stays in the DataFrame plan") {
    val out = IndexPipeline.run(graft.pipeline.DemoAssay.psms(spark),
      graft.pipeline.DemoAssay.spectra(spark), None, graft.pipeline.DemoAssay.config)
    try {
      val plan = out.archiveSpectra.queryExecution.optimizedPlan.toString
      assert(!plan.contains("ExistingRDD") && !plan.contains("LogicalRDD"), plan)
    } finally out.unpersist()
  }

  test("global zero-q repair (broadcast aggregate) matches the grouped window form") {
    val df = Seq((1L, 0.0), (2L, 0.02), (3L, 0.0), (4L, 0.5)).toDF("id", "q")
    val globalForm = TargetDecoy.repairZeroQValues(df, col("q"), Seq.empty, "rq")
      .orderBy(col("id")).select(col("rq")).collect().map(_.getDouble(0)).toSeq
    val windowForm = TargetDecoy.repairZeroQValues(df, col("q"), Seq(lit(1)), "rq")
      .orderBy(col("id")).select(col("rq")).collect().map(_.getDouble(0)).toSeq
    assert(globalForm == windowForm)
    assert(globalForm == Seq(0.002, 0.02, 0.002, 0.5))
    // all-zero group -> NaN
    val allZero = Seq((1L, 0.0)).toDF("id", "q")
    val got = TargetDecoy.repairZeroQValues(allZero, col("q"), Seq.empty, "rq")
      .select(col("rq")).head().getDouble(0)
    assert(got.isNaN)
  }

  test("distributed global index equals the single-task window rank") {
    val df = (1 to 5000).map(i => (s"usi${5000 - i}", i)).toDF("usi", "payload")
    val want = df
      .withColumn("index", row_number().over(Window.orderBy(col("usi"))).cast("long") - 1)
      .select(col("usi"), col("index"))
    val got = GlobalIndex.withGlobalIndex(df, Seq(col("usi")), "index", numPartitions = 9)
      .select(col("usi"), col("index").as("index_g"))
    val joined = want.join(got, "usi").collect()
    assert(joined.length == 5000)
    joined.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("deterministic KMeans centroids are identical across invocations") {
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 200)
      .map(i => (i.toLong, Seq.fill(8)(rnd.nextDouble())))
      .toDF("id", "vec")
    val a = Similarity.deterministicCentroids(vecs, nCells = 4, iters = 5)
    val b = Similarity.deterministicCentroids(vecs, nCells = 4, iters = 5)
    assert(a == b)
    assert(a.map(_._1) == Seq(0, 1, 2, 3))
    assert(a.forall(_._2.length == 8))
  }

  test("mzid: every PeptideEvidenceRef is kept; decoy only when all evidences are decoy") {
    val mzid =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1">
        | <SequenceCollection>
        |  <DBSequence id="dbs1" accession="sp|SHARED1"/>
        |  <DBSequence id="dbs2" accession="DECOY_sp|SHARED2"/>
        |  <Peptide id="pep1"><PeptideSequence>SHAREDPEPK</PeptideSequence></Peptide>
        |  <PeptideEvidence id="ev1" peptide_ref="pep1" dBSequence_ref="dbs1" isDecoy="false"/>
        |  <PeptideEvidence id="ev2" peptide_ref="pep1" dBSequence_ref="dbs2" isDecoy="true"/>
        | </SequenceCollection>
        | <DataCollection><Inputs>
        |  <SpectraData id="sd1" location="file://data/run1.mgf">
        |   <SpectrumIDFormat><cvParam accession="MS:1000774" name="mp"/></SpectrumIDFormat>
        |  </SpectraData>
        | </Inputs>
        | <AnalysisData><SpectrumIdentificationList>
        |  <SpectrumIdentificationResult id="r1" spectrumID="index=0" spectraData_ref="sd1">
        |   <SpectrumIdentificationItem id="sii1" rank="1" chargeState="2"
        |     experimentalMassToCharge="500.0" calculatedMassToCharge="500.0" peptide_ref="pep1">
        |    <PeptideEvidenceRef peptideEvidence_ref="ev1"/>
        |    <PeptideEvidenceRef peptideEvidence_ref="ev2"/>
        |    <cvParam accession="MS:1002257" name="Comet:expectation value" value="0.001"/>
        |   </SpectrumIdentificationItem>
        |  </SpectrumIdentificationResult>
        | </SpectrumIdentificationList></AnalysisData>
        | </DataCollection>
        |</MzIdentML>
        |""".stripMargin
    val parsed = graft.io.MzIdentMlIO.parseFile {
      val d = Files.createTempDirectory("graft-ev")
      Files.writeString(d.resolve("a.mzid"), mzid).toString
    }
    assert(parsed.psms.length == 2)
    assert(parsed.psms.map(_.proteinAccession).toSet == Set("sp|SHARED1", "DECOY_sp|SHARED2"))
    assert(parsed.psms.map(_.isDecoy).sorted == Seq(false, true))
    // pipeline AND rule: one target evidence -> the PSM is NOT decoy
    val df = spark.createDataFrame(parsed.psms)
    val merged = df
      .withColumn("mergedDecoy", min(col("isDecoy")).over(Window.partitionBy(col("psmId"))))
    assert(merged.select(col("mergedDecoy")).distinct().head().getBoolean(0) == false)
  }

  test("multi-file mzid runs keep same-named SIIs on DIFFERENT spectra distinct") {
    val dir = Files.createTempDirectory("graft-multimzid")
    val mzid = CommandsFixtures.simpleMzid
    val f1 = Files.writeString(dir.resolve("a.mzid"), mzid).toString
    // b.mzid reuses the SAME SII ids (sii1/sii2) but identifies DIFFERENT
    // spectra: the file-scoped psmId plus the per-spectrum set key must
    // keep all four apart. (Identical identifications across files DO
    // merge into one PSM set — createPSMSets(true) semantics — covered by
    // the multi-mzid CommandsSpec test and the pipeline_multifile oracle.)
    val f2 = Files.writeString(dir.resolve("b.mzid"),
      mzid.replace("index=0", "index=2").replace("index=1", "index=3")).toString
    val mgfDir = Files.createDirectory(dir.resolve("spectra"))
    Files.writeString(mgfDir.resolve("run1.mgf"),
      "BEGIN IONS\nTITLE=s0\nPEPMASS=400.0\nCHARGE=2+\n100.0\t10.0\nEND IONS\n" +
        "BEGIN IONS\nTITLE=s1\nPEPMASS=401.0\nCHARGE=2+\n100.0\t10.0\nEND IONS\n")
    val out = Commands.generateIndexFilesFromMzid(
      spark, Seq(f1, f2), mgfDir.toString, dir.resolve("out").toString,
      IndexPipeline.IndexConfig("PXDMULTI", "a1", qValueThreshold = 1.0,
        minPsms = 1, scoreLowerIsBetter = true))
    val v = out.validity.head()
    assert(v.getAs[Long]("nr_psms") == 4L)
    assert(v.getAs[Long]("nr_decoys") == 2L)
    out.unpersist()
  }

  test("multi-file mzid: same spectrum/peptide/charge, DIFFERENT mods stay separate sets") {
    // PIA set identity includes modifications — file B re-identifies the
    // same spectra as the same peptide/charge but WITH an oxidation, so
    // nothing merges: 4 PSM sets, not 2.
    val dir = Files.createTempDirectory("graft-multimzid-mods")
    val a = CommandsFixtures.simpleMzid
    val b = a.replace(
      "<Peptide id=\"pep1\"><PeptideSequence>PEPTIDEKR</PeptideSequence></Peptide>",
      "<Peptide id=\"pep1\"><PeptideSequence>PEPTIDEKR</PeptideSequence>" +
        "<Modification location=\"3\" monoisotopicMassDelta=\"15.994915\">" +
        "<cvParam accession=\"UNIMOD:35\" name=\"Oxidation\" cvRef=\"UNIMOD\"/>" +
        "</Modification></Peptide>")
    assert(b != a, "fixture surgery failed — peptide element not found")
    val f1 = Files.writeString(dir.resolve("a.mzid"), a).toString
    val f2 = Files.writeString(dir.resolve("b.mzid"), b).toString
    val mgfDir = Files.createDirectory(dir.resolve("spectra"))
    Files.writeString(mgfDir.resolve("run1.mgf"),
      "BEGIN IONS\nTITLE=s0\nPEPMASS=400.0\nCHARGE=2+\n100.0\t10.0\nEND IONS\n" +
        "BEGIN IONS\nTITLE=s1\nPEPMASS=401.0\nCHARGE=2+\n100.0\t10.0\nEND IONS\n")
    val out = Commands.generateIndexFilesFromMzid(
      spark, Seq(f1, f2), mgfDir.toString, dir.resolve("out").toString,
      IndexPipeline.IndexConfig("PXDMODS", "a1", qValueThreshold = 1.0,
        minPsms = 1, scoreLowerIsBetter = true))
    val v = out.validity.head()
    assert(v.getAs[Long]("nr_psms") == 4L, v.toString)
    out.unpersist()
  }

  test("mzid SpectraData declaring a .ms2 file joins its spectra end-to-end") {
    val dir = Files.createTempDirectory("graft-ms2join")
    val mzid = CommandsFixtures.simpleMzid.replace("run1.mgf", "run1.ms2")
    val f = Files.writeString(dir.resolve("a.mzid"), mzid).toString
    val specDir = Files.createDirectory(dir.resolve("spectra"))
    Files.writeString(specDir.resolve("run1.ms2"),
      "H\tExtractor\ttest\nS\t7\t7\t445.50\nZ\t2\t890.99\n100.0 10.0\n200.0 20.0\n" +
        "S\t9\t9\t890.90\nZ\t2\t1780.0\n300.0 30.0\n")
    val out = Commands.generateIndexFilesFromMzid(
      spark, Seq(f), specDir.toString, dir.resolve("out").toString,
      IndexPipeline.IndexConfig("PXDMS2", "a1", qValueThreshold = 1.0,
        minPsms = 1, scoreLowerIsBetter = true))
    val spectra = out.archiveSpectra.orderBy(col("usi")).collect()
    assert(spectra.length == 2)
    assert(spectra(0).getAs[String]("usi") == "mzspec:PXDMS2:run1:index:1")
    assert(!spectra(0).getAs[Boolean]("isDecoy"))
    assert(spectra(1).getAs[Boolean]("isDecoy"))
    out.unpersist()
  }

  test("msRun fileType/idFormat mapping covers every readable peak-list format") {
    val runs = Seq((1, "file:///d/a.MGF"), (2, "file:///d/b.mzML"), (3, "file:///d/c.mzXML"),
      (4, "file:///d/d.pkl"), (5, "file:///d/e.ms2"), (6, "file:///d/f.dta"),
      (7, "file:///d/g.apl"), (8, "file:///d/h.raw"))
      .toDF("msRun", "location")
    val got = Commands.msRunFileInfo(runs).orderBy(col("msRun"))
      .select(col("fileType"), col("idFormat")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      ("MGF", "MULTI_PEAK_LIST_NATIVE_ID"), ("MZML", "MZML_ID"),
      ("MZXML", "SPECTRUM_NATIVE_ID"), ("PKL", "MULTI_PEAK_LIST_NATIVE_ID"),
      ("MS2", "MULTI_PEAK_LIST_NATIVE_ID"), ("DTA", "MULTI_PEAK_LIST_NATIVE_ID"),
      ("APL", "MULTI_PEAK_LIST_NATIVE_ID"), ("UNKNOWN", "NONE")))
  }

  private def b64doubles(vs: Seq[Double], little: Boolean = true): String = {
    val bb = java.nio.ByteBuffer.allocate(vs.length * 8)
      .order(if (little) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    vs.foreach(bb.putDouble)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def prideXml(little: Boolean): String = {
    val endian = if (little) "little" else "big"
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<ExperimentCollection version="2.1"><Experiment><mzData>
       | <spectrumList count="2">
       |  <spectrum id="1">
       |   <spectrumDesc><spectrumSettings>
       |    <spectrumInstrument msLevel="2" mzRangeStart="100" mzRangeStop="400"/>
       |   </spectrumSettings>
       |   <precursorList count="1"><precursor msLevel="1" spectrumRef="0">
       |    <ionSelection>
       |     <cvParam cvLabel="MS" accession="MS:1000744" name="selected ion m/z" value="445.5"/>
       |     <cvParam cvLabel="MS" accession="MS:1000041" name="charge state" value="2"/>
       |    </ionSelection>
       |   </precursor></precursorList></spectrumDesc>
       |   <mzArrayBinary><data precision="64" endian="$endian" length="3">${b64doubles(Seq(100.0, 200.0, 300.0), little)}</data></mzArrayBinary>
       |   <intenArrayBinary><data precision="64" endian="$endian" length="3">${b64doubles(Seq(10.0, 20.0, 30.0), little)}</data></intenArrayBinary>
       |  </spectrum>
       |  <spectrum id="2">
       |   <spectrumDesc><spectrumSettings>
       |    <spectrumInstrument msLevel="2"/>
       |   </spectrumSettings>
       |   <precursorList count="1"><precursor msLevel="1" spectrumRef="0">
       |    <ionSelection>
       |     <cvParam cvLabel="PSI" accession="PSI:1000040" name="MassToChargeRatio" value="890.9"/>
       |     <cvParam cvLabel="PSI" accession="PSI:1000041" name="ChargeState" value="3"/>
       |    </ionSelection>
       |   </precursor></precursorList></spectrumDesc>
       |   <mzArrayBinary><data precision="64" endian="$endian" length="2">${b64doubles(Seq(150.0, 250.0), little)}</data></mzArrayBinary>
       |   <intenArrayBinary><data precision="64" endian="$endian" length="2">${b64doubles(Seq(15.0, 25.0), little)}</data></intenArrayBinary>
       |  </spectrum>
       | </spectrumList>
       |</mzData></Experiment></ExperimentCollection>
       |""".stripMargin
  }

  test("PRIDE XML parser: ids, cv params (MS + legacy PSI), base64 arrays, both endians") {
    for (little <- Seq(true, false)) {
      val dir = Files.createTempDirectory("graft-pridexml")
      Files.writeString(dir.resolve("run1.xml"), prideXml(little))
      val rows = graft.io.PrideXmlIO.read(spark, Seq(dir.resolve("run1.xml").toString))
        .orderBy(col("index")).collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("scanId") == "1")
      assert(rows(0).getAs[Int]("msLevel") == 2)
      assert(rows(0).getAs[Double]("precursorMz") == 445.5)
      assert(rows(0).getAs[Int]("precursorCharge") == 2)
      assert(rows(0).getAs[scala.collection.Seq[Double]]("masses") == Seq(100.0, 200.0, 300.0))
      assert(rows(0).getAs[scala.collection.Seq[Double]]("intensities") == Seq(10.0, 20.0, 30.0))
      assert(rows(1).getAs[Double]("precursorMz") == 890.9) // legacy PSI terms
      assert(rows(1).getAs[Int]("precursorCharge") == 3)
    }
  }

  test("PRIDE XML joins end-to-end via the mzTab path (id-addressed, index USI)") {
    val dir = Files.createTempDirectory("graft-pride-e2e")
    val specDir = Files.createDirectory(dir.resolve("spectra"))
    Files.writeString(specDir.resolve("run1.xml"), prideXml(little = true))
    val mztab =
      """MTD	mzTab-version	1.0.0
        |MTD	ms_run[1]-location	file://data/run1.xml
        |PSH	sequence	PSM_ID	accession	unique	search_engine_score[1]	modifications	charge	exp_mass_to_charge	calc_mass_to_charge	spectra_ref	opt_global_cv_MS:1002217_decoy_peptide
        |PSM	PEPTIDEK	1	sp|P1	1	10.0	null	2	445.5	445.5	ms_run[1]:1	0
        |PSM	DECOYPEPK	2	DECOY_P9	1	2.0	null	3	890.9	890.9	ms_run[1]:2	1
        |""".stripMargin
    val mzTabPath = Files.writeString(dir.resolve("a.mztab"), mztab).toString
    val out = Commands.generateIndexFiles(
      spark, mzTabPath, specDir.toString, dir.resolve("out").toString,
      IndexPipeline.IndexConfig("PXDPRIDE", "a1", qValueThreshold = 1.0, minPsms = 1))
    val spectra = out.archiveSpectra.orderBy(col("usi")).collect()
    assert(spectra.length == 2)
    assert(spectra(0).getAs[String]("usi") == "mzspec:PXDPRIDE:run1:index:1")
    assert(spectra(0).getAs[scala.collection.Seq[Double]]("masses") == Seq(100.0, 200.0, 300.0))
    assert(spectra(1).getAs[String]("usi") == "mzspec:PXDPRIDE:run1:index:2")
    assert(spectra(1).getAs[Boolean]("isDecoy"))
    out.unpersist()
  }

  test("large/small-star connected components match brute-force closure") {
    val rnd = new scala.util.Random(17)
    // random sparse graph + a 60-node path (diameter stress: min-label
    // propagation would need 60 rounds; star rounds are logarithmic)
    val randomEdges = (1 to 150).map(_ => (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter { case (a, b) => a != b }
    val pathEdges = (200L until 259L).map(i => (i, i + 1))
    val edges = randomEdges ++ pathEdges
    val pairs = edges.toDF("id_a", "id_b")

    // brute-force union-find on the driver
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min-id per component (find() returns a root, not necessarily the min)
    val minOf = nodes.groupBy(find).map { case (r, ns) => (r, ns.min) }
    val want = nodes.map(n => (n, minOf(find(n)))).toMap

    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("J5 fallback: project-level sample params stamp files without SDRF rows") {
    val cfg = graft.pipeline.DemoAssay.config.copy(
      globalSampleProps = Seq(("organism", "Homo sapiens"), ("disease", "none")))
    // no SDRF at all -> every PSM carries the global params
    val noSdrf = IndexPipeline.run(
      graft.pipeline.DemoAssay.psms(spark), graft.pipeline.DemoAssay.spectra(spark), None, cfg)
    val props = noSdrf.archiveSpectra.limit(1)
      .select(explode(col("sampleProperties")).as("p"))
      .select(col("p.accession"), col("p.name"), col("p.value")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(props == Seq((null, "organism", "Homo sapiens"), (null, "disease", "none")))
    noSdrf.unpersist()
    // an SDRF row for the file wins over the global fallback
    val sdrf = Seq(("run1", "EFO:0000634", "organism", "Mus musculus"))
      .toDF("fileKey", "accession", "name", "value")
    val withSdrf = IndexPipeline.run(
      graft.pipeline.DemoAssay.psms(spark), graft.pipeline.DemoAssay.spectra(spark),
      Some(sdrf), cfg)
    val got = withSdrf.archiveSpectra.limit(1)
      .select(explode(col("sampleProperties")).as("p"))
      .select(col("p.name"), col("p.value")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("organism", "Mus musculus")))
    withSdrf.unpersist()
  }

  test("decimalFormat5 matches java.text.DecimalFormat(###.#####)") {
    val fmt = new java.text.DecimalFormat("###.#####")
    val samples = Seq(2.5, 2.0, 0.0, 0.5, 123456.789, 1.23456789, 0.000004,
      0.00001, 17.1, 3.0000001, -2.5, -0.25, 99999.99999)
    val got = samples.toDF("v")
      .select(PeptideFunctions.decimalFormat5(col("v")).as("s"), col("v"))
      .orderBy(col("v")).collect().map(_.getString(0)).toSeq
    val want = samples.sorted.map(fmt.format)
    assert(got == want, s"got=$got want=$want")
  }
}

/** Fixture shared by the multi-file tests: one target PSM on index=0 of a
  * peak-list file. */
object CommandsFixtures {
  val simpleMzid: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<MzIdentML xmlns="http://psidev.info/psi/pi/mzIdentML/1.1">
      | <SequenceCollection>
      |  <DBSequence id="dbs1" accession="sp|Q1"/>
      |  <DBSequence id="dbs2" accession="DECOY_sp|Q9"/>
      |  <Peptide id="pep1"><PeptideSequence>PEPTIDEKR</PeptideSequence></Peptide>
      |  <PeptideEvidence id="ev1" peptide_ref="pep1" dBSequence_ref="dbs1" isDecoy="false"/>
      |  <PeptideEvidence id="ev2" peptide_ref="pep1" dBSequence_ref="dbs2" isDecoy="true"/>
      | </SequenceCollection>
      | <DataCollection><Inputs>
      |  <SpectraData id="sd1" location="file://data/run1.mgf">
      |   <SpectrumIDFormat><cvParam accession="MS:1000774" name="mp"/></SpectrumIDFormat>
      |  </SpectraData>
      | </Inputs>
      | <AnalysisData><SpectrumIdentificationList>
      |  <SpectrumIdentificationResult id="r1" spectrumID="index=0" spectraData_ref="sd1">
      |   <SpectrumIdentificationItem id="sii1" rank="1" chargeState="2"
      |     experimentalMassToCharge="445.5" calculatedMassToCharge="445.5" peptide_ref="pep1">
      |    <PeptideEvidenceRef peptideEvidence_ref="ev1"/>
      |    <cvParam accession="MS:1002257" name="Comet:expectation value" value="0.001"/>
      |   </SpectrumIdentificationItem>
      |  </SpectrumIdentificationResult>
      |  <SpectrumIdentificationResult id="r2" spectrumID="index=1" spectraData_ref="sd1">
      |   <SpectrumIdentificationItem id="sii2" rank="1" chargeState="2"
      |     experimentalMassToCharge="890.9" calculatedMassToCharge="890.9" peptide_ref="pep1">
      |    <PeptideEvidenceRef peptideEvidence_ref="ev2"/>
      |    <cvParam accession="MS:1002257" name="Comet:expectation value" value="0.02"/>
      |   </SpectrumIdentificationItem>
      |  </SpectrumIdentificationResult>
      | </SpectrumIdentificationList></AnalysisData>
      | </DataCollection>
      |</MzIdentML>
      |""".stripMargin
}
