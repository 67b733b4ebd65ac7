package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.Base64
import java.util.zip.Deflater

import graft.io.{MgfIO, MzMlIO, PklIO}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SpectraFormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def b64doubles(xs: Array[Double]): String = {
    val bb = ByteBuffer.allocate(xs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putDouble)
    Base64.getEncoder.encodeToString(bb.array())
  }

  private def b64floatsZlib(xs: Array[Float]): String = {
    val bb = ByteBuffer.allocate(xs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putFloat)
    val d = new Deflater()
    d.setInput(bb.array()); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    Base64.getEncoder.encodeToString(out.toByteArray)
  }

  test("mzML parser: cv params, 64-bit plain and 32-bit zlib peak arrays") {
    val mz64 = b64doubles(Array(100.5, 200.25))
    val int32z = b64floatsZlib(Array(10.0f, 20.0f))
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<mzML xmlns="http://psi.hupo.org/ms/mzml">
         | <run><spectrumList count="2">
         |  <spectrum index="0" id="controllerType=0 controllerNumber=1 scan=1">
         |   <cvParam accession="MS:1000511" value="2"/>
         |   <cvParam accession="MS:1000016" value="12.5"/>
         |   <precursorList><precursor><selectedIonList><selectedIon>
         |    <cvParam accession="MS:1000744" value="445.12"/>
         |    <cvParam accession="MS:1000041" value="2"/>
         |   </selectedIon></selectedIonList></precursor></precursorList>
         |   <binaryDataArrayList>
         |    <binaryDataArray><cvParam accession="MS:1000523"/><cvParam accession="MS:1000514"/>
         |     <binary>$mz64</binary></binaryDataArray>
         |    <binaryDataArray><cvParam accession="MS:1000521"/><cvParam accession="MS:1000574"/>
         |     <cvParam accession="MS:1000515"/><binary>$int32z</binary></binaryDataArray>
         |   </binaryDataArrayList>
         |  </spectrum>
         |  <spectrum index="1" id="controllerType=0 controllerNumber=1 scan=2">
         |   <cvParam accession="MS:1000511" value="1"/>
         |  </spectrum>
         | </spectrumList></run>
         |</mzML>""".stripMargin
    val dir = Files.createTempDirectory("graft-mzml")
    val path = dir.resolve("run2.mzML")
    Files.writeString(path, xml)

    val rows = MzMlIO.read(spark, Seq(path.toString)).orderBy(col("index")).collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[String]("scanId") == "controllerType=0 controllerNumber=1 scan=1")
    assert(r0.getAs[Int]("msLevel") == 2)
    assert(r0.getAs[Double]("precursorMz") == 445.12)
    assert(r0.getAs[Int]("precursorCharge") == 2)
    assert(r0.getAs[Double]("retentionTime") == 12.5)
    assert(r0.getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(100.5, 200.25))
    assert(r0.getAs[scala.collection.Seq[Double]]("intensities").toSeq == Seq(10.0, 20.0))
    assert(rows(1).getAs[Int]("msLevel") == 1) // F11 filters it downstream
  }

  test("mzML parser rejects MS-Numpress compression loudly") {
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<mzML xmlns="http://psi.hupo.org/ms/mzml">
         | <run><spectrumList count="1">
         |  <spectrum index="0" id="scan=1">
         |   <cvParam accession="MS:1000511" value="2"/>
         |   <binaryDataArrayList>
         |    <binaryDataArray><cvParam accession="MS:1002312"/><cvParam accession="MS:1000514"/>
         |     <binary>${b64doubles(Array(1.0))}</binary></binaryDataArray>
         |   </binaryDataArrayList>
         |  </spectrum>
         | </spectrumList></run>
         |</mzML>""".stripMargin
    val dir = Files.createTempDirectory("graft-mzml-np")
    val path = dir.resolve("np.mzML")
    Files.writeString(path, xml)
    val e = intercept[org.apache.spark.SparkException] {
      MzMlIO.read(spark, Seq(path.toString)).collect()
    }
    // decoding numpress bytes as IEEE floats would be silent garbage —
    // the parser must fail with the accession in the message
    assert(e.getMessage.contains("MS:1002312") ||
      Option(e.getCause).exists(_.getMessage.contains("MS:1002312")), e.getMessage)
  }

  test("PKL parser skips non-spectrum banner chunks instead of crashing") {
    val pkl =
      """# exported by vendor tool
        |
        |445.50 1000.0 2
        |100.0 10.0
        |""".stripMargin
    val dir = Files.createTempDirectory("graft-pkl-banner")
    Files.writeString(dir.resolve("banner.pkl"), pkl)
    val rows = PklIO.read(spark, dir.toString).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("precursorMz") == 445.5)
    assert(rows(0).getAs[Long]("index") == 0L) // banner does not consume an index
  }

  test("PKL parser surfaces malformed spectrum-like blocks as F12-invalid rows") {
    // A truncated single-field header (and a '.'-leading one) must NOT be
    // silently dropped with the banners: the block parses with null
    // precursor fields so the F12 validity gate observes the loss.
    val pkl =
      """445.5
        |100.0 10.0
        |
        |.75 garbled
        |oops nope
        |
        |600.25 500.0 3
        |300.0 30.0
        |""".stripMargin
    val dir = Files.createTempDirectory("graft-pkl-malformed")
    Files.writeString(dir.resolve("bad.pkl"), pkl)
    val rows = PklIO.read(spark, dir.toString).orderBy(col("index")).collect()
    assert(rows.length == 3, rows.mkString("\n"))
    assert(rows(0).getAs[Double]("precursorMz") == 445.5) // single-field header kept
    assert(rows(0).isNullAt(rows(0).fieldIndex("precursorCharge")))
    assert(rows(1).getAs[Double]("precursorMz") == 0.75)
    assert(rows(1).getAs[scala.collection.Seq[Any]]("masses").forall(_ == null))
    assert(rows(2).getAs[Double]("precursorMz") == 600.25) // well-formed block intact
    assert(rows(2).getAs[Int]("precursorCharge") == 3)
  }

  test("PKL parser: header line + peaks, blank-line blocks") {
    val pkl =
      """445.50 1000.0 2
        |100.0 10.0
        |200.0 20.0
        |
        |600.25 500.0 3
        |300.0 30.0
        |""".stripMargin
    val dir = Files.createTempDirectory("graft-pkl")
    Files.writeString(dir.resolve("run.pkl"), pkl)
    val rows = PklIO.read(spark, dir.toString).orderBy(col("index")).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("precursorMz") == 445.5)
    assert(rows(0).getAs[Int]("precursorCharge") == 2)
    assert(rows(0).getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(100.0, 200.0))
    assert(rows(1).getAs[scala.collection.Seq[Double]]("intensities").toSeq == Seq(30.0))
  }

  test("mzXML parser: scan attrs, big-endian interleaved peaks, PT rt") {
    val bb = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.BIG_ENDIAN)
    Seq(100.5, 10.0, 200.25, 20.0).foreach(bb.putDouble)
    val peaks = java.util.Base64.getEncoder.encodeToString(bb.array())
    val xml =
      s"""<?xml version="1.0"?>
         |<mzXML xmlns="http://sashimi.sourceforge.net/schema_revision/mzXML_3.2">
         | <msRun scanCount="1">
         |  <scan num="7" msLevel="2" retentionTime="PT33.5S">
         |   <precursorMz precursorCharge="2">445.12</precursorMz>
         |   <peaks precision="64" byteOrder="network">$peaks</peaks>
         |  </scan>
         | </msRun>
         |</mzXML>""".stripMargin
    val dir = Files.createTempDirectory("graft-mzxml")
    val p = dir.resolve("run.mzXML")
    Files.writeString(p, xml)
    val rows = graft.io.MzXmlIO.read(spark, Seq(p.toString)).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("scanId") == "7")
    assert(r.getAs[Int]("msLevel") == 2)
    assert(r.getAs[Double]("precursorMz") == 445.12)
    assert(r.getAs[Double]("retentionTime") == 33.5)
    assert(r.getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(100.5, 200.25))
    assert(r.getAs[scala.collection.Seq[Double]]("intensities").toSeq == Seq(10.0, 20.0))
  }

  test("PKL parser handles CRLF files (no bare \\n\\n separator)") {
    val pkl = "445.50 1000.0 2\r\n100.0 10.0\r\n\r\n600.25 500.0 3\r\n300.0 30.0\r\n"
    val dir = Files.createTempDirectory("graft-pkl-crlf")
    Files.writeString(dir.resolve("run.pkl"), pkl)
    val rows = PklIO.read(spark, dir.toString).orderBy(col("index")).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("precursorMz") == 445.5)
    assert(rows(1).getAs[Double]("precursorMz") == 600.25)
    assert(rows(1).getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(300.0))
  }

  test("MGF reader handles CRLF line endings") {
    val mgf = "BEGIN IONS\r\nTITLE=t1\r\nPEPMASS=445.12\r\nCHARGE=2+\r\n" +
      "100.0\t10.0\r\n200.0\t20.0\r\nEND IONS\r\n"
    val dir = Files.createTempDirectory("graft-crlf")
    Files.writeString(dir.resolve("crlf.mgf"), mgf)
    val rows = MgfIO.read(spark, dir.toString).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("precursorMz") == 445.12)
    assert(rows(0).getAs[String]("title") == "t1")
    assert(rows(0).getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(100.0, 200.0))
  }

  test("MS2 parser: S/Z headers, scan-number ids, peaks") {
    val ms2 =
      """H	CreationDate	whenever
        |H	Extractor	test
        |S	7	7	445.50
        |Z	2	890.99
        |100.0 10.0
        |200.0 20.0
        |S	9	9	600.25
        |300.0 30.0
        |""".stripMargin
    val dir = Files.createTempDirectory("graft-ms2")
    Files.writeString(dir.resolve("run.ms2"), ms2)
    val rows = graft.io.Ms2DtaIO.readMs2(spark, dir.toString)
      .orderBy(col("index")).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("scanId") == "7")
    assert(rows(0).getAs[Double]("precursorMz") == 445.5)
    assert(rows(0).getAs[Int]("precursorCharge") == 2)
    assert(rows(0).getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(100.0, 200.0))
    assert(rows(1).getAs[String]("scanId") == "9")
    assert(rows(1).getAs[Int]("precursorCharge") == 0) // no Z line
  }

  test("APL parser: peaklist blocks with mz/charge/header fields") {
    val apl =
      """peaklist start
        |mz=445.12
        |charge=2
        |header=RawFile: r1 Index: 5
        |100.0	10.0
        |200.0	20.0
        |peaklist end
        |peaklist start
        |mz=600.25
        |charge=3
        |300.0	30.0
        |peaklist end
        |""".stripMargin
    val dir = Files.createTempDirectory("graft-apl")
    Files.writeString(dir.resolve("run.apl"), apl)
    val rows = graft.io.AplIO.read(spark, dir.toString).orderBy(col("index")).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("precursorMz") == 445.12)
    assert(rows(0).getAs[Int]("precursorCharge") == 2)
    assert(rows(0).getAs[String]("title").startsWith("RawFile: r1"))
    assert(rows(0).getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(100.0, 200.0))
    assert(rows(1).getAs[Int]("precursorCharge") == 3)
  }

  test("MS2 and APL malformed numbers become nulls, not ANSI cast errors") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    def seqAt(r: org.apache.spark.sql.Row, c: String) = r.getSeq[Any](r.fieldIndex(c))
    val dir = Files.createTempDirectory("graft-hostile-ms2-apl")
    Files.writeString(dir.resolve("run.ms2"), Seq(
      "H\tExtractor\ttest",
      "S\t1\t1\t4.4.5", "Z\tx\t890.9", "1.2.3\t7.0", "100.0\t2e",
      "S\t2\t2\t500.5", "Z\t99999999999\t1", "200.0 20.0",
      "S\t3\t3\t600.25", "300.0 30.0", "").mkString("\n"))
    val ms2 = graft.io.Ms2DtaIO.readMs2(spark, dir.resolve("run.ms2").toString)
      .orderBy(col("index")).collect()
    assert(ms2.length == 3)
    assert(ms2(0).isNullAt(ms2(0).fieldIndex("precursorMz")))
    assert(ms2(0).isNullAt(ms2(0).fieldIndex("precursorCharge")))
    assert(seqAt(ms2(0), "masses") == Seq(null, 100.0))
    assert(seqAt(ms2(0), "intensities") == Seq(7.0, null))
    assert(ms2(1).getAs[Double]("precursorMz") == 500.5)
    assert(ms2(1).isNullAt(ms2(1).fieldIndex("precursorCharge")))
    assert(ms2(2).getAs[Int]("precursorCharge") == 0) // no Z line
    assert(seqAt(ms2(2), "masses") == Seq(300.0))

    Files.writeString(dir.resolve("run.apl"), Seq(
      "peaklist start", "mz=abc", "charge=x", "header=bad", "1.2.3\t7.0", "100.0\t2e",
      "peaklist end",
      "peaklist start", "mz=600.25", "charge=99999999999", "300.0\t30.0", "peaklist end",
      "peaklist start", "mz=700.5", "400.0\t40.0", "peaklist end", "").mkString("\n"))
    val apl = graft.io.AplIO.read(spark, dir.resolve("run.apl").toString)
      .orderBy(col("index")).collect()
    assert(apl.length == 3)
    assert(apl(0).isNullAt(apl(0).fieldIndex("precursorMz")))
    assert(apl(0).isNullAt(apl(0).fieldIndex("precursorCharge")))
    assert(seqAt(apl(0), "masses") == Seq(null, 100.0))
    assert(seqAt(apl(0), "intensities") == Seq(7.0, null))
    assert(apl(1).getAs[Double]("precursorMz") == 600.25)
    assert(apl(1).isNullAt(apl(1).fieldIndex("precursorCharge")))
    assert(apl(2).getAs[Int]("precursorCharge") == 0) // no charge line
  }

  test("PRIDE XML identification parser: sections, scores, decoys, mods") {
    val path = graft.pipeline.DemoFixtures.prideXmlIdentFile()
    val psms = graft.io.PrideXmlIO.parseIdentFile(path).sortBy(p => (p.psmId, p.proteinAccession))
    assert(psms.length == 4, psms.mkString("\n"))

    val p1 = psms(0) // PEPTIDEK: mod + PeptideItem score, no charge cvParam
    assert(p1.psmId == "legacy_ident.xml:1:PEPTIDEK:3=MOD:00696")
    assert(p1.proteinAccession == "sp|A1" && p1.database.contains("SWISSPROT"))
    assert(p1.score.contains(47.15) && p1.charge.isEmpty)
    assert(p1.modifications == Map(3 -> "MOD:00696"))
    assert(p1.start.contains(10) && p1.end.contains(17))
    assert(!p1.isDecoy)

    // shared peptide: same content-derived psmId under both accessions
    val (p2a, p2b) = (psms(1), psms(2))
    assert(p2a.psmId == p2b.psmId && p2a.psmId == "legacy_ident.xml:2:ELVISLIVESK")
    assert(Seq(p2a, p2b).map(_.proteinAccession) == Seq("sp|A1", "sp|A2"))
    assert(p2a.charge.contains(2)) // MS:1000041 cvParam on the PeptideItem

    // TwoDimensionalIdentification + PRIDE:0000303 decoy + <Score> fallback
    val p3 = psms(3)
    assert(p3.peptideSequence == "DECOYPEPK" && p3.isDecoy)
    assert(p3.score.contains(5.0))

    // the SPECTRA reader over the same file ignores identification
    // sections entirely (and vice versa)
    val spectra = graft.io.PrideXmlIO.parseFile(path)
    assert(spectra.map(_.scanId) == Seq("1", "2", "3"))
    assert(spectra.forall(_.precursorCharge == 2))
  }

  test("PRIDE XML: PeptideItem-level PRIDE:0000303 marks the PSM as decoy") {
    // real submissions attach "Decoy hit" to the PeptideItem, not only to
    // the Identification — both placements must reach isDecoy
    val xml =
      """<?xml version="1.0"?>
        |<ExperimentCollection><Experiment>
        | <GelFreeIdentification>
        |  <Accession>sp|B1</Accession>
        |  <PeptideItem>
        |   <Sequence>SHADOWPEPK</Sequence>
        |   <SpectrumReference>7</SpectrumReference>
        |   <additional>
        |    <cvParam cvLabel="PRIDE" accession="PRIDE:0000303" name="Decoy hit"/>
        |    <cvParam cvLabel="PRIDE" accession="PRIDE:0000069" name="Mascot score" value="12.5"/>
        |   </additional>
        |  </PeptideItem>
        | </GelFreeIdentification>
        |</Experiment></ExperimentCollection>""".stripMargin
    val dir = Files.createTempDirectory("graft-pridexml-pepdecoy")
    val path = dir.resolve("pep_decoy.xml")
    Files.writeString(path, xml)
    val psms = graft.io.PrideXmlIO.parseIdentFile(path.toString)
    assert(psms.length == 1)
    assert(psms.head.isDecoy, psms.head.toString) // flag read from the PeptideItem
    assert(psms.head.score.contains(12.5)) // score selection unaffected
  }

  test("DTA parser: MH+ header converted to precursor m/z") {
    val dta = "890.99 2\n100.0 10.0\n200.0 20.0\n"
    val dir = Files.createTempDirectory("graft-dta")
    Files.writeString(dir.resolve("one.dta"), dta)
    val rows = graft.io.Ms2DtaIO.readDta(spark, dir.toString + "/one.dta").collect()
    assert(rows.length == 1)
    val mz = rows(0).getAs[Double]("precursorMz")
    assert(math.abs(mz - (890.99 + 1.007276) / 2) < 1e-9)
    assert(rows(0).getAs[scala.collection.Seq[Double]]("intensities").toSeq == Seq(10.0, 20.0))
  }

  test("mzML spectra join the index pipeline via scan= keys") {
    import spark.implicits._
    // mzML-side spectra with native ids; PSMs reference scan=N source ids.
    val spectra = Seq(
      ("run2.mzML", 0L, "controllerType=0 controllerNumber=1 scan=1", "t", 2, 445.12, 2,
        Some(12.5), Seq(100.0, 200.0), Seq(10.0, 20.0)),
    ).toDF("fileName", "index", "scanId", "title", "msLevel", "precursorMz",
        "precursorCharge", "retentionTime", "masses", "intensities")
      .withColumn("fileType", lit("MZML"))
    val psms = Seq(
      ("1", "PEPTIDEK", "sp|P1", false, 10.0, 2, 458.23, 458.23,
        Map.empty[Int, String], "controllerType=0 controllerNumber=1 scan=1"),
      ("2", "ELVISLIVESK", "DECOY_P2", true, 1.0, 2, 607.38, 607.38,
        Map.empty[Int, String], "controllerType=0 controllerNumber=1 scan=99"),
    ).toDF("psmId", "peptideSequence", "proteinAccession", "isDecoy", "score",
        "charge", "expMassToCharge", "calcMassToCharge", "modifications", "sourceId")
      .withColumn("fileName", lit("run2.mzML"))
      .withColumn("idFormat", lit(graft.functions.UsiFunctions.IdFormat.MzmlId))
      .withColumn("fileType", lit("MZML"))
      .withColumn("retentionTime", lit(null).cast("double"))

    val cfg = graft.pipeline.IndexPipeline.IndexConfig(
      projectAccession = "PXDMZML", assayAccession = "a1",
      qValueThreshold = 1.0, minPsms = 1)
    val out = graft.pipeline.IndexPipeline.run(psms, spectra, None, cfg)
    val spec = out.archiveSpectra.collect()
    assert(spec.length == 1) // scan=99 has no spectrum
    assert(spec(0).getAs[String]("usi") == "mzspec:PXDMZML:run2:scan:1")
    assert(spec(0).getAs[Double]("retentionTime") == 12.5)
  }
}
