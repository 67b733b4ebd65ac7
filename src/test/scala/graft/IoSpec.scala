package graft

import java.nio.file.Files

import graft.io.{MgfIO, MzTabIO, SideInputs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-io")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  val mgf: String =
    """BEGIN IONS
      |TITLE=id=mzspec:PXD1:run1:index:1,sequence=PEPTIDEK/2
      |PEPMASS=445.12
      |CHARGE=2+
      |100.001	200.5
      |101.5	30.25
      |END IONS
      |BEGIN IONS
      |TITLE=id=mzspec:PXD1:run1:index:2
      |PEPMASS=512.75 1234.1
      |CHARGE=3+
      |RTINSECONDS=77.5
      |55.5	1.0
      |END IONS
      |""".stripMargin

  test("MGF reader: blocks, per-file index, headers, peaks") {
    val path = tmpFile("run1.mgf", mgf)
    val rows = MgfIO.read(spark, path).orderBy(col("index")).collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[String]("fileName") == "run1.mgf")
    assert(r0.getAs[Long]("index") == 0L)
    assert(r0.getAs[String]("title").startsWith("id=mzspec:PXD1:run1:index:1"))
    assert(r0.getAs[Double]("precursorMz") == 445.12)
    assert(r0.getAs[Int]("precursorCharge") == 2)
    assert(r0.getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(100.001, 101.5))
    assert(r0.getAs[scala.collection.Seq[Double]]("intensities").toSeq == Seq(200.5, 30.25))
    val r1 = rows(1)
    assert(r1.getAs[Double]("precursorMz") == 512.75) // first PEPMASS token
    assert(r1.getAs[Double]("retentionTime") == 77.5)
    assert(r1.getAs[Int]("precursorCharge") == 3)
  }

  test("MGF 3-column peak lines: intensity is column 2, not the trailing charge") {
    val threeCol =
      """BEGIN IONS
        |TITLE=id=x
        |PEPMASS=445.12
        |CHARGE=2+
        |100.0	200.0	1
        |101.0	30.0	1
        |END IONS
        |""".stripMargin
    val path = tmpFile("run3.mgf", threeCol)
    val a = MgfIO.read(spark, path).head()
    assert(a.getAs[scala.collection.Seq[Double]]("intensities").toSeq == Seq(200.0, 30.0))
    // parity with the whole-file parser on the same input
    val b = MgfIO.readExact(spark, path).head()
    assert(b.getAs[scala.collection.Seq[Double]]("intensities").toSeq == Seq(200.0, 30.0))
  }

  test("MGF writer fails loudly on a null precursor field (positional contract)") {
    import spark.implicits._
    val df = Seq(("u1", "PEP/2", Some(445.12), None: Option[Int],
      Seq(100.0), Seq(1.0))).toDF(
      "usi", "peptidoform", "precursorMz", "precursorCharge", "masses", "intensities")
    val e = intercept[Exception] {
      MgfIO.toMgfBlocks(df, Seq(col("usi"))).collect()
    }
    assert(e.getMessage.contains("precursorCharge"), e.getMessage)
  }

  test("MGF exact reader equals the splittable reader") {
    val path = tmpFile("run1.mgf", mgf)
    val a = MgfIO.read(spark, path).orderBy(col("index")).collect().map(_.toSeq)
    val b = MgfIO.readExact(spark, path).orderBy(col("index")).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  /** `body` with the two codegen confs set, then unset. */
  private def withCodegen[T](wholeStage: String, factoryMode: String)(body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    try body
    finally Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      .foreach(spark.conf.unset)
  }

  /** A seeded hostile MGF: CRLF or LF, missing, empty and repeated
    * headers, leading spaces, 2- and 3-column peaks, exponents and long
    * digit strings, signed and fractional charges, zero-peak blocks and
    * text between blocks (some of it peak-shaped). */
  private def generatedMgf(rnd: scala.util.Random, blocks: Int, eol: String): String = {
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))
    def num(): String = pick(
      f"${rnd.nextDouble() * 2000}%.4f", f"${rnd.nextDouble() * 100}%.1f",
      rnd.nextInt(5000).toString, f"${rnd.nextDouble() * 10}%.3fe${rnd.nextInt(4)}",
      f"${rnd.nextDouble()}%.2fE-${rnd.nextInt(3)}", "123.45678901234567", s"${rnd.nextInt(99)}.")
    val values = Map[String, () => String](
      "TITLE" -> (() => pick(s"id=scan${rnd.nextInt(1000)}", "", "a=b, c")),
      "PEPMASS" -> (() => pick(num(), s"${num()} ${num()}", s"${num()}\t${num()}", "")),
      "CHARGE" -> (() => pick("2+", "3-", "2.0+", "1", "4+", "", " 2+")),
      "RTINSECONDS" -> (() => pick(num(), "")))
    val out = new StringBuilder
    (0 until blocks).foreach { _ =>
      if (rnd.nextInt(4) == 0) out ++= pick("MASS=Monoisotopic", "", "# note", "999 1") + eol
      val headers = values.toSeq.flatMap { case (k, v) =>
        Seq.fill(pick(0, 1, 1, 1, 2))(s"$k=${v()}")
      }
      val peaks = Seq.fill(pick(0, 1, 3, 6)) {
        pick("", " ", "   ") + num() + pick(" ", "\t", " \t ") + num() +
          pick("", "", s"\t${rnd.nextInt(3) + 1}")
      }
      out ++= ("BEGIN IONS" +: rnd.shuffle(headers) ++: peaks :+ "END IONS").mkString(eol) + eol
    }
    if (rnd.nextBoolean()) out ++= "TITLE=orphan" + eol
    out.toString
  }

  test("MGF kernel equals the column-expression parser, interpreted and compiled") {
    val dir = Files.createTempDirectory("graft-mgf-prop")
    val rnd = new scala.util.Random(20261019)
    Seq("\r\n", "\n", "\n").zipWithIndex.foreach { case (eol, f) =>
      Files.writeString(dir.resolve(s"run$f.mgf"), generatedMgf(rnd, 60, eol))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("fileName", "index").collect().map(_.toSeq).toSeq
    // the oracle's ANSI casts fail on the malformed numbers the generator
    // writes; non-ANSI, they are null, as in the kernel
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val (oracleSchema, want) =
      try {
        val oracle = MgfColumnParser.readPaths(spark, Seq(dir.toString))
        (oracle.schema, rows(oracle))
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    assert(want.size >= 150 && want.exists(r => r(8).asInstanceOf[scala.collection.Seq[_]].isEmpty))
    val interpreted = withCodegen("false", "NO_CODEGEN") {
      val df = MgfIO.read(spark, dir.toString)
      assert(df.schema == oracleSchema)
      rows(df)
    }
    assert(interpreted == want)
    val compiled = withCodegen("true", "CODEGEN_ONLY") {
      val df = MgfIO.read(spark, dir.toString).orderBy("fileName", "index")
      val got = df.collect().map(_.toSeq).toSeq
      assert(org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
        .contains("graft.functions.MgfBlockExpr.parse("))
      got
    }
    assert(compiled == want)
  }

  test("MGF kernel runs once per chunk, below the per-file window's exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def kernels(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Int =
      exprs.map(_.collect { case k: graft.functions.MgfBlockExpr => k }.size).sum
    val df = MgfIO.read(spark, tmpFile("once.mgf", mgf))
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case p: LogicalPlan => kernels(p.expressions) }.sum == 1, plan)
    val window = plan.collectFirst { case w: Window => w }.get
    assert(window.child.exists(p => kernels(p.expressions) == 1), plan)

    df.collect()
    object Aqe extends AdaptiveSparkPlanHelper
    val exec = df.queryExecution.executedPlan
    assert(Aqe.collect(exec) { case p: SparkPlan => kernels(p.expressions) }.sum == 1, exec)
    val exchanges = Aqe.collect(exec) { case e: ShuffleExchangeExec => e }
    assert(exchanges.exists(_.child.exists(p => kernels(p.expressions) == 1)), exec)
  }

  test("MGF malformed numbers become nulls on both readers; tab-indented peaks parse") {
    val hostile = Seq(
      "BEGIN IONS", "TITLE=hostile", "PEPMASS=abc", "CHARGE=x+", "RTINSECONDS=n/a",
      "\t100.5 200.25", "101.5 2x0", "1.2.3\t7.0", "END IONS",
      "BEGIN IONS", "PEPMASS=", "CHARGE=99999999999+", "RTINSECONDS=12.5", "END IONS", "",
    ).mkString("\n")
    val path = tmpFile("hostile.mgf", hostile)
    for (df <- Seq(MgfIO.read(spark, path), MgfIO.readExact(spark, path))) {
      val rows = df.orderBy("index").collect()
      assert(rows.length == 2)
      val r0 = rows(0)
      assert(r0.getAs[String]("title") == "hostile")
      Seq("precursorMz", "precursorCharge", "retentionTime").foreach(c => assert(r0.isNullAt(r0.fieldIndex(c)), c))
      assert(r0.getSeq[Any](r0.fieldIndex("masses")) == Seq(100.5, 101.5, null))
      assert(r0.getSeq[Any](r0.fieldIndex("intensities")) == Seq(200.25, null, 7.0))
      val r1 = rows(1)
      assert(r1.isNullAt(r1.fieldIndex("precursorMz")) && r1.isNullAt(r1.fieldIndex("precursorCharge")))
      assert(r1.getAs[Double]("retentionTime") == 12.5 && r1.getAs[String]("title") == "")
    }
  }

  test("MGF writer: block format matches the reference writer shape") {
    import spark.implicits._
    val df = Seq(
      ("usi:1", "PEPTIDEK/2", 445.12, 2, Seq(100.0, 101.55555), Seq(200.5, 30.0)),
    ).toDF("usi", "peptidoform", "precursorMz", "precursorCharge", "masses", "intensities")
    val block = MgfIO.toMgfBlocks(df, Seq(col("usi"))).head().getString(0)
    val want =
      "BEGIN IONS\n" +
        "TITLE=id=usi:1,sequence=PEPTIDEK/2\n" +
        "PEPMASS=445.12\n" +
        "CHARGE=2.0+\n" +
        "   100.000\t200.500\n" +
        "   101.556\t30.000\n" +
        "END IONS"
    assert(block == want)
  }

  test("MGF round-trip: write then read preserves spectra and order") {
    import spark.implicits._
    val df = Seq(
      ("u:1", "AAK/2", 100.5, 2, Seq(1.0, 2.0), Seq(10.0, 20.0)),
      ("u:2", "CCK/3", 200.5, 3, Seq(3.0), Seq(30.0)),
    ).toDF("usi", "peptidoform", "precursorMz", "precursorCharge", "masses", "intensities")
    val dir = Files.createTempDirectory("graft-mgf").toString + "/out"
    MgfIO.write(df, Seq(col("usi")), dir)
    val back = MgfIO.read(spark, dir).orderBy(col("index")).collect()
    assert(back.length == 2)
    assert(back(0).getAs[Double]("precursorMz") == 100.5)
    assert(back(0).getAs[Long]("index") == 0)
    assert(back(1).getAs[Int]("precursorCharge") == 3)
    assert(back(1).getAs[scala.collection.Seq[Double]]("masses").toSeq == Seq(3.0))
  }

  val mztab: String =
    """MTD	mzTab-version	1.0.0
      |MTD	ms_run[1]-location	file://data/run1.mgf
      |MTD	ms_run[2]-location	file://data/run2.mzML
      |PSH	sequence	PSM_ID	accession	unique	search_engine_score[1]	modifications	charge	exp_mass_to_charge	calc_mass_to_charge	spectra_ref	opt_global_cv_MS:1002217_decoy_peptide
      |PSM	PEPTIDEK	1	sp|P1	1	0.9	3-UNIMOD:35	2	445.1	445.0	ms_run[1]:index=0	0
      |PSM	ELVISLIVES	2	DECOY_sp|P2	1	0.8	null	3	500.0	500.2	ms_run[1]:index=1	1
      |PSM	SHORTK	3	sp|P3	1	0.7	0-UNIMOD:1,8-UNIMOD:2	2	300.0	300.0	ms_run[2]:controllerType=0 controllerNumber=1 scan=7	0
      |""".stripMargin

  test("mzTab reader: PSM section, ms_runs, standardized typed columns") {
    val path = tmpFile("test.mztab", mztab)
    val raw = MzTabIO.readPsmSection(spark, path)
    assert(raw.count() == 3)
    assert(raw.columns.contains("search_engine_score_1"))

    val runs = MzTabIO.readMsRuns(spark, path).orderBy(col("msRun")).collect()
    assert(runs.map(_.getString(1)).toSeq ==
      Seq("file://data/run1.mgf", "file://data/run2.mzML"))

    val std = MzTabIO.standardPsms(raw).orderBy(col("psmId")).collect()
    assert(std.length == 3)
    val p1 = std(0)
    assert(p1.getAs[String]("peptideSequence") == "PEPTIDEK")
    assert(!p1.getAs[Boolean]("isDecoy"))
    assert(p1.getAs[Double]("score") == 0.9)
    assert(p1.getAs[Map[Int, String]]("modifications") == Map(3 -> "UNIMOD:35"))
    assert(p1.getAs[String]("sourceId") == "index=0")
    assert(p1.getAs[Int]("msRun") == 1)
    val p2 = std(1)
    assert(p2.getAs[Boolean]("isDecoy")) // opt decoy column wins
    assert(p2.getAs[Map[Int, String]]("modifications") == Map.empty[Int, String])
    val p3 = std(2)
    assert(p3.getAs[Map[Int, String]]("modifications") ==
      Map(0 -> "UNIMOD:1", 8 -> "UNIMOD:2"))
    assert(p3.getAs[String]("sourceId") == "controllerType=0 controllerNumber=1 scan=7")
  }

  test("mzTab modifications parser survives spec-legal edge cases") {
    import graft.io.MzTabIO.parseModifications
    assert(parseModifications(null) == Map.empty)
    assert(parseModifications("null") == Map.empty)
    assert(parseModifications("3-UNIMOD:35") == Map(3 -> "UNIMOD:35"))
    // duplicate positions: last wins, no crash
    assert(parseModifications("0-UNIMOD:1,0-UNIMOD:5") == Map(0 -> "UNIMOD:5"))
    // bracketed CV terms with commas stay one entry
    assert(parseModifications("3-[MS, MS:1001524, fragment neutral loss, 63.99]") ==
      Map(3 -> "[MS, MS:1001524, fragment neutral loss, 63.99]"))
    // multi-position entries take the first position
    assert(parseModifications("3|5-UNIMOD:35") == Map(3 -> "UNIMOD:35"))
    // a '-' INSIDE a bracketed CV term (negative probability) is not the
    // position/accession separator
    assert(parseModifications("3[MS, MS:1001876, modification probability, -0.27]-UNIMOD:35") ==
      Map(3 -> "UNIMOD:35"))
    // negative CHEMMOD deltas keep the full accession after the first
    // depth-0 dash
    assert(parseModifications("2-CHEMMOD:-18.0106") == Map(2 -> "CHEMMOD:-18.0106"))
  }

  test("mzTab PSM rows with fewer fields than the PSH header yield nulls") {
    val tab =
      """MTD	mzTab-version	1.0.0
        |PSH	sequence	PSM_ID	accession	unique	search_engine_score[1]	modifications	charge	exp_mass_to_charge	calc_mass_to_charge	spectra_ref	opt_global_cv_MS:1002217_decoy_peptide
        |PSM	PEPTIDEK	1	sp|P1	1	100.0	null	2	445.1	445.1	ms_run[1]:index=0
        |""".stripMargin // last (optional) column omitted on the data row
    val path = tmpFile("short.mztab", tab)
    val row = MzTabIO.readPsmSection(spark, path).head()
    assert(row.isNullAt(row.fieldIndex("opt_global_cv_ms_1002217_decoy_peptide")))
    assert(row.getAs[String]("sequence") == "PEPTIDEK")
  }

  test("mzTab standardizer tolerates 'null' numeric fields under ANSI") {
    val tab =
      """MTD	mzTab-version	1.0.0
        |PSH	sequence	PSM_ID	accession	unique	search_engine_score[1]	modifications	charge	exp_mass_to_charge	calc_mass_to_charge	spectra_ref	opt_global_cv_MS:1002217_decoy_peptide
        |PSM	PEPTIDEK	1	sp|P1	1	null	null	null	null	null	ms_run[1]:index=0	0
        |""".stripMargin
    val path = tmpFile("nulls.mztab", tab)
    val row = MzTabIO.standardPsms(MzTabIO.readPsmSection(spark, path)).head()
    assert(row.isNullAt(row.fieldIndex("score")))
    assert(row.isNullAt(row.fieldIndex("charge")))
    assert(row.isNullAt(row.fieldIndex("expMassToCharge")))
  }

  test("MaraCluster reader: parses and rejects duplicate spectrum indexes") {
    val good = tmpFile("clusters.tsv", "run1.mgf\t0\t10\nrun1.mgf\t1\t10\n\nrun1.mgf\t2\t11\n")
    val c = SideInputs.readMaraCluster(spark, good)
    assert(c.count() == 3)
    SideInputs.assertUniqueSpectrumIndex(c) // no throw

    val bad = tmpFile("clusters_bad.tsv", "a.mgf\t0\t1\na.mgf\t0\t2\n")
    val cBad = SideInputs.readMaraCluster(spark, bad)
    assertThrows[IllegalStateException](SideInputs.assertUniqueSpectrumIndex(cBad))
  }

  test("SDRF reader: melts characteristics per file key") {
    val sdrf = tmpFile("s.sdrf.tsv",
      "characteristics[organism]\tcharacteristics[organism part]\tcomment[data file]\n" +
        "Homo sapiens\tliver\trun1.raw\n" +
        "Homo sapiens\tkidney\trun2.raw\n")
    val rows = SideInputs.readSdrf(spark, sdrf)
      .orderBy(col("fileKey"), col("name")).collect()
    assert(rows.length == 4)
    assert(rows.map(r => (r.getString(0), r.getString(2), r.getString(3))).toSeq == Seq(
      ("run1", "organism", "Homo sapiens"), ("run1", "organism part", "liver"),
      ("run2", "organism", "Homo sapiens"), ("run2", "organism part", "kidney")))
    // EFO accessions resolved at plan time from the bundled table
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("EFO:0000634", "EFO:0000635", "EFO:0000634", "EFO:0000635"))
  }
}
