package graft

import scala.util.control.NonFatal

import graft.io.PrideRest
import graft.pipeline.{Commands, IndexPipeline}
import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's six commands
  * (ArchiveMoleculesIndexer.java:28-30) with `--key value` options. */
object Cli {

  /** The options that are genuine bare flags — only these may appear with
    * no value (reading as "true"). Every other option is value-typed: a
    * missing value (end of line, or the next token is another option) is
    * an ERROR, not "true" — a trailing `--out` with a forgotten path must
    * fail loudly, not write the index to a directory literally named
    * `true`. An explicit `--flag false` stays supported. */
  private[graft] val BooleanFlags: Set[String] = Set(
    "score-lower-is-better", "picked-protein-fdr", "protein-score-from-fdrscore",
    "native-cluster")

  /** The options each command reads. Any other option is an ERROR: a
    * misspelt `--qvalue-treshold 0.05`, if dropped, would ship the index
    * at the default q <= 0.01. */
  private val CommandOptions: Map[String, Set[String]] = Map(
    "generate-index-files" -> Set("mztab", "mzid", "pridexml", "spectra", "out",
      "project-accession", "assay-accession", "reanalysis-accession", "qvalue-threshold",
      "protein-qvalue-threshold", "peptide-length", "min-psms", "unique-peptides",
      "score-lower-is-better", "picked-protein-fdr", "protein-score-from-fdrscore",
      "decoy-prefix", "sdrf", "global-sample-props"),
    "perform-inference" -> Set("spectra-json", "out", "clusters", "native-cluster",
      "precursor-tol", "min-cosine", "index"),
    "generate-mgf-files" -> Set("spectra-json", "out"),
    "spectra-json-check" -> Set("spectra-json", "out"),
    "get-result-files" -> Set("project-accession", "out"),
    "get-related-files" -> Set("project-accession", "mzid", "out"))

  /** Strict `--key value` / bare `--flag` parser: a stray non-option token
    * or a mis-paired window is an ERROR, not a silent drop — the old
    * sliding(2,2) form silently discarded a trailing bare flag (shipping
    * an index without the option the operator asked for). Only options in
    * [[BooleanFlags]] may omit their value, and a known command accepts
    * only its [[CommandOptions]]. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val known = CommandOptions.get(args.head)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 1
    while (i < args.length) {
      val k = args(i)
      require(k.startsWith("--"),
        s"unexpected argument '$k' (options are --key value)\n$usage")
      val key = k.stripPrefix("--")
      require(known.forall(_(key)), s"unknown option $k for ${args.head}\n$usage")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out(key) = args(i + 1); i += 2
      } else {
        require(BooleanFlags(key),
          s"option --$key needs a value\n$usage")
        out(key) = "true"; i += 1
      }
    }
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    // Respect spark-submit's --master/--conf when present: hard-setting
    // them here would silently force a cluster submission into local[*]
    // with 32 shuffle partitions. Env vars win, then the submit conf,
    // then the local defaults.
    val submitConf = new org.apache.spark.SparkConf(true)
    val builder = SparkSession.builder()
      .appName(s"graft-${args.head}")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    sys.env.get("SPARK_MASTER")
      .orElse(if (submitConf.contains("spark.master")) None else Some("local[*]"))
      .foreach(builder.master)
    sys.env.get("SPARK_GRAFT_CPUS")
      .orElse(if (submitConf.contains("spark.sql.shuffle.partitions")) None
        else Some("32"))
      .foreach(builder.config("spark.sql.shuffle.partitions", _))
    val spark = builder.getOrCreate()
    try run(spark, args)
    finally spark.stop()
  }

  /** Whole-stage codegen off, and every expression-level generator on its
    * interpreted form: the first alone still compiles ~160 classes per
    * project. `factoryMode` is an internal Spark conf; CommandsSpec pins
    * that a generate-index-files then compiles nothing. */
  private val InterpretedConfs = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Runs `body` with `confs` set on the session, except the keys the caller
    * set explicitly, and unsets what it set afterwards, on failure too. When
    * the session refuses a key, none is set and `body` runs on the
    * session's own settings. The scope is the session's: commands run
    * concurrently on one session would share it. */
  private def withConfs(spark: SparkSession, confs: Seq[(String, String)])(body: => Unit): Unit = {
    val explicit = spark.conf.getAll
    val set = scala.collection.mutable.ArrayBuffer.empty[String]
    try confs.filterNot(kv => explicit.contains(kv._1)).foreach { case (k, v) =>
      spark.conf.set(k, v)
      set += k
    } catch {
      case NonFatal(_) =>
        set.foreach(spark.conf.unset)
        set.clear()
    }
    try body finally set.foreach(spark.conf.unset)
  }

  /** The one command whose interpreted run was measured. Compiled, a
    * generate-index-files compiles ~170 classes, and the next project reuses
    * none of them. Interpreted, the benchmark's projects (up to 15k PSMs)
    * take ~30% less CPU and ~25% less wall; the largest generated project
    * measured, 400k PSMs, took ~4% less CPU and ~4% more wall
    * (`PERF_interpreted.jsonl`). The other commands compile: none was
    * measured interpreted. */
  private val InterpretedCommand = "generate-index-files"

  /** Runs one command. A generate-index-files runs with
    * [[InterpretedConfs]], for that command only; a codegen conf the caller
    * set explicitly wins. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val o = parseArgs(args)
    val cmd = args.head
    withConfs(spark, if (cmd == InterpretedCommand) InterpretedConfs else Nil)(
      dispatch(spark, cmd, o))
  }

  private def dispatch(spark: SparkSession, cmd: String, o: Map[String, String]): Unit = {
    def req(k: String): String =
      o.getOrElse(k, throw new IllegalArgumentException(s"missing --$k\n$usage"))

    cmd match {
      case "generate-index-files" =>
        val cfg = IndexPipeline.IndexConfig(
          projectAccession = req("project-accession"),
          assayAccession = o.getOrElse("assay-accession", "assay1"),
          reanalysisAccession = o.get("reanalysis-accession"),
          qValueThreshold = o.get("qvalue-threshold").map(_.toDouble).getOrElse(0.01),
          proteinQThreshold = o.get("protein-qvalue-threshold").map(_.toDouble).getOrElse(0.01),
          peptideLength = o.get("peptide-length").map(_.toInt).getOrElse(7),
          minPsms = o.get("min-psms").map(_.toLong).getOrElse(1000L),
          uniquePeptides = o.get("unique-peptides").map(_.toInt).getOrElse(0),
          scoreLowerIsBetter = o.get("score-lower-is-better").exists(_.toBoolean),
          pickedProteinFdr = o.get("picked-protein-fdr").exists(_.toBoolean),
          proteinScoreFromPsmFdrScore =
            o.get("protein-score-from-fdrscore").exists(_.toBoolean),
          decoyPrefix = o.getOrElse("decoy-prefix", "DECOY_"),
          globalSampleProps = o.get("global-sample-props").map(_.split(";").toSeq
            .filter(_.contains("="))
            .map { kv => val parts = kv.split("=", 2); (parts(0).trim, parts(1).trim) })
            .getOrElse(Seq.empty),
        )
        val inputs = Seq("mztab", "mzid", "pridexml").flatMap(k => o.get(k).map(k -> _))
        val out = inputs match {
          case Seq(("mztab", mztab)) =>
            Commands.generateIndexFiles(
              spark, mztab, req("spectra"), req("out"), cfg, o.get("sdrf"))
          case Seq(("mzid", mzid)) =>
            Commands.generateIndexFilesFromMzid(
              spark, mzid.split(",").toSeq, req("spectra"), req("out"), cfg,
              o.get("sdrf"))
          case Seq(("pridexml", xml)) =>
            // PRIDE XML is self-contained (spectra + identifications in one
            // file): --spectra is optional and defaults to the result files
            Commands.generateIndexFilesFromPrideXml(
              spark, xml.split(",").toSeq, req("out"), cfg, o.get("sdrf"),
              o.get("spectra"))
          case Seq() =>
            throw new IllegalArgumentException(
              s"need --mztab, --mzid or --pridexml\n$usage")
          case many =>
            throw new IllegalArgumentException(
              s"${many.map("--" + _._1).mkString(" and ")} are mutually exclusive\n$usage")
        }
        // the outputs are written; release their persisted frames
        try {
          println(s"[graft] nr_psms=${out.nrPsms} nr_decoys=${out.nrDecoys}")
          // F9 assay gate (PrideAnalysisAssayService.java:477-480)
          if (out.nrDecoys == 0)
            System.err.println("[graft] WARNING: no decoys found — assay invalid under F9")
          if (out.nrPsms <= cfg.minPsms)
            System.err.println(s"[graft] WARNING: psms <= ${cfg.minPsms} — assay below minPSMs gate")
        } finally out.unpersist()

      case "perform-inference" =>
        if (o.contains("native-cluster")) {
          require(!o.contains("clusters"),
            s"--clusters and --native-cluster are mutually exclusive\n$usage")
          Commands.performInferenceNative(
            spark, req("spectra-json"), req("out"), o.get("index"),
            graft.operators.SpectraCluster.Config(
              precursorTol = o.get("precursor-tol").map(_.toDouble).getOrElse(0.05),
              minCosine = o.get("min-cosine").map(_.toDouble).getOrElse(0.7)))
        } else
          Commands.performInference(spark, req("spectra-json"), req("clusters"), req("out"),
            o.get("index"))

      case "generate-mgf-files" =>
        Commands.generateMgf(spark, req("spectra-json"), req("out"))

      case "spectra-json-check" =>
        val n = Commands.spectraJsonCheck(spark, req("spectra-json"), req("out"))
        println(s"[graft] valid_spectra=$n")

      case "get-result-files" =>
        Commands.getResultFiles(spark, new PrideRest(), req("project-accession"), req("out"))

      case "get-related-files" =>
        val rest = new PrideRest()
        val files = rest.files(spark, req("project-accession"))
        Commands.getRelatedFiles(spark, req("mzid").split(",").toSeq, files, req("out"))

      case other =>
        throw new IllegalArgumentException(s"unknown command: $other\n$usage")
    }
  }

  val usage: String =
    """usage: graft.Cli <command> [--key value ...]
      |  get-result-files    --project-accession PXD... --out DIR
      |  get-related-files   --project-accession PXD... --mzid a.mzid[,b.mzid] --out DIR
      |  generate-index-files (--mztab F | --mzid a.mzid[,b.mzid] | --pridexml a.xml[,b.xml])
      |                       --spectra DIR (optional for --pridexml: defaults
      |                       to the self-contained result files)
      |                       --project-accession PXD... [--assay-accession A]
      |                       [--reanalysis-accession RPXD...]
      |                       [--qvalue-threshold 0.01] [--peptide-length 7]
      |                       [--protein-qvalue-threshold 0.01]
      |                       [--min-psms 1000] [--score-lower-is-better]
      |                       [--unique-peptides 0] [--picked-protein-fdr]
      |                       [--protein-score-from-fdrscore]
      |                       [--sdrf F] [--decoy-prefix DECOY_]
      |                       --out DIR
      |                       [--global-sample-props "organism=Homo sapiens;disease=..."]
      |  perform-inference   --spectra-json DIR --out DIR
      |                       (--clusters TSV | --native-cluster
      |                        [--precursor-tol 0.05] [--min-cosine 0.7])
      |                       [--index MGF_INDEX_SIDECAR]
      |  generate-mgf-files  --spectra-json DIR --out DIR
      |  spectra-json-check  --spectra-json DIR --out DIR
      |""".stripMargin
}
