package perfbench

import java.io.{File, PrintWriter}

import graft.fdr.{ProteinInference, TargetDecoy}
import graft.io.{ArchiveJson, MzIdentMlIO}
import graft.operators.{GlobalIndex, SpectraCluster}
import graft.pipeline.{ClusterInference, IndexPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The layer walk: the calls `generate-index-files` makes into each layer's
  * public functions, then the reanalysis chain (`spectra-json-check`,
  * `generate-mgf-files`, `perform-inference --native-cluster`) over the
  * index it wrote. Each call's output is forced before the next call uses
  * it, so busy time lands in the span of the layer that did the work. With
  * a spans file the walk is traced: a [[Tracer]] listener charges Spark
  * jobs and tasks to the current span, and the spans are written out at
  * the end. Each command of the walk is one operation; an exception fails
  * the command it happens in and every command after it. */
final class Walk(spark: SparkSession, work: File, p: Project) {
  private val tracer = new Tracer
  private val ops = mutable.ArrayBuffer.empty[Main.Op]

  private def span[T](name: String)(body: => T)(measure: T => (Long, Long)): T =
    tracer.span(spark, name, p.accession)(body)(measure)

  private def pinned(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  private def check(name: String, ok: Boolean): Unit = ops += Main.Op(name, p.accession, 0, 0, ok)

  def run(spansFile: Option[String]): (Map[String, (Double, String)], Seq[Main.Op]) = {
    Outputs.delete(work)
    val out = work.getPath
    val sc = spark.sparkContext
    spansFile.foreach(_ => sc.addSparkListener(tracer))
    val gc0 = Clock.gcMs; val jit0 = Clock.jitMs
    try tracer.span(spark, "walk", p.accession)(guarded(out))(_ => (0L, 0L)) finally {
      spansFile.foreach(_ => sc.removeSparkListener(tracer))
      Workload.release(spark, out)
    }
    def count(name: String) = tracer.counts.getOrElse(name, Double.NaN)
    val spectra = tracer.spans.find(_.name == "io.json_read").map(_.rows.toDouble)
      .getOrElse(Double.NaN)
    val metrics = Walk.metrics(tracer.spans.toSeq) ++ Map(
      "operators.cluster.edges" -> (count("operators.cluster.edges"), "count"),
      "operators.cluster.clusters" -> (count("operators.cluster.clusters"), "count"),
      "operators.cluster.edges_per_spectrum" -> (count("operators.cluster.edges") / spectra, "ratio"),
      "jvm.gc_s" -> ((Clock.gcMs - gc0) / 1000.0, "s"),
      "jvm.jit_s" -> ((Clock.jitMs - jit0) / 1000.0, "s"),
      "jvm.heap_peak_mb" -> (tracer.heapPeakMb, "MB"))
    spansFile.foreach(f => Walk.writeSpans(tracer.spans.toSeq, f))
    (metrics, ops.toSeq)
  }

  private def guarded(out: String): Unit =
    try walk(out)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] walk of ${p.accession}: $e")
        Walk.Commands.drop(ops.size).foreach(c => check(s"walk.$c", ok = false))
    }

  private def walk(out: String): Unit = {
    val (psmsRaw, sdRaw, releaseParsed) = span("io.mzid_parse")(
      MzIdentMlIO.readParsed(spark, Seq(p.mzid)))(r => (r._1.count(), new File(p.mzid).length))
    val mgfBytes = p.dir.listFiles().filter(_.getName.endsWith(".mgf")).map(_.length).sum
    val spectra = span("io.spectra_parse")(pinned(
      graft.pipeline.Commands.readSpectraDir(spark, p.dir.getPath)))(s => (s.count(), mgfBytes))
    val psms = graft.pipeline.PerfbenchFrames.indexPsms(psmsRaw, sdRaw)

    // side spans on the same PSMs: the FDR and protein-inference layers
    val scored = span("fdr.psm_qvalues") {
      val unique = psms.groupBy(col("psmId")).agg(
        min(col("isDecoy")).as("isDecoy"), first(col("score")).as("score"))
      pinned(TargetDecoy.withQValues(unique, Seq.empty, col("score"), col("isDecoy"), col("psmId")))
    }(s => (s.filter(col("q_value") <= 0.01).count(), 0L))
    span("fdr.protein_inference") {
      val confident = scored.filter(col("q_value") <= 0.01 && !col("isDecoy")).select(col("psmId"))
      pinned(ProteinInference.occamsRazor(psms.join(confident, Seq("psmId")).select(
        lit(p.accession).as("assay"), col("peptideSequence").as("peptide"),
        col("proteinAccession").as("protein"))))
    }(g => (g.count(), 0L))
    scored.unpersist()

    val cfg = IndexPipeline.IndexConfig(projectAccession = p.accession, assayAccession = "assay1")
    val index = span("pipeline.index_build")(
      IndexPipeline.run(psms, spectra, None, cfg))(_ => (0L, 0L))
    val validity = span("pipeline.index_exec") {
      index.psmSummaries.count(); index.proteinEvidence.count(); index.validity.head()
    }(_ => (index.archiveSpectra.count(), 0L))
    val archive = s"$out/archive_spectra"
    span("io.json_write") {
      ArchiveJson.writePartitioned(index.archiveSpectra, archive)
      ArchiveJson.write(index.psmSummaries, s"$out/psm_summaries")
      ArchiveJson.write(index.proteinEvidence, s"$out/protein_evidence")
    }(_ => (0L, Outputs.bytes(out)))
    releaseParsed()
    Workload.release(spark)
    check("walk.generate-index-files", Checks.index(p.truth,
      Some(validity.getAs[Long]("nr_psms")), Some(validity.getAs[Long]("nr_decoys")), archive))

    // the reanalysis chain over the index just written
    val checked = s"$out/checked"
    span("io.json_check") {
      val valid = ArchiveJson.validate(ArchiveJson.read(spark, archive))
      ArchiveJson.write(valid, checked)
      valid
    }(v => (v.count(), 0L))
    check("walk.spectra-json-check",
      Checks.report("valid spectra", Outputs.jsonRows(checked), p.truth.survivors))
    val mgf = s"$out/mgf"
    span("io.mgf_write")(graft.pipeline.Commands.generateMgf(spark, checked, mgf))(
      _ => (0L, Outputs.bytes(mgf)))
    check("walk.generate-mgf-files",
      Checks.report("MGF blocks", Outputs.mgfBlocks(mgf), p.truth.survivors))

    val indexed = span("io.json_read")(pinned(GlobalIndex.withGlobalIndex(
      ArchiveJson.read(spark, checked)
        .withColumn("score", col("bestSearchEngineScore.value").cast("double")),
      Seq(col("usi")), "index")))(s => (s.count(), 0L))
    val clusterInput = indexed.select(col("index").as("specId"), col("precursorMz"),
      col("precursorCharge"), col("masses"), col("intensities"))
    val clusters = span("operators.cluster")(pinned(SpectraCluster.clusterSpectra(clusterInput)))(
      c => (c.count(), 0L))
    val consensus = s"$out/consensus_spectra"
    span("pipeline.cluster_inference") {
      val reps = ClusterInference.run(indexed,
        clusters.select(col("specId").as("spectrumIndex"), col("clusterId"))).representatives
      ArchiveJson.write(reps, consensus)
    }(_ => (Outputs.jsonRows(consensus), 0L))
    // counted outside the layer spans: the edge list and the number of clusters
    tracer.counts("operators.cluster.edges") =
      SpectraCluster.similarityEdges(clusterInput).count().toDouble
    tracer.counts("operators.cluster.clusters") =
      clusters.select(col("clusterId")).distinct().count().toDouble
    check("walk.perform-inference",
      Checks.report("consensus clusters", Outputs.sequences(consensus), p.truth.clusters))
  }
}

object Walk {
  /** The walk's commands, in the order their checks are recorded. */
  val Commands: Seq[String] = Seq("generate-index-files", "spectra-json-check",
    "generate-mgf-files", "perform-inference")

  /** Spans reported with the full field set, in call order. */
  val Spans: Seq[String] = Seq("io.mzid_parse", "io.spectra_parse", "fdr.psm_qvalues",
    "fdr.protein_inference", "pipeline.index_build", "pipeline.index_exec", "io.json_write",
    "io.json_check", "io.mgf_write", "operators.cluster", "pipeline.cluster_inference")

  /** The spans whose calls make up `generate-index-files`; the fdr side
    * spans repeat work the pipeline does inside index_exec. */
  val IndexSpans: Seq[String] = Spans.slice(0, 7).filterNot(_.startsWith("fdr."))

  val Fields: Seq[(String, String)] = Seq("wall_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_cpu_s" -> "s", "driver_cpu_s" -> "s", "parallelism" -> "ratio",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  def metrics(spans: Seq[Span]): Map[String, (Double, String)] = {
    val by = spans.map(s => s.name -> s).toMap
    def field(s: Span, f: String): Double = f match {
      case "wall_s" => s.wallS
      case "jobs" => s.counters.jobs.toDouble
      case "tasks" => s.counters.tasks.toDouble
      case "task_cpu_s" => s.counters.taskCpuNs / 1e9
      case "driver_cpu_s" => (s.cpuNs - s.counters.taskCpuNs) / 1e9
      case "parallelism" => s.counters.taskRunMs / 1000.0 / s.wallS
      case "shuffle_mb" => s.counters.shuffleBytes / 1048576.0
      case "spill_mb" => s.counters.spillBytes / 1048576.0
    }
    val perSpan = for {
      name <- Spans; (f, unit) <- Fields
    } yield s"$name.$f" -> (by.get(name).map(field(_, f)).getOrElse(Double.NaN), unit)
    def rows(name: String) = by.get(name).map(_.rows.toDouble).getOrElse(Double.NaN)
    def mbPerS(name: String) =
      by.get(name).map(s => s.bytes / 1048576.0 / s.wallS).getOrElse(Double.NaN)
    val extras = Seq(
      "io.mzid_parse.rows" -> (rows("io.mzid_parse"), "count"),
      "io.mzid_parse.mb_per_s" -> (mbPerS("io.mzid_parse"), "MB/s"),
      "io.spectra_parse.rows" -> (rows("io.spectra_parse"), "count"),
      "io.spectra_parse.mb_per_s" -> (mbPerS("io.spectra_parse"), "MB/s"),
      "fdr.psm_qvalues.rows" -> (rows("fdr.psm_qvalues"), "count"),
      "fdr.protein_inference.rows" -> (rows("fdr.protein_inference"), "count"),
      "pipeline.index_exec.rows" -> (rows("pipeline.index_exec"), "count"),
      "pipeline.index.yield" -> (rows("pipeline.index_exec") / rows("io.mzid_parse"), "ratio"),
      "io.json_write.mb_per_s" -> (mbPerS("io.json_write"), "MB/s"),
      "io.json_check.rows" -> (rows("io.json_check"), "count"),
      "io.mgf_write.mb_per_s" -> (mbPerS("io.mgf_write"), "MB/s"),
      "io.json_read.wall_s" -> (by.get("io.json_read").map(_.wallS).getOrElse(Double.NaN), "s"),
      "operators.cluster.rows" -> (rows("operators.cluster"), "count"),
      "pipeline.cluster_inference.rows" -> (rows("pipeline.cluster_inference"), "count"))
    (perSpan ++ extras).toMap
  }

  def writeSpans(spans: Seq[Span], file: String): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Map("name" -> s.name, "parent" -> s.parent, "project" -> s.project,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "wall_s" -> s.wallS,
        "cpu_s" -> s.cpuNs / 1e9, "jobs" -> s.counters.jobs, "tasks" -> s.counters.tasks,
        "task_cpu_s" -> s.counters.taskCpuNs / 1e9, "task_run_s" -> s.counters.taskRunMs / 1000.0,
        "shuffle_bytes" -> s.counters.shuffleBytes, "spill_bytes" -> s.counters.spillBytes,
        "rows" -> s.rows, "bytes" -> s.bytes)))
    } finally w.close()
  }
}
