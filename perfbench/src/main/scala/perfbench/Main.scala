package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, one Spark session, one client thread
  * running the workload's operations back to back (closed loop).
  *
  *   perfbench.Main --inputs DIR --warm DIR --work DIR --trace 0|1 --spans FILE
  *
  * `--inputs` and `--warm` hold generated projects (see gen.py); `--work`
  * receives command outputs, deleted after each operation outside the
  * timed region. Prints one JSON line of metrics, checks included.
  */
object Main {

  /** One timed operation: a user command with its output check. */
  final case class Op(name: String, project: String, wallS: Double, cpuS: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val traced = o("trace") == "1"
    val inputs = Truth.projects(new File(o("inputs")))
    val warm = Truth.projects(new File(o("warm")))
    require(inputs.nonEmpty, s"no generated projects under ${o("inputs")}")
    require(warm.nonEmpty, s"no warm-up projects under ${o("warm")}")
    val work = new File(o("work"))
    val load0 = loadAverage()

    val spark = session()
    val result =
      try {
        val w = new Workload(spark, work)
        val warmOps = w.warmUp(warm, walk = traced)
        val setupS = (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
        val (metrics, ops) =
          if (traced) w.traced(inputs.head, o("spans"))
          else w.timed(inputs)
        val all = if (traced) metrics else metrics + ("setup_s" -> (setupS, "s"))
        Json.result(warmOps, ops, all, steadiness(spark, load0, setupS))
      } finally spark.stop()
    println(result)
  }

  /** Built the way `graft.Cli.main` builds it: master from SPARK_MASTER,
    * shuffle partitions from SPARK_GRAFT_CPUS, AQE on, UTC. */
  def session(): SparkSession = {
    val builder = SparkSession.builder()
      .appName("graft-perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_MASTER").foreach(builder.master)
    sys.env.get("SPARK_GRAFT_CPUS").foreach(builder.config("spark.sql.shuffle.partitions", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def steadiness(spark: SparkSession, load0: Double, setupS: Double): Map[String, Any] =
    Map(
      "threads" -> spark.sparkContext.defaultParallelism,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Clock.heapMaxMb,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "load_start" -> load0,
      "load_end" -> loadAverage(),
      "gc_s" -> Clock.gcMs / 1000.0,
      "jit_s" -> Clock.jitMs / 1000.0,
      "setup_s" -> setupS)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JSON output with the same Jackson the engine's classpath carries. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** The steadiness line and the result line. Warm-up operations count as
    * attempted (and failed, when they fail) like timed ones; only timed
    * ones are reported per project. A metric without a value is null. */
  def result(warmOps: Seq[Main.Op], ops: Seq[Main.Op], metrics: Map[String, (Double, String)],
      env: Map[String, Any]): String = {
    val all = warmOps ++ ops
    val failed = all.count(!_.ok)
    val m = metrics.map { case (k, (v, unit)) =>
      k -> Map("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> unit)
    }
    val failedOps = all.filterNot(_.ok).map(op => s"${op.name}:${op.project}").distinct
    val opWalls = ops.map(op => s"${op.project}=${op.wallS}")
    // the steadiness record rides on its own line, before the result line
    write(Map("steadiness" -> (env ++ Map("failed_ops" -> failedOps, "op_wall_s" -> opWalls)))) +
      "\n" + write(Map("correct" -> (failed == 0 && ops.nonEmpty), "attempted" -> all.size,
        "failed" -> failed, "metrics" -> m))
  }
}

/** A workload: generate-index-files run back to back over its projects
  * (closed loop, one client), each project exactly once. */
final class Workload(spark: SparkSession, work: File) {
  private var seq = 0

  /** A fresh output directory under the work dir. */
  private def outDir(tag: String): String = {
    seq += 1
    new File(work, f"$tag-$seq%04d").getPath
  }

  /** One timed command: wall and process CPU around `Cli.run`; the output
    * check and the clean-up run after the clock stops. An exception or a
    * failed check fails the operation. */
  private def indexOp(p: Project): Main.Op = {
    val out = outDir(p.accession)
    val w0 = Clock.wallNs; val c0 = Clock.cpuNs
    val printed =
      try Some(Commands.index(spark, p, out))
      catch { case e: Exception => System.err.println(s"[perfbench] ${p.accession}: $e"); None }
    val w1 = Clock.wallNs; val c1 = Clock.cpuNs
    val ok = printed.exists(text => Checks.index(p.truth,
      Commands.printed(text, "nr_psms"), Commands.printed(text, "nr_decoys"),
      s"$out/archive_spectra"))
    Workload.release(spark, out)
    Main.Op("generate-index-files", p.accession, (w1 - w0) / 1e9, (c1 - c0) / 1e9, ok)
  }

  /** The untimed warm-up: the command on each warm-up project. The traced
    * run first walks the last warm-up project, which warms the layer calls
    * and the reanalysis-chain layers, so that both the traced walk and the
    * untraced baseline command run warm. */
  def warmUp(projects: Seq[Project], walk: Boolean): Seq[Main.Op] = {
    val walked =
      if (walk) new Walk(spark, new File(work, "walk-warm"), projects.last).run(None)._2 else Nil
    walked ++ projects.map(indexOp)
  }

  /** Every project once, back to back. A project is never repeated: a
    * second pass reuses the code generated for the first and runs faster,
    * which a user indexing each project once never sees. */
  def timed(projects: Seq[Project]): (Map[String, (Double, String)], Seq[Main.Op]) = {
    val ops = projects.map(indexOp)
    val wall = ops.map(_.wallS)
    val totalWall = wall.sum
    val m = Map(
      "wall_s" -> (totalWall / ops.size, "s"),
      "cpu_s" -> (ops.map(_.cpuS).sum / ops.size, "s"),
      "project_p50_s" -> (Stats.median(wall), "s"),
      "psms_per_s" -> (projects.map(_.truth.psms).sum / totalWall, "1/s"),
      "spectra_per_s" -> (projects.map(_.truth.spectra).sum / totalWall, "1/s"))
    (m, ops)
  }

  /** The traced run: one untraced command on `project` as the overhead
    * baseline, then the traced walk on `project`. */
  def traced(project: Project, spansFile: String): (Map[String, (Double, String)], Seq[Main.Op]) = {
    val base = indexOp(project)
    val (m, ops) = new Walk(spark, new File(work, "walk"), project).run(Some(spansFile))
    val traced = Walk.IndexSpans.map(s => m(s"$s.wall_s")._1).sum
    (m ++ Map(
      "trace.untraced_wall_s" -> (base.wallS, "s"),
      "trace.traced_wall_s" -> (traced, "s"),
      "trace.overhead_s" -> (traced - base.wallS, "s"),
      "trace.overhead_pct" -> (100.0 * (traced - base.wallS) / base.wallS, "%")),
      base +: ops)
  }
}

object Workload {

  /** Release what one command leaves cached and delete its outputs: a CLI
    * process would drop both when it exits. */
  def release(spark: SparkSession, dirs: String*): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    dirs.foreach(d => Outputs.delete(new File(d)))
  }
}

/** Output checks against the generator's ground truth. */
object Checks {
  /** generate-index-files: printed nr_psms/nr_decoys, written archive rows
    * and USI uniqueness. */
  def index(t: Truth, nrPsms: Option[Long], nrDecoys: Option[Long], archive: String): Boolean = {
    val (rows, usis) = Outputs.usiCounts(archive)
    report("nr_psms", nrPsms.getOrElse(-1L), t.psms) &
      report("nr_decoys", nrDecoys.getOrElse(-1L), t.decoys) &
      report("archive rows", rows, t.survivors) & report("distinct USIs", usis, rows)
  }

  def report[T](what: String, got: T, want: T): Boolean = {
    if (got != want) System.err.println(s"[perfbench] check failed: $what = $got, expected $want")
    got == want
  }
}
