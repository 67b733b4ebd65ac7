package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One generated project: its directory, mzIdentML file and ground truth. */
final case class Project(dir: File, truth: Truth) {
  def accession: String = truth.accession
  def mzid: String = new File(dir, s"$accession.mzid").getPath
}

/** The generator's ground-truth record (truth.json). */
final case class Truth(
    accession: String, psms: Long, decoys: Long, survivors: Long, spectra: Long,
    clusters: Seq[String])

object Truth {
  def read(f: File): Truth = {
    val j = Json.mapper.readTree(f)
    Truth(j.get("accession").asText, j.get("psms").asLong, j.get("decoys").asLong,
      j.get("survivors").asLong, j.get("spectra").asLong,
      Option(j.get("clusters")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil))
  }

  def projects(root: File): Seq[Project] =
    Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(d => new File(d, "truth.json").isFile).sortBy(_.getName)
      .map(d => Project(d, read(new File(d, "truth.json"))))
}

/** The user command surface: each operation is one `graft.Cli.run` call
  * with the argument strings a user passes. What the command prints is
  * captured for the output checks. */
object Commands {
  def index(spark: SparkSession, p: Project, out: String): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps)(graft.Cli.run(spark, Array("generate-index-files", "--mzid", p.mzid,
      "--spectra", p.dir.getPath, "--project-accession", p.accession, "--out", out)))
    ps.flush()
    buf.toString("UTF-8")
  }

  /** Printed `key=value` counter of a command, e.g. nr_psms. */
  def printed(out: String, key: String): Option[Long] =
    s"$key=(\\d+)".r.findFirstMatchIn(out).map(_.group(1).toLong)
}

/** Reads command outputs back with plain file IO, outside timed regions. */
object Outputs {
  private def files(dir: String, suffix: String): Seq[Path] =
    if (!new File(dir).exists()) Nil
    else Files.walk(new File(dir).toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(suffix))
      .toSeq.sortBy(_.toString)

  private def lines(dir: String, suffix: String): Iterator[String] =
    files(dir, suffix).iterator.flatMap(p => Files.readAllLines(p).asScala)

  private val UsiField = "\"usi\":\"([^\"]*)\"".r
  private val SeqField = "\"peptideSequence\":\"([^\"]*)\"".r

  /** (rows, distinct USIs) of a JSON-lines table. */
  def usiCounts(dir: String): (Long, Long) = {
    val seen = new java.util.HashSet[String]()
    var rows = 0L
    lines(dir, ".json").foreach { l =>
      rows += 1
      UsiField.findFirstMatchIn(l).foreach(m => seen.add(m.group(1)))
    }
    (rows, seen.size.toLong)
  }

  def jsonRows(dir: String): Long = lines(dir, ".json").size.toLong

  def sequences(dir: String): Seq[String] =
    lines(dir, ".json").flatMap(l => SeqField.findFirstMatchIn(l).map(_.group(1))).toSeq.sorted

  def mgfBlocks(dir: String): Long = lines(dir, ".txt").count(_ == "BEGIN IONS").toLong

  def bytes(dir: String): Long =
    if (!new File(dir).exists()) 0L
    else Files.walk(new File(dir).toPath).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  def delete(dir: File): Unit =
    if (dir.exists()) Files.walk(dir.toPath).iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
}
