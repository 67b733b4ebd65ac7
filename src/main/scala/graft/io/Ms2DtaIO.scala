package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MS2 and DTA spectra sources (SURVEY.md §2.1 S2 — the remaining
  * FileType enum members, SubmissionPipelineUtils.java:89-99).
  *
  * MS2 (public format): `H` header lines; per spectrum an
  * `S <scanLo> <scanHi> <precursorMz>` line, optional `Z <charge> <MH+>`
  * and `I` lines, then `mz intensity` peaks. Scan-number addressed.
  *
  * DTA: ONE spectrum per file — `<MH+> <charge>` header then peaks;
  * precursor m/z = (MH+ + (z-1)*proton)/z. Index-addressed (single 0).
  */
object Ms2DtaIO {

  private val Proton = 1.007276

  /** MS2 block scan: splittable via the `\nS\t` record separator. */
  def readMs2(spark: SparkSession, path: String): DataFrame =
    readMs2Paths(spark, Seq(path))

  def readMs2Paths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val raw = spark.read.option("lineSep", "\nS\t").text(paths: _*)
      .withColumn("fileName", regexp_replace(input_file_name(), ".*/", ""))
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("value", regexp_replace(col("value"), "\r", ""))
      // first chunk is the H-header block (no leading S), unless the file
      // starts with S; normalize: keep chunks whose first line looks like
      // a (possibly stripped) S line: "<int> <int> <float>"
      .withColumn("value",
        when(col("value").startsWith("S\t"), regexp_replace(col("value"), "^S\\t", ""))
          .otherwise(col("value")))
      .filter(col("value").rlike("^\\d+[ \\t]+\\d+[ \\t]+[0-9.eE+-]+"))

    val lines = split(col("value"), "\n")
    val sLine = split(trim(element_at(lines, 1)), "[ \\t]+")
    val rest = slice(lines, lit(2), size(lines)) // everything after the S line
    val zLines = filter(rest, l => l.startsWith("Z\t") || l.rlike("^Z[ \\t]"))
    val peakLines = filter(rest, l => l.rlike("^[0-9][0-9.eE+-]*[ \\t]+[0-9]"))
    val w = Window.partitionBy(col("fileName")).orderBy(col("_mid"))

    raw
      .withColumn("index", row_number().over(w).cast("long") - 1)
      .select(Seq(
        col("fileName"),
        col("index"),
        element_at(sLine, 1).cast("long").cast("string").as("scanId"),
        lit("").as("title"),
        lit(2).as("msLevel"),
        Numbers.doubleAt(sLine, 3).as("precursorMz"),
        // no Z line (or no charge on it) reads 0; a malformed charge null
        Numbers.int(coalesce(
          try_element_at(split(trim(try_element_at(zLines, lit(1))), "[ \\t]+"), lit(2)),
          lit("0"))).as("precursorCharge"),
        lit(null).cast("double").as("retentionTime"),
      ) ++ Numbers.peaks(peakLines): _*)
  }

  /** DTA scan: one spectrum per file (wholeTextFiles, one task each). */
  def readDta(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(path)
      .map { case (file, content) =>
        val lines = content.replace("\r", "").split("\n").map(_.trim).filter(_.nonEmpty)
        val header = lines.head.split("[ \\t]+")
        val mhPlus = header(0).toDouble
        val z = header(1).toInt
        val peaks = lines.tail.map { l =>
          val p = l.split("[ \\t]+"); (p(0).toDouble, p(1).toDouble)
        }
        val mz = (mhPlus + (z - 1) * Proton) / z
        (file.replaceAll(".*/", ""), 0L, "0", "", 2, mz, z,
          None: Option[Double], peaks.map(_._1).toSeq, peaks.map(_._2).toSeq)
      }
      .toDF("fileName", "index", "scanId", "title", "msLevel", "precursorMz",
        "precursorCharge", "retentionTime", "masses", "intensities")
  }
}
