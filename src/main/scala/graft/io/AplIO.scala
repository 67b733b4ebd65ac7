package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** APL spectra source (SURVEY.md §2.1 S2 — the last FileType enum member,
  * SubmissionPipelineUtils.java:89-99). MaxQuant's Andromeda peak-list
  * format (public): `peaklist start` / `peaklist end` blocks with
  * `mz=`, `charge=`, `header=` fields and `m/z<TAB>intensity` peaks.
  * Index-addressed like MGF/PKL. Splittable on the block terminator. */
object AplIO {

  def read(spark: SparkSession, path: String): DataFrame = readPaths(spark, Seq(path))

  def readPaths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val raw = spark.read.option("lineSep", "peaklist end").text(paths: _*)
      .withColumn("fileName", regexp_replace(input_file_name(), ".*/", ""))
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("value", regexp_replace(col("value"), "\r", ""))
      .filter(col("value").contains("peaklist start"))

    val lines = split(col("value"), "\n")
    def field(key: String) = {
      val hits = filter(lines, l => l.startsWith(s"$key="))
      when(size(hits) > 0, regexp_replace(element_at(hits, 1), s"^$key=", ""))
    }
    val peakLines = filter(lines, l => l.rlike("^[0-9][0-9.eE+-]*[ \\t]+[0-9]"))
    val w = Window.partitionBy(col("fileName")).orderBy(col("_mid"))

    raw
      .withColumn("index", row_number().over(w).cast("long") - 1)
      .select(Seq(
        col("fileName"),
        col("index"),
        col("index").cast("string").as("scanId"),
        coalesce(field("header"), lit("")).as("title"),
        lit(2).as("msLevel"),
        Numbers.double(field("mz")).as("precursorMz"),
        // no charge line reads 0; a malformed one null
        Numbers.int(coalesce(field("charge"), lit("0"))).as("precursorCharge"),
        lit(null).cast("double").as("retentionTime"),
      ) ++ Numbers.peaks(peakLines): _*)
  }
}
