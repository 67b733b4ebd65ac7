package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The column-expression MGF parser that `MgfIO.readPaths` used before the
  * native kernel, kept as the parity oracle for [[graft.functions.MgfBlockExpr]].
  * Per-line `filter`/`transform` lambdas, a regex per line and a regex
  * split per peak. Under ANSI casts it fails the whole read on a malformed
  * number; with `spark.sql.ansi.enabled=false` the same number is null,
  * which is the kernel's rule. */
object MgfColumnParser {

  def readPaths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val raw = spark.read.option("lineSep", "END IONS").text(paths: _*)
      .withColumn("fileName", regexp_replace(input_file_name(), ".*/", ""))
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("value", regexp_replace(col("value"), "\r", ""))
      .filter(col("value").contains("BEGIN IONS"))

    val lines = split(col("value"), "\n")
    def headerVal(key: String): Column = {
      val hits = filter(lines, l => l.startsWith(s"$key="))
      when(size(hits) > 0, regexp_replace(element_at(hits, 1), s"^$key=", ""))
    }

    val peakLines = filter(lines, l => l.rlike("^\\s*[0-9][0-9.eE+-]*[ \\t]+[0-9]"))
    val chargeRaw = headerVal("CHARGE")
    val w = Window.partitionBy(col("fileName")).orderBy(col("_mid"))

    raw
      .withColumn("index", row_number().over(w).cast("long") - 1)
      .select(
        col("fileName"),
        col("index"),
        col("index").cast("string").as("scanId"),
        coalesce(headerVal("TITLE"), lit("")).as("title"),
        lit(2).as("msLevel"),
        regexp_extract(headerVal("PEPMASS"), "^([0-9.eE+-]+)", 1).cast("double")
          .as("precursorMz"),
        (regexp_extract(chargeRaw, "^([0-9.]+)", 1).cast("double") *
          when(chargeRaw.endsWith("-"), -1).otherwise(1)).cast("int")
          .as("precursorCharge"),
        headerVal("RTINSECONDS").cast("double").as("retentionTime"),
        transform(peakLines, l =>
          element_at(split(trim(l), "[ \\t]+"), 1).cast("double")).as("masses"),
        transform(peakLines, l =>
          element_at(split(trim(l), "[ \\t]+"), 2).cast("double"))
          .as("intensities"),
      )
  }
}
