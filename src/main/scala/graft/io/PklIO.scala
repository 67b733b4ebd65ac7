package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PKL spectra source (SURVEY.md §2.1 S2, PKL branch — index-addressed
  * like MGF). PKL is blank-line-separated blocks: a header line
  * `precursorMH intensity charge` followed by `mz intensity` peak lines
  * (public PKL format as read by jmzReader's PklFile). Splittable via the
  * blank-line block separator; per-file index recovered like MgfIO. */
object PklIO {

  def read(spark: SparkSession, path: String): DataFrame = readPaths(spark, Seq(path))

  def readPaths(spark: SparkSession, paths: Seq[String]): DataFrame = {
    // Block separator is a blank LINE, which is "\n\n" for Unix files but
    // "\r\n\r\n" for CRLF ones — lineSep can't express both, so split on
    // "\n\n" after normalizing away CRLF via a regex on the block text.
    // (CRLF files contain no bare "\n\n", so each file arrives as ONE
    // chunk; re-split on the normalized blank line below.)
    val chunks = spark.read.option("lineSep", "\n\n").text(paths: _*)
      .withColumn("fileName", regexp_replace(input_file_name(), ".*/", ""))
      .withColumn("_mid", monotonically_increasing_id())
      .withColumn("value", regexp_replace(col("value"), "\r", ""))

    // Re-split any chunk that still contains blank lines (the CRLF case),
    // preserving order via posexplode. Ordering key stays COMPOSITE
    // (_mid, _pos): folding it into one long via _mid * 1e6 would overflow
    // past ~1074 input partitions (monotonically_increasing_id keeps the
    // partition id in the upper 31 bits) and scramble the positional index.
    // Chunk triage: banners (vendor comments, non-numeric noise) are
    // structural and skipped; anything that LOOKS like a spectrum block
    // (first line starts with a digit or '.') is KEPT even when malformed
    // — a truncated single-field header or a garbled peak line parses to
    // null fields below, so the row reaches the F12 validity gate as an
    // observable invalid spectrum instead of silently vanishing from the
    // positional index.
    val raw = chunks
      .select(col("fileName"), col("_mid"),
        posexplode(split(col("value"), "\n\n")).as(Seq("_pos", "value")))
      .filter(length(trim(col("value"))) > 0)
      .filter(trim(col("value")).rlike("^[0-9.]"))

    val lines = filter(split(trim(col("value")), "\n"), l => length(trim(l)) > 0)
    val header = split(trim(element_at(lines, 1)), "[ \\t]+")
    val peakLines = slice(lines, lit(2), size(lines))
    val w = Window.partitionBy(col("fileName")).orderBy(col("_mid"), col("_pos"))

    raw
      .withColumn("index", row_number().over(w).cast("long") - 1)
      .select(Seq(
        col("fileName"),
        col("index"),
        col("index").cast("string").as("scanId"),
        lit("").as("title"),
        lit(2).as("msLevel"),
        Numbers.doubleAt(header, 1).as("precursorMz"),
        // a malformed 2-field header yields a null charge (caught by the
        // F12 validity gate) instead of an ANSI INVALID_ARRAY_INDEX crash
        Numbers.int(try_element_at(header, lit(3))).as("precursorCharge"),
        lit(null).cast("double").as("retentionTime"),
      ) ++ Numbers.peaks(peakLines): _*)
  }
}
