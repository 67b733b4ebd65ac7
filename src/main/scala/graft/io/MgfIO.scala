package graft.io

import graft.functions.MgfBlockExpr
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MGF spectra source/sink (SURVEY.md §2.1 S2, K3).
  *
  * The reference does random access by spectrum index through jmzReader
  * (JmzReaderSpectrumService.java:120-128); Spark-first, the whole file
  * becomes a `DataFrame` of spectra with an explicit 0-based per-file
  * `index` column, and the reference's point lookups become joins (J1).
  *
  * Both readers cut a file into `END IONS`-delimited chunks and parse each
  * chunk with one native kernel, [[MgfBlockExpr]], in the scan stage. The
  * per-file index is a `row_number` over the parsed rows ordered by chunk
  * position, so the window's exchange carries parsed spectra and parses
  * nothing. A malformed header or peak number becomes null, never a cast
  * error (the F12 validity gate then sees the spectrum).
  */
object MgfIO {

  /** Parse MGF files under `path` into spectra rows:
    * (fileName, index, scanId, title, msLevel=2, precursorMz,
    * precursorCharge, retentionTime, masses, intensities). */
  def read(spark: SparkSession, path: String): DataFrame = readPaths(spark, Seq(path))

  /** Splittable: `lineSep = "END IONS"` chunks the file at block
    * boundaries, so a 100 GB MGF parses across tasks. Chunk position is
    * `monotonically_increasing_id()`, which is monotone within a file
    * because the text source enumerates file splits in offset order. */
  def readPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    spectra(spark.read.option("lineSep", "END IONS").text(paths: _*).select(
      regexp_replace(input_file_name(), ".*/", "").as("fileName"),
      monotonically_increasing_id().as("_chunk"),
      col("value")))

  /** Exact-index variant: reads each file WHOLE in one task
    * (`wholeTextFiles`), so chunk positions, and with them the 0-based
    * per-file index, are exact by construction rather than by split
    * ordering. Use for the positional cluster contract (J4) and
    * small-to-medium files; [[read]] is the path for huge single files.
    * Rows equal [[readPaths]]'s: the same chunks, the same kernel. */
  def readExact(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spectra(spark.sparkContext
      .wholeTextFiles(path)
      .flatMap { case (file, content) =>
        val name = file.replaceAll(".*/", "")
        content.split("END IONS", -1).iterator.zipWithIndex
          .map { case (chunk, i) => (name, i.toLong, chunk) }
      }
      .toDF("fileName", "_chunk", "value"))
  }

  /** (fileName, _chunk, value) chunks -> spectra rows, numbered per file
    * in `_chunk` order. `explode` evaluates the kernel once per chunk and
    * emits no row for a chunk without a block (IoSpec pins the single
    * evaluation on the optimized plan). Unlike `inline`, an empty input
    * propagates through `explode`, so a filter that folds to false on the
    * readers' literal `fileType` still empties the plan (the J1 rescue's
    * `provablyEmpty`). */
  private def spectra(chunks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fileName")).orderBy(col("_chunk"))
    chunks
      .select(col("fileName"), col("_chunk"),
        explode(MgfBlockExpr.parseCol(chunks.sparkSession, col("value"))).as("_p"))
      .withColumn("index", row_number().over(w).cast("long") - 1)
      .select(
        col("fileName"),
        col("index"),
        col("index").cast("string").as("scanId"),
        col("_p.title"),
        lit(2).as("msLevel"),
        col("_p.precursorMz"),
        col("_p.precursorCharge"),
        col("_p.retentionTime"),
        col("_p.masses"),
        col("_p.intensities"),
      )
  }

  /** K3 — format spectra as MGF blocks, byte-compatible with the reference
    * writer (MGFPRIDEWriter.java:12-62): `TITLE=id=<usi>[,sequence=<pf>]`,
    * PEPMASS/CHARGE as Java double strings (charge suffixed `+` when
    * positive), peaks as `%10.3f "\t" %10.3f`-trimmed.
    *
    * Expects columns (usi, peptidoform, precursorMz, precursorCharge,
    * masses, intensities). Returns a single-column DataFrame of blocks in
    * the given order — the MGF row order IS the MaraCluster positional
    * contract (J4), so callers must pass an explicit `orderBy`. */
  def toMgfBlocks(df: DataFrame, orderBy: Seq[Column]): DataFrame = {
    // A null usi/precursorMz/precursorCharge would null the whole concat
    // and the text writer would emit an EMPTY line — silently shifting
    // every later spectrum index against the (usi, index) sidecar, i.e.
    // corrupting the MaraCluster positional contract. Fail loudly instead
    // (coalesce short-circuits, so the error fires only on an actual null).
    def reqNonNull(c: Column, what: String): Column =
      coalesce(c, raise_error(lit(
        s"toMgfBlocks: null $what would emit an empty MGF block and shift " +
          "the positional index")))
    val charge = reqNonNull(col("precursorCharge").cast("double"), "precursorCharge")
    val block = concat(
      lit("BEGIN IONS\n"),
      lit("TITLE=id="), reqNonNull(col("usi"), "usi"),
      when(col("peptidoform").isNotNull && length(col("peptidoform")) > 0,
        concat(lit(",sequence="), col("peptidoform"))).otherwise(lit("")),
      lit("\n"),
      lit("PEPMASS="), charge_str(reqNonNull(col("precursorMz"), "precursorMz")), lit("\n"),
      lit("CHARGE="), charge_str(charge),
      when(charge > 0, lit("+")).otherwise(lit("")), lit("\n"),
      when(size(col("masses")) > 0,
        concat(array_join(zip_with(col("masses"), col("intensities"),
          (m, i) => concat(format_string("%10.3f", m), lit("\t"),
            trim(format_string("%10.3f", i)))), "\n"), lit("\n")))
        .otherwise(lit("")),
      lit("END IONS"),
    )
    df.orderBy(orderBy: _*).select(block.as("value"))
  }

  /** Java `String.valueOf(double)` shape: integral doubles render "2.0". */
  private def charge_str(c: Column): Column =
    when(c === c.cast("long").cast("double"),
      concat(c.cast("long").cast("string"), lit(".0")))
      .otherwise(c.cast("string"))

  /** Write MGF to a single text file directory (one file per assay keeps the
    * MaraCluster index contract; per-assay parallelism is across assays). */
  def write(df: DataFrame, orderBy: Seq[Column], path: String): Unit =
    toMgfBlocks(df, orderBy).coalesce(1).write.mode("overwrite").text(path)
}
