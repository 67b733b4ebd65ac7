package graft.pipeline

import graft.functions.UsiFunctions.IdFormat
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The layer walk's copy of frames the commands build inline. It lives in
  * the engine's package to use the same private helpers the commands use. */
object PerfbenchFrames {

  /** The psm frame `Commands.generateIndexFilesFromMzid` builds for a
    * single mzIdentML file (its `mzidPaths.sizeIs <= 1` branch, where no
    * PSM sets are merged). A copy of that method's expressions: keep the
    * two in step. */
  def indexPsms(psmsRaw: DataFrame, sdRaw: DataFrame): DataFrame = {
    val sd = sdRaw.withColumnRenamed("file", "mzidFile")
    val base = regexp_replace(element_at(split(col("location"), "/"), -1), "\\.(gz|zip)$", "")
    val lowerBase = lower(base)
    val sdInfo = sd.select(
      col("mzidFile"), col("spectraDataId"),
      base.as("fileName"),
      Commands.fileTypeFromName(lowerBase).as("fileType"),
      when(IdFormat.fromAccession(col("idFormatAccession")) =!= IdFormat.None,
        IdFormat.fromAccession(col("idFormatAccession")))
        .otherwise(Commands.idFormatFromName(lowerBase))
        .as("idFormat"))
    psmsRaw
      .join(broadcast(sdInfo),
        psmsRaw("file") === sdInfo("mzidFile") &&
          psmsRaw("spectraDataRef") === sdInfo("spectraDataId"))
      .withColumn("retentionTime", lit(null).cast("double"))
      .withColumn("psmId", concat(col("file"), lit(":"), col("psmId")))
      .select("psmId", "peptideSequence", "proteinAccession", "isDecoy", "score",
        "charge", "expMassToCharge", "calcMassToCharge", "modifications",
        "sourceId", "fileName", "idFormat", "fileType", "retentionTime")
  }
}
