package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semi-join filters (reference J4/P6 — both `scripts/filter_*_by_taxid.py`).
  *
  * The reference probes a driver-resident string set; at scale the filter
  * relation is a broadcast LEFT SEMI join — same semantics, no collect.
  * taxIDs compare as strings in the reference (`filter_rrpm_by_taxid
  * .py:29`); joining on a common cast preserves that exactly for numeric
  * and non-numeric inputs alike.
  */
object FilterOps {

  /** S4: taxids CSV (header, `taxID` column) → single-column DataFrame. */
  def readTaxids(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path).select(col("taxID"))

  /** `filter_rrpm_by_taxid.py`: keep rrpm rows whose taxID is in the set. */
  def filterByTaxids(df: DataFrame, taxids: DataFrame): DataFrame =
    df.join(
      broadcast(taxids.select(col("taxID").cast("string").as("_t")).distinct()),
      df("taxID").cast("string") === col("_t"), "left_semi")

  /** K3: the filter scripts' stdout-CSV contract — header + rows when any
    * row matched, NOTHING at all when none did
    * (`filter_rrpm_by_taxid.py:33–36`: the writer is never constructed
    * for an empty result). The sink's part files answer "did anything
    * match": the frame runs once, with no emptiness probe before it. */
  def writeFilteredCsv(df: DataFrame, target: String): Boolean =
    graft.io.CsvSink.writeSingleCsv(df, df.columns.toSeq, target, skipEmpty = true)

  /** K3, stdout channel: the reference writes the filtered CSV to STDOUT
    * (`filter_rrpm_by_taxid.py:33–36` — "where it can be directed into a
    * file"), emitting nothing at all on an empty result. Routed through
    * the same single-CSV sink so quoting/stringification stay identical,
    * then streamed to `out`. Returns true iff anything was emitted. */
  def printFilteredCsv(df: DataFrame, out: java.io.PrintStream = System.out): Boolean = {
    val tmp = java.nio.file.Files.createTempFile("graft_k3_stdout", ".csv")
    try {
      val any = writeFilteredCsv(df, tmp.toString)
      if (any) {
        val lines = java.nio.file.Files.lines(tmp)
        try lines.forEach(l => out.println(l)) finally lines.close()
      }
      any
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** `filter_reports_by_taxid.py`: same filter over a folder of reports,
    * with `sampleName` = FIRST underscore token of the file name (F6 —
    * deliberately different from the main tool's rule) prepended.
    *
    * Columns stay STRINGS end-to-end: the reference is a DictReader →
    * DictWriter passthrough (`filter_reports_by_taxid.py:31–41`) that
    * never parses a value, so `0.10` must reach the output as `0.10`.
    * Typing here would reformat on emit; callers that need typed values
    * cast at their use site, exactly like the reference does.
    */
  def filterReportsByTaxids(spark: SparkSession, reportsGlob: String,
      taxids: DataFrame): DataFrame = {
    val rawSchema = org.apache.spark.sql.types.StructType(
      graft.schema.ReportSchema.schema.fieldNames.map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType)))
    val reports = graft.io.ReportReader.listedOnDriver(spark) {
      spark.read
        .option("sep", "\t").option("header", "true").option("comment", "#")
        .schema(rawSchema)
        .csv(reportsGlob)
    }.withColumn("sampleName",
      graft.io.ReportReader.sampleIdFirstToken(graft.io.ReportReader.fileName))
    filterByTaxids(reports, taxids)
      .select(col("sampleName") +: graft.schema.ReportSchema.schema.fieldNames
        .map(col).toSeq: _*)
  }
}
