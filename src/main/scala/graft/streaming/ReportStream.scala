package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.ReportSchema
import graft.io.ReportReader

/** Incremental report ingestion — the streaming twin of the batch
  * pipeline's scan+aggregate stages. The reference re-reads every report
  * on each run; here a directory is watched and per-(organism, sample)
  * counts plus per-sample totals update incrementally as new sample
  * reports land. Complete-mode aggregations keep exact parity with the
  * batch semantics (no watermark: report batches are bounded per run,
  * and sample count — the state size — is dimension-sized).
  */
object ReportStream {

  /** stream of typed report rows from a watched directory of `*.tsv` */
  def readReportStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("sep", "\t")
      .option("header", "true")
      .option("comment", "#")
      .schema(ReportSchema.schema)
      .csv(s"$dir/*.tsv")
      .withColumn(ReportSchema.Sample,
        ReportReader.sampleIdLastUnderscore(ReportReader.fileName))

  /** incremental A1: per-sample totals (taxID 0/1 rows) */
  def runningTotals(reports: DataFrame): DataFrame =
    reports.filter(col(ReportSchema.TaxId).isin(ReportSchema.TotalTaxIds: _*))
      .groupBy(col(ReportSchema.Sample))
      .agg(sum(col(ReportSchema.Reads)).as("total_reads"))

  /** incremental A2: long-format combined counts at a rank */
  def runningCounts(reports: DataFrame, rank: String): DataFrame =
    reports
      .filter(!col(ReportSchema.TaxId).isin(ReportSchema.TotalTaxIds: _*)
        && col(ReportSchema.Rank) === rank)
      .groupBy(col(ReportSchema.TaxId), col(ReportSchema.Sample))
      .agg(sum(col(ReportSchema.Reads)).as(ReportSchema.Reads))
}
