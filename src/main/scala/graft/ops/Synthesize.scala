package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.schema.ReportSchema

/** Report synthesis (reference `scripts/modify_reports.py`): given
  * species-level reports and DNA/RNA total-read sidecar TSVs, emit
  * complete reports with simulated unclassified (taxID 0) and root
  * (taxID 1) rows.
  */
object Synthesize {

  /** S6: headerless TSV, col 0 = sample (trimmed at last `_`), col 2 =
    * total; the RNA file OVERRIDES DNA on sample collision
    * (`modify_reports.py:25–40`). Expressed as a priority union +
    * last-wins window — no driver-side dict. */
  def totalReads(spark: SparkSession, dnaPath: String, rnaPath: String): DataFrame = {
    def read(path: String, priority: Int) =
      spark.read.option("sep", "\t").csv(path)
        .select(
          graft.io.ReportReader.sampleIdLastUnderscore(concat(lit("/"), col("_c0")))
            .as("sample"),
          col("_c2").cast("long").as("total_reads"),
          lit(priority).as("_prio"))
    val unioned = read(dnaPath, 0).unionByName(read(rnaPath, 1))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("sample")).orderBy(col("_prio").desc)
    unioned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_prio", "_rn")
  }

  /** Per-sample classified-reads sum + kmer sum over species rows
    * (A4/A5, `modify_reports.py:54–77, 129`). Grouped over ALL rows with
    * conditional sums, not over a pre-filter: a report whose rows are all
    * non-species still yields its sample (classified = 0), matching the
    * reference, which writes a complete report with a 0-read root row for
    * such files. */
  def classifiedStats(speciesReports: DataFrame): DataFrame = {
    val isSpecies = col(ReportSchema.Rank) === "species"
    speciesReports.groupBy(col(ReportSchema.Sample))
      .agg(
        coalesce(sum(when(isSpecies, col(ReportSchema.Reads))), lit(0L))
          .as("classified_reads"),
        coalesce(sum(when(isSpecies, col(ReportSchema.Kmers))), lit(0L))
          .as("kmer_sum"))
  }

  /** Synthesized taxID-0/taxID-1 rows per sample: unclassified =
    * max(total − classified, 0) with a warning row marker when clamped
    * (`modify_reports.py:81–87`); the unclassified row is omitted when 0
    * (`:109–121`); percents are computed against total. */
  def syntheticRows(stats: DataFrame, totals: DataFrame): DataFrame = {
    val j = stats.join(totals, Seq("sample"), "inner")
      .withColumn("unclassified_raw", col("total_reads") - col("classified_reads"))
      .withColumn("clamped", col("unclassified_raw") < 0)
      .withColumn("unclassified", greatest(col("unclassified_raw"), lit(0L)))
    val unclassifiedRow = j.filter(col("unclassified") > 0).select(
      col("sample"),
      (col("unclassified").cast("double") / col("total_reads") * 100).as("pct"),
      col("unclassified").as("reads"), col("unclassified").as("taxReads"),
      lit(0L).as("kmers"), lit(0.0).as("dup"), lit(0.0).as("cov"),
      lit(0L).as("taxID"), lit("unclassified").as("rank"),
      lit("unclassified").as("taxName"), col("clamped"))
    val rootRow = j.select(
      col("sample"),
      (col("classified_reads").cast("double") / col("total_reads") * 100).as("pct"),
      col("classified_reads").as("reads"), col("classified_reads").as("taxReads"),
      col("kmer_sum").as("kmers"), lit(0.0).as("dup"), lit(0.0).as("cov"),
      lit(1L).as("taxID"), lit("root").as("rank"), lit("root").as("taxName"),
      col("clamped"))
    unclassifiedRow.unionByName(rootRow)
  }

  /** K4: write one complete TSV per sample — 2 `#` comment lines, header,
    * unclassified row, root row, then the sample's species rows in file
    * order (`modify_reports.py:95–140`). `clock` injected for
    * deterministic tests (F10 timestamp format).
    *
    * DRIVER-SIDE BOUND (the one data-bearing collect in the engine):
    * species rows are collected and written from the driver, so
    * samples × species-rows must fit driver memory — faithful to the
    * reference's regime (per-sample report TSVs are tiny by
    * construction: thousands of taxa rows each, a few KB–MB per file).
    * Since the rows are on the driver anyway, they are put in file order
    * there too (by [[graft.io.ReportReader.OrderKey]]), not by a cluster
    * sort that would cost a range-sampling job and a shuffle. The input
    * feeds both the per-sample sums and that collect, so it is persisted
    * for the duration of the call and the batch is scanned once. If a
    * deployment ever needs K4 at data scale, the shape to switch to is
    * one `foreachPartition` writer per sample after a
    * `repartition(sample)` — kept out deliberately: this sink's
    * contract is byte-exact tiny TSVs, and the reference tool it
    * mirrors is itself a driver-style script.
    */
  def writeCompleteReports(spark: SparkSession, speciesReports: DataFrame,
      totals: DataFrame, outputDir: String,
      clock: () => java.util.Date = () => new java.util.Date): Seq[String] = {
    Files.createDirectories(Paths.get(outputDir))
    val fmt = new java.text.SimpleDateFormat("EEE MMM dd HH:mm:ss yyyy",
      java.util.Locale.US)
    val ts = fmt.format(clock())

    // Echo species rows VERBATIM when the scan kept raw-text twins
    // (ReportReader.RawPrefix): the reference re-emits DictReader strings
    // untouched (`modify_reports.py:95–140`), so `0.10` must not become
    // `0.1`. Typed values are the fallback for caller-built frames.
    val rawFirst = ReportSchema.schema.fieldNames.map { n =>
      val raw = s"${graft.io.ReportReader.RawPrefix}$n"
      if (speciesReports.columns.contains(raw)) col(raw).as(n) else col(n)
    }
    // a frame the caller already cached stays cached after the call
    val owned = speciesReports.storageLevel == StorageLevel.NONE
    val input = if (owned) speciesReports.persist() else speciesReports
    val (species, synthRows) =
      try {
        val synthRows = syntheticRows(classifiedStats(input), totals).collect()
          .groupBy(_.getAs[String]("sample"))
        val species = input.filter(col(ReportSchema.Rank) === "species")
          .select((rawFirst :+ col("sample") :+
            col(graft.io.ReportReader.OrderKey)).toSeq: _*)
          .collect()
          .sortBy { r =>
            val k = r.getStruct(r.fieldIndex(graft.io.ReportReader.OrderKey))
            (k.getInt(0), k.getLong(1), k.getLong(2))
          }
          .groupBy(_.getAs[String]("sample"))
        (species, synthRows)
      } finally if (owned) input.unpersist()
    val missing = species.keySet -- synthRows.keySet
    missing.toSeq.sorted.foreach(s =>
      System.err.println(s"Warning: No total reads data found for sample $s"))

    synthRows.keys.toSeq.sorted.map { sample =>
      val path = s"$outputDir/${sample}_species-level-report.tsv"
      val sb = new StringBuilder
      sb.append(s"# kraken2 --db /path/to/krakendb --threads 8 --paired " +
        s"--output ${sample}_kraken.out --report ${sample}_species-level-report.tsv\n")
      sb.append(s"# $ts\n")
      sb.append("%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n")
      def fmtPct(d: Double) = f"$d%.4f"
      // synthetic rows: unclassified (if present) then root
      val rows = synthRows(sample).sortBy(_.getAs[Long]("taxID"))
      rows.foreach { r =>
        if (r.getAs[Boolean]("clamped") && r.getAs[Long]("taxID") == 1L)
          System.err.println(
            s"Warning: Sample $sample has more classified reads than total reads!")
        sb.append(Seq(fmtPct(r.getAs[Double]("pct")), r.getAs[Long]("reads"),
          r.getAs[Long]("taxReads"), r.getAs[Long]("kmers"), "0", "0",
          r.getAs[Long]("taxID"), r.getAs[String]("rank"),
          r.getAs[String]("taxName")).mkString("\t")).append("\n")
      }
      species.getOrElse(sample, Array.empty).foreach { r =>
        // raw-text rows echo verbatim; typed fallback rows stringify. A
        // null cell means the input row was SHORT (missing trailing
        // columns) — the reference's DictReader/DictWriter round-trip
        // emits an empty cell there, never the string "null"
        sb.append(ReportSchema.schema.fieldNames
          .map { n =>
            val v = r.getAs[Any](n)
            if (v == null) "" else v.toString
          }
          .mkString("\t")).append("\n")
      }
      Files.writeString(Paths.get(path), sb.toString)
      path
    }
  }
}
