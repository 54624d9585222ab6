package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.io.{CsvSink, ReportReader}
import graft.ops._
import graft.pipeline.BigBugData
import graft.schema.ReportSchema.{Reads, Sample, TaxId}

/** Timed user operations: wall time per operation (per query for the
  * catalog) and the operations that threw. */
final class Times {
  val ops = mutable.LinkedHashMap.empty[String, Double]
  val failed = mutable.ArrayBuffer.empty[String]
}

/** What one closed-loop iteration did. `timed` holds its operations;
  * in a traced iteration those run traced and `plain` holds their
  * untraced twins. `persisted` sums the RDDs left persisted after each
  * untraced operation. */
final class IterRec(val i: Int, val traced: Boolean, val outDir: String) {
  var startMs, endMs = 0.0
  var gcMs, asideGcMs = 0L
  var persisted = 0
  val timed, plain = new Times
  /** intervals of work inside the iteration that its layer metrics leave
    * out: untraced twins and writing results for the output check */
  val aside = mutable.ArrayBuffer.empty[(Double, Double)]
}

trait Workload {
  /** untimed warm-up and staging pass over the measured corpus: JIT,
    * codegen and the session memos are in place before timing starts */
  def warm(spark: SparkSession, t: Tracer, outDir: String): Unit
  def iterate(spark: SparkSession, t: Tracer, rec: IterRec): Unit
}

object Workload {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** evaluate every column of every row, write nothing */
  def materialize(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  /** run `body` once, timed into `times`; a throw marks it failed */
  private def timed(times: Times, name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable =>
      times.failed += name
      System.err.println(s"[perfbench] $name failed: $e")
    }
    times.ops(name) = secs(t0)
  }

  /** One user operation; `body(traced)` runs it. In an untraced iteration
    * it runs once. In a traced one it runs traced and again as an untraced
    * twin set aside from the layer metrics, the twin first on every other
    * operation: the pair's difference is then the tracing overhead, not
    * the warm-up drift between two executions. The caller cleans up after
    * the pair; between the twins this does. */
  def op(spark: SparkSession, t: Tracer, rec: IterRec, name: String)(
      body: Boolean => Unit): Unit = {
    def plain(): Unit = {
      val times = if (rec.traced) rec.plain else rec.timed
      t.enabled = false
      try timed(times, name)(body(false))
      finally t.enabled = rec.traced
      rec.persisted += spark.sparkContext.getPersistentRDDs.size
    }
    def twin(): Unit = aside(spark, rec)(plain())
    if (!rec.traced) plain()
    else if ((rec.i + rec.timed.ops.size) % 2 == 0) {
      twin(); cleanup(spark); timed(rec.timed, name)(body(true))
    } else {
      timed(rec.timed, name)(body(true)); cleanup(spark); twin()
    }
  }

  /** work inside an iteration that its layer metrics leave out: its jobs
    * carry iteration -1, so the listeners attribute them to no iteration,
    * and its interval and GC time are taken out of the iteration's */
  def aside(spark: SparkSession, rec: IterRec)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val iter = sc.getLocalProperty("perfbench.iter")
    val gc0 = gcMs
    val t0 = Clock.nowMs
    sc.setLocalProperty("perfbench.iter", "-1")
    try body
    finally {
      sc.setLocalProperty("perfbench.iter", iter)
      rec.aside += (t0 -> Clock.nowMs)
      rec.asideGcMs += gcMs - gc0
    }
  }

  /** collection time of every JVM collector so far */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** per-operation hygiene, outside every timed region (as graft.Bench
    * does between queries): drop cached frames and every persisted RDD
    * except the session-lifetime memo checkpoints */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !graft.catalog.PinnedCheckpoints.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
  }
}

/** `reports_wide`: the bigbugdata batch job over generated report TSVs,
  * then report synthesis and both filter tools, in the order a user runs
  * them. An untraced twin writes under `plain/` of the iteration's
  * directory. */
final class Reports(inputs: String) extends Workload {
  import Workload._

  private val reportFiles: Seq[String] = {
    val s = Files.list(Paths.get(inputs, "reports"))
    try s.iterator().asScala.map(_.toString)
      .filter(_.endsWith("_species-level-report.tsv")).toSeq.sorted
    finally s.close()
  }

  /** NC group patterns from the generator's corpus.json */
  private val groups: Seq[(String, String)] =
    Json.read(Paths.get(inputs, "corpus.json")).get("groups").elements().asScala
      .map(g => g.get(0).asText() -> g.get(1).asText()).toSeq

  private def params(out: String) =
    BigBugData.Params(reportFiles, s"$out/results", "species", 15, groups)

  /** one untimed iteration */
  def warm(spark: SparkSession, t: Tracer, outDir: String): Unit =
    iterate(spark, t, new IterRec(-1, false, outDir))

  def iterate(spark: SparkSession, t: Tracer, rec: IterRec): Unit = {
    def dir(traced: Boolean) =
      if (traced || !rec.traced) rec.outDir else s"${rec.outDir}/plain"
    op(spark, t, rec, "pipeline") { traced =>
      val p = params(dir(traced))
      if (traced) t.span("pipeline")(stagedPipeline(spark, t, p))
      else BigBugData.write(spark, p)
    }
    cleanup(spark)
    if (rec.traced) {
      t.span("pipeline.build")(BigBugData.build(spark, params(rec.outDir)))
      cleanup(spark)
    }
    op(spark, t, rec, "synth") { traced =>
      t.span("ops.synth") {
        val totals = Synthesize.totalReads(spark,
          s"$inputs/dna_totalreads.tsv", s"$inputs/rna_totalreads.tsv")
        Synthesize.writeCompleteReports(spark,
          ReportReader.readReports(spark, reportFiles), totals,
          s"${dir(traced)}/synth")
      }
    }
    cleanup(spark)
    op(spark, t, rec, "filter") { traced =>
      t.span("ops.filter") {
        val out = dir(traced)
        val taxids = FilterOps.readTaxids(spark, s"$inputs/taxids.csv")
        FilterOps.writeFilteredCsv(FilterOps.filterReportsByTaxids(spark,
          s"$inputs/reports/*_species-level-report.tsv", taxids),
          s"$out/filter_reports.csv")
        val rrpm = spark.read.option("header", "true")
          .csv(s"$out/results/rrpm_species.csv")
        FilterOps.writeFilteredCsv(FilterOps.filterByTaxids(rrpm, taxids),
          s"$out/filter_rrpm.csv")
      }
    }
    cleanup(spark)
  }

  /** `BigBugData.write` recomposed from the modules' public functions,
    * each stage's frame cached and materialized inside its own span so
    * the span holds that layer's work. Writes the same three CSVs the
    * pipeline writes with its default (pivot) sink. */
  private def stagedPipeline(spark: SparkSession, t: Tracer,
      p: BigBugData.Params): Unit = {
    val samplePaths = ReportReader.sampleIdMap(p.reportPaths)
    val sampleIds = samplePaths.map(_._1)
    val ordered = ReportReader.orderedSampleIds(sampleIds)
    val reports = t.span("io.scan")(materialize(
      ReportReader.readReports(spark, samplePaths.map(_._2)).cache()))
    val (taxa, totals, grid) = t.span("ops.grid") {
      val totals = materialize(TaxaOps.sampleTotals(reports).cache())
      val taxa = TaxaOps.taxaRows(reports, p.rank)
      val grid = TaxaOps.denseGrid(spark, TaxaOps.longCounts(taxa),
        TaxaOps.taxaMeta(taxa), sampleIds)
      (taxa, totals, materialize(grid.cache()))
    }
    val (zGrid, rrpmGrid) = t.span("ops.normalize") {
      val toNc = NcGroups.sampleToControl(sampleIds,
        NcGroups.resolve(sampleIds, p.groupPatterns))
      val z = materialize(Normalize.zscore(Normalize.rpm(grid, totals)).cache())
      (z, materialize(Normalize.rrpm(spark, z, toNc).cache()))
    }
    val tops = t.span("ops.tophits") {
      val stats = TaxaOps.sampleOrganismStats(taxa)
        .join(zGrid.select(col(Sample), col(TaxId), col("z_score")),
          Seq(Sample, TaxId), "left")
      materialize(TopHits.tophits(rrpmGrid, stats, p.nTophits).cache())
    }
    t.span("io.sink") {
      val (combinedPath, rrpmPath, tophitsPath) =
        CsvSink.outputPaths(p.resultsDir, p.rank)
      val header = Seq(TaxId, "taxName", "Total # of Reads") ++ ordered
      CsvSink.writeSingleCsv(BigBugData.pivotWide(grid, Reads, ordered),
        header, combinedPath)
      CsvSink.writeSingleCsv(BigBugData.pivotWide(rrpmGrid, "rrpm", ordered),
        header, rrpmPath)
      val idx = coalesce(element_at(map(ordered.zipWithIndex.flatMap {
        case (s, i) => Seq(lit(s), lit(i)) }: _*), col("sampleName")),
        lit(Int.MaxValue))
      CsvSink.writeSingleCsv(tops.orderBy(idx, col("rank")),
        Seq("sampleName", TaxId, "taxName", "rank", "rRPM", "kmers", "dup",
          "reads", "cov", "e_val", "z_score"), tophitsPath)
    }
  }
}

/** `catalog_slice`: fixed catalog queries through the noop sink, as
  * graft.Bench times them. */
final class Catalog(corpus: String, queries: Seq[String]) extends Workload {
  import Workload._

  /** untimed passes like the timed ones. They also do graft.Bench's
    * staging pre-pass: the session memos and fixtures the queries build
    * on first use (e8/e8b's trained IVF state among them) exist before
    * the first timed pass. The oracle SQL goes beside the results. */
  def warm(spark: SparkSession, t: Tracer, outDir: String): Unit = {
    run(spark, t, new IterRec(-1, false, outDir), check = false)
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json(queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))
  }

  def iterate(spark: SparkSession, t: Tracer, rec: IterRec): Unit =
    run(spark, t, rec, check = true)

  /** Each query timed through the noop sink; then, untimed and before the
    * cleanup that may drop its checkpoints, the frame of its last
    * execution is written as parquet for the oracle comparison, so the
    * results checked are those of the timed execution path (session
    * memos hit, not filled). */
  private def run(spark: SparkSession, t: Tracer, rec: IterRec,
      check: Boolean): Unit =
    queries.foreach { q =>
      var last: DataFrame = null
      op(spark, t, rec, q) { _ =>
        last = null
        t.span(s"catalog.$q") {
          val df = t.span(s"catalog.$q.build")(SparkEntry.queries(q)(spark, corpus))
          t.span(s"catalog.$q.exec")(materialize(df))
          last = df
        }
      }
      if (check && last != null) aside(spark, rec) {
        try last.write.mode("overwrite").parquet(s"${rec.outDir}/catalog/$q")
        catch { case e: Throwable =>    // no result: the check fails the query
          System.err.println(s"[perfbench] $q: writing the result failed: $e") }
      }
      cleanup(spark)
    }
}
