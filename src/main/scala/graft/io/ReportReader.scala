package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.schema.ReportSchema

/** Report scans (reference S1–S3).
  *
  * Where the reference loops over files opening each with `csv.DictReader`
  * (`bigbugdata.py:248–254`), we issue ONE distributed scan over all paths
  * and recover the per-file sample ID from the row's file name
  * ([[fileName]]) — at cluster scale each file (or file split) becomes a
  * task. The driver only lists the files the caller named
  * ([[listedOnDriver]]); it never reads rows.
  */
object ReportReader {

  /** within-partition row id — preserves row order inside a file split */
  val RowId = "_rowid"
  /** argument-order index of the file's sample — Spark packs input files
    * by SIZE, not argument order, so scan-order ids alone cannot express
    * the reference's "first file in argument order" dict semantics */
  val ArgIdx = "_argidx"
  /** byte offset of the row's file SPLIT — Spark bin-packs splits by
    * size, so partition ids (hence monotonic row ids) do NOT follow byte
    * order when one file splits across tasks; the block start restores
    * it (splits of one file sort by their offset, rows within a split by
    * the partition-monotonic id) */
  val BlockStart = "_blockstart"
  /** composite file-order key: order by
    * (file argument position, split byte offset, row-in-split) —
    * deterministic file order even when a single report TSV is larger
    * than maxPartitionBytes and splits across tasks (SourcesSpec pins
    * it with a forced multi-split file) */
  val OrderKey = "_orderkey"

  /** S1: TSV with 2 `#` comment lines + header row (`bigbugdata.py:250–254`).
    * The `comment` option also covers S2 files with no comment lines.
    * A user-supplied schema maps positionally, so the `%` header cell needs
    * no escaping.
    *
    * Within-file order is exact even when a file splits across tasks:
    * OrderKey carries the split's byte offset between the argument index
    * and the row id, so A2's first-seen taxName and F1's last-wins
    * duplicate stats stay deterministic at any maxPartitionBytes.
    */
  /** prefix of the verbatim-text twin each report column keeps alongside
    * its typed value (K4 sink fidelity: the reference echoes raw
    * DictReader strings — `modify_reports.py:95–140` — so `0.10` must
    * round-trip as `0.10`, not `0.1`) */
  val RawPrefix = "_raw_"

  def readReports(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val argIdx = paths.map(sampleIdOf).distinct.zipWithIndex
    val idxExpr = coalesce(
      element_at(map(argIdx.flatMap { case (s, i) => Seq(lit(s), lit(i)) }: _*),
        col(ReportSchema.Sample)),
      lit(Int.MaxValue))
    // Scan as strings, then cast: each column exists both typed (canonical
    // name, for all computation) and verbatim (RawPrefix twin, for sinks
    // that must echo the input text). try_cast nulls malformed cells, the
    // same behavior the PERMISSIVE typed scan had.
    val rawSchema = org.apache.spark.sql.types.StructType(
      ReportSchema.schema.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name,
          org.apache.spark.sql.types.StringType)))
    val scan = listedOnDriver(spark) {
      spark.read
        .option("sep", "\t")
        .option("header", "true")
        .option("comment", "#")
        .option("mode", "PERMISSIVE")
        .schema(rawSchema)
        .csv(paths: _*)
    }
    scan
      .select(ReportSchema.schema.fields.flatMap { f =>
        Seq(col(f.name).try_cast(f.dataType).as(f.name),
          col(f.name).as(s"$RawPrefix${f.name}"))
      }.toSeq: _*)
      .withColumn(ReportSchema.Sample, sampleIdLastUnderscore(fileName))
      .withColumn(RowId, monotonically_increasing_id())
      .withColumn(BlockStart, input_file_block_start())
      .withColumn(ArgIdx, idxExpr)
      .withColumn(OrderKey, struct(col(ArgIdx), col(BlockStart), col(RowId)))
  }

  /** Run `read` with its file listing on the driver. Spark lists a
    * read's paths in a distributed job, one task per path, once there
    * are more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32 by default) of them; for a batch of named report files that job
    * only re-stats what the caller already named. The threshold is lifted
    * for this call only: Spark builds the file index eagerly inside
    * `.csv(...)`, so the frame's later jobs never list again. The
    * session's own setting comes back afterwards, also when `read`
    * throws. */
  def listedOnDriver[T](spark: SparkSession)(read: => T): T = {
    val key = SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key
    val explicit = spark.sessionState.conf.getAllConfs.get(key)
    spark.conf.set(key, Int.MaxValue.toLong)
    try read
    finally explicit.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Base name of the row's file, as the caller spelled it.
    * `input_file_name()` (and `_metadata.file_name`) hold the file's URI,
    * percent-encoded (`Sample 1_report.tsv` → `Sample%201_report.tsv`),
    * so ids taken from them raw disagree with the driver-side
    * [[sampleIdOf]]. `URI.getPath` undoes exactly that encoding; SQL's
    * `url_decode` would not, since it also reads `+` as a space. */
  def fileName: Column = decodedBaseName(input_file_name())

  private val decodedBaseName = udf { (uri: String) =>
    val path = if (uri == null || uri.isEmpty) "" else new java.net.URI(uri).getPath
    path.substring(path.lastIndexOf('/') + 1)
  }

  /** F5: sample ID = basename minus everything after the LAST underscore
    * (`os.path.basename(p).rpartition("_")[0]`, `bigbugdata.py:40–42`).
    * Paths with no underscore yield "" — faithfully (rpartition returns
    * empty prefix).
    */
  def sampleIdLastUnderscore(pathCol: Column): Column = {
    val base = element_at(split(pathCol, "/"), -1)
    when(base.contains("_"), regexp_replace(base, "_[^_]*$", ""))
      .otherwise(lit(""))
  }

  /** F6: the *different* rule used by `filter_reports_by_taxid.py:29` —
    * first `_`-token of the basename. Kept separate on purpose (SURVEY
    * §7.4 trap 7: do not unify the two rules).
    */
  def sampleIdFirstToken(pathCol: Column): Column =
    substring_index(element_at(split(pathCol, "/"), -1), "_", 1)

  /** driver-side twins of the two rules, for path lists and tests */
  def sampleIdOf(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val i = base.lastIndexOf('_')
    if (i < 0) "" else base.substring(0, i)
  }

  def sampleIdFirstTokenOf(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    base.split("_")(0)
  }

  /** O2: numeric ordering iff ALL ids parse as integers, else lexicographic
    * — all-or-nothing, `bigbugdata.py:45–58`. Decides pivot column order
    * and tophits emit order. */
  def orderedSampleIds(ids: Seq[String]): Seq[String] = {
    val asInts = ids.map(id => scala.util.Try(id.trim.toInt).toOption)
    if (asInts.forall(_.isDefined)) ids.sortBy(_.trim.toInt) else ids.sorted
  }

  /** sample → path map with the reference's silent last-wins on duplicate
    * sample IDs (`bigbugdata.py:40–42`), but logged loudly. */
  def sampleIdMap(paths: Seq[String]): Seq[(String, String)] = {
    val pairs = paths.map(p => sampleIdOf(p) -> p)
    val dups = pairs.groupBy(_._1).filter(_._2.size > 1).keys
    dups.foreach(d => System.err.println(
      s"[graft] duplicate sample id '$d': keeping the last path (reference semantics)"))
    // last path wins, preserving first-occurrence insertion order
    val kept = pairs.toMap
    pairs.map(_._1).distinct.map(id => id -> kept(id))
  }
}
