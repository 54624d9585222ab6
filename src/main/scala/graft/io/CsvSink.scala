package graft.io

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CSV sinks (reference K1/K2): fixed column order, header row, ONE file
  * per output (`csv.DictWriter`, `bigbugdata.py:208–222`).
  *
  * The single-file contract is met WITHOUT collapsing the job to one
  * task: the frame is written headerless by however many tasks the plan
  * produced (a sorted upstream is range-partitioned, so part-file name
  * order IS global row order), then the driver streams the parts into the
  * target in name order behind a header line it writes itself. Every
  * upstream stage — including the final sort — keeps full parallelism;
  * the only sequential step is a byte copy, which is I/O-bound and cheap
  * relative to a one-task pivot+sort+stringify (the round-3 measured
  * bottleneck: ~123 s of a 260 s run at 40M cells).
  */
object CsvSink {

  /** header cell quoting, matching Spark's CSV writer (Univocity,
    * default quote `"`, escape `\`): quote iff the value contains a
    * delimiter, quote, or line break — so the driver-written header is
    * byte-identical to what `option("header", "true")` would have
    * produced. */
  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    else s

  /** [[csvCell]] as a Column expression — the CSV dialect applied to DATA
    * cells inside the plan, matching Spark's writer byte-for-byte: null →
    * empty, empty string → `""` (the writer's emptyValue), quote+escape
    * only when the value contains a delimiter, quote, or line break.
    * Numeric inputs stringify via cast, which is the same toString the
    * CSV writer's per-type converters use. */
  def csvCellExpr(c: Column): Column = {
    val s = c.cast("string")
    when(s.isNull, lit(""))
      .when(s === "", lit("\"\""))
      .when(s.rlike("[,\"\n\r]"),
        concat(lit("\""),
          replace(replace(s, lit("\\"), lit("\\\\")), lit("\""), lit("\\\"")),
          lit("\"")))
      .otherwise(s)
  }

  /** K1: write `df` with exactly `fieldnames` in order to a single CSV.
    * Returns whether any row was written. With `skipEmpty`, a frame with
    * no rows leaves no file at all, not even the header (K3). Field names
    * are column names verbatim (sample ids such as `S.1` or ``a`b``), not
    * SQL identifiers to parse. */
  def writeSingleCsv(df: DataFrame, fieldnames: Seq[String], target: String,
      skipEmpty: Boolean = false): Boolean = {
    val tmp = Files.createTempDirectory("graft_csv")
    df.select(fieldnames.map(n => col("`" + n.replace("`", "``") + "`")): _*)
      .write.mode("overwrite").option("header", "false")
      // Spark's CSV writer TRIMS cell whitespace by default; the
      // reference's csv.DictWriter emits values verbatim (`  name  `
      // stays padded — filter_reports passthrough), so trimming is
      // disabled here and any trim the pipeline wants (F4) happens
      // upstream as an explicit expression.
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(tmp.toString)
    concatParts(tmp, fieldnames, target, skipEmpty)
  }

  /** K1, long-format fast path: `lines` is ONE string column of fully
    * assembled CSV rows (csvCellExpr + concat_ws upstream) in final row
    * order. Written headerless-parallel as text, then driver-concatenated
    * exactly like writeSingleCsv — but the plan never materializes a
    * samples-wide frame (see BigBugData.csvLines). */
  def writeSingleLines(lines: DataFrame, fieldnames: Seq[String],
      target: String): Unit = {
    val tmp = Files.createTempDirectory("graft_csv")
    lines.write.mode("overwrite").text(tmp.toString)
    concatParts(tmp, fieldnames, target, skipEmpty = false)
  }

  /** stream the sorted part files into `target` behind the header line;
    * every written row ends in a line break, so the frame had rows iff
    * some part file is non-empty */
  private def concatParts(tmp: Path, fieldnames: Seq[String],
      target: String, skipEmpty: Boolean): Boolean = {
    val partStream = Files.list(tmp)
    val parts =
      try partStream.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
      finally partStream.close()
    val any = parts.exists(Files.size(_) > 0)
    if (any || !skipEmpty) {
      val dest = Paths.get(target)
      if (dest.getParent != null) Files.createDirectories(dest.getParent)
      val out = Files.newOutputStream(dest, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
      try {
        out.write((fieldnames.map(csvCell).mkString(",") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        parts.foreach(p => Files.copy(p, out))
      } finally out.close()
    }
    deleteRecursively(tmp)
    any
  }

  private def deleteRecursively(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** K2: output layout `{out}/combined_{rank}.csv` etc.
    * (`bigbugdata.py:19–32`). */
  def outputPaths(resultsDir: String, rank: String): (String, String, String) = {
    Files.createDirectories(Paths.get(resultsDir))
    (s"$resultsDir/combined_$rank.csv",
      s"$resultsDir/rrpm_$rank.csv",
      s"$resultsDir/tophits_$rank.csv")
  }
}
