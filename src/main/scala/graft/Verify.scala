package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Extra args (local dev only)
    // restrict the dump to the named queries.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // local-dev mirror of Bench's skip knob (the driver never sets it):
    // lets the 100x sweep exclude the documented didactic C=16 entry
    // whose alpha~2 cost is established rather than informative.
    // Same trimmed/filtered parse as Bench ("a, b" skips both, a stray
    // comma adds nothing) and the same fail-fast on unknown names — a
    // typo'd entry must not silently leave the intended query running.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    require(skip.subsetOf(SparkEntry.queries.keySet),
      s"SPARK_GRAFT_SKIP names unknown queries: " +
        (skip -- SparkEntry.queries.keySet).toSeq.sorted.mkString(", "))
    // the positional `only` restriction gets the same fail-fast: a
    // typo'd name would otherwise silently dump nothing for it and the
    // gap only surfaces downstream as a check.py FAIL
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"unknown query names: " +
        (only -- SparkEntry.queries.keySet).toSeq.sorted.mkString(", "))
    val cpus = SparkEnv.cpus
    // SparkEnv resolves the SPARK_GRAFT_MASTER/_JARS overrides for the
    // cross-executor gate (CORRECTNESS_CLUSTER.md)
    val spark = SparkEnv.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); set explicitly here
      // rather than relying on the Tables.events fallback side effect
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val dumped = SparkEntry.queries
      .filter { case (name, _) =>
        (only.isEmpty || only(name)) && !skip(name) }
    // a partial dump must be DISTINGUISHABLE from a full verification
    // run: record every excluded name (skip knob or `only` restriction)
    // as a marker file in the output directory, so a correctness
    // artifact produced with either set can never masquerade as the
    // full 203-query sweep (Bench's `skipped` array, applied here)
    val excluded = (SparkEntry.queries.keySet -- dumped.keySet).toSeq.sorted
    if (excluded.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/_skipped.json"),
        excluded.map("\"" + _ + "\"").mkString("[", ",", "]") + "\n")
    else // a stale marker from a prior partial run into the same outDir
         // must not mislabel this full dump as partial
      Files.deleteIfExists(Paths.get(s"$outDir/_skipped.json"))
    dumped.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // per-sfDir token substitution (e.g. q61's JSON staging dir) happens
    // at dump time — the static oracle map stays dir-independent
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace(
        graft.catalog.Extended.JsonStageToken,
        graft.catalog.Extended.jsonStageDir(sfDir)))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
