package graft
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(1)
    val spark = SparkEnv.builder(s"local[${SparkEnv.cpus}]")
      .config("spark.sql.shuffle.partitions", SparkEnv.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional runtime confs, e.g. SPARK_GRAFT_CONF=spark.graft.cc.algorithm=stars
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    // SPARK_GRAFT_COLD=1 times the FIRST execution of each query (after
    // a JVM/codegen warmup on an unrelated scan) instead of the
    // warm-cache second pass — the number that exposes one-off costs
    // like coarse assignment, which the per-query .cache() barriers hide
    // from the warm pass. Caches are cleared between names so later
    // queries stay cold too. Cold and warm are DIFFERENT measurements
    // (see graft-verify-pitfalls): never compare across the modes.
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    // SPARK_GRAFT_NOOP=1 materializes through the noop sink exactly like
    // graft.Bench does, instead of count(). The two actions are NOT
    // interchangeable measurements: count() lets Catalyst prune
    // projected expressions and skip final sorts, so column-heavy work
    // (exact-cosine re-ranks, formatted outputs) can vanish from a
    // count()-timed run. Use this knob whenever a BenchOne number will
    // be compared against an in-bench (noop-materialized) number.
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    def materialize(df: org.apache.spark.sql.DataFrame): Long =
      if (noop) { df.write.format("noop").mode("overwrite").save(); -1L }
      else df.count()
    // warmup
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    args(0).split(",").foreach { name =>
      val fn = SparkEntry.queries(name)
      if (!cold) materialize(fn(spark, sfDir)) // warm
      val t0 = System.nanoTime()
      val n = materialize(fn(spark, sfDir))
      val mode = (if (cold) "cold" else "warm") + (if (noop) "+noop" else "")
      println(f"[benchone] $name%-22s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n  ($mode)")
      if (cold) {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !graft.catalog.PinnedCheckpoints.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
