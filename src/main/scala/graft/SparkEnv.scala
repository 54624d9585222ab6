package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** Session bootstrap shared by the runnable drivers (Verify, Bench,
  * StressPipeline, the CLI, the fault-injection gates, the test-scope
  * probes) and the test session (SparkSuite): ONE place resolves
  * the `SPARK_GRAFT_MASTER` override and ships `SPARK_GRAFT_JARS`, so
  * the cross-executor gate (`local-cluster[2,16,4096]`, see
  * CORRECTNESS_CLUSTER.md) always sees the same session shape from every
  * entry point — a config added for the gate cannot be missed by one of
  * the drivers.
  */
object SparkEnv {

  /** Capacity of Spark's JVM-wide cache of compiled classes
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    *
    * Every whole-stage and projection class Spark generates goes through
    * one LRU keyed on the generated source. A session that replans the
    * same queries cycles through the same classes each run; when the
    * cycle is longer than the LRU, each class is evicted before it comes
    * round again and the run recompiles nearly all of them. Distinct
    * classes per pass, measured at local[4] with an unbounded cache:
    * ~200 for one `BigBugData.write` plus synthesis and both filter tools
    * over 96 reports; ~600 for 26 catalog queries on a tenth of sf0.01;
    * ~2,600 for one pass of the whole catalog (`SparkEntry.queries`) at
    * sf0.01, of which the sf0.001 pass already holds all but ~100. The
    * capacity holds the largest with half again as headroom. With 100
    * entries those passes recompiled ~190, ~720 and ~4,100 classes on
    * every repeat (2.7 s, 7 s and 40 s of compiling); at this capacity
    * 4–15, 2–34 and 51–103.
    *
    * Entries exist only for classes that were compiled, so memory follows
    * the working set, not the capacity. At a 4 GB heap the benchmark's
    * median `peak_rss_mb` rose 2751 → 2877 MB on reports_wide and
    * 2927 → 3065 MB on catalog_slice (+5% each); over three full catalog
    * passes metaspace ended at 222 MB (264 MB with 100 entries, which
    * compiles more classes over a run) and peak RSS rose 3.74 → 3.99 GB.
    *
    * The setting is static: `CodeGenerator` reads it once, when the
    * class is first touched. It only takes effect if this builder's
    * session is created before anything in the JVM generates code. */
  val CodegenCacheEntries = 4096

  /** task slots of a local session: `SPARK_GRAFT_CPUS`, else 4 */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(defaultMaster: String): SparkSession.Builder = {
    val b0 = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster))
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        CodegenCacheEntries.toLong)
    // Reliable-checkpoint mode writes one full-dataset copy PER
    // stableCheckpoint() call; iterative operators (PageRank, connected
    // components, k-means) checkpoint per iteration, so without cleanup
    // a long job accumulates hundreds of copies and exhausts the
    // checkpoint filesystem. Spark only deletes Dataset checkpoints when
    // this flag is on AND the reference is GC'd — set it whenever the
    // mode is active. Must be set here (ContextCleaner reads it at
    // SparkContext creation), not at checkpoint time.
    val b = if (Ckpt.reliableDir.isDefined)
      b0.config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    else b0
    sys.env.get("SPARK_GRAFT_JARS").fold(b)(j => b.config("spark.jars", j))
  }
}
