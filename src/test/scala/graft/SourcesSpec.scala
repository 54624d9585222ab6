package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond the reference's TSV/CSV: parquet
  * (primary), ORC, JSON, partitioned layouts — each round-trips the same
  * relation. */
class SourcesSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("orc / json / csv round-trip the nation table") {
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val expect = nation.orderBy("n_nationkey").collect().toSeq
    val dir = Files.createTempDirectory("graft_src")

    nation.write.mode("overwrite").orc(s"$dir/orc")
    assert(spark.read.orc(s"$dir/orc").orderBy("n_nationkey")
      .collect().toSeq == expect)

    nation.write.mode("overwrite").json(s"$dir/json")
    val backJson = spark.read.schema(nation.schema).json(s"$dir/json")
    assert(backJson.orderBy("n_nationkey").collect().toSeq == expect)

    nation.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val backCsv = spark.read.schema(nation.schema)
      .option("header", "true").csv(s"$dir/csv")
    assert(backCsv.orderBy("n_nationkey").collect().toSeq == expect)
  }

  test("hive-style partitioned write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_part")
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$dir/orders")
    val back = spark.read.parquet(s"$dir/orders").filter(col("o_year") === 1995)
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(back.count() == expect)
    // partition pruning: the physical plan must carry the partition filter
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"))
  }

  test("within-file row order survives a file split across tasks: " +
      "OrderKey is (arg, split offset, row), so first-seen / last-wins " +
      "stay deterministic past maxPartitionBytes") {
    import graft.io.ReportReader
    import graft.schema.ReportSchema
    // a single report TSV large enough to split at a 64 KiB partition
    // budget: 20k rows in a DELIBERATE order — taxID 7777 appears at the
    // very top (row 0, name FIRST/stats 111) and near the very bottom
    // (row 19000, name LAST/stats 999): the two occurrences land in
    // DIFFERENT splits, and Spark's size-descending split packing is
    // exactly what used to reorder them under a bare monotonic id.
    val dir = Files.createTempDirectory("graft_split")
    val f = dir.resolve("BIG_1_report.tsv")
    val sb = new StringBuilder
    sb ++= "# kraken2 synthetic multi-split fixture\n# second comment\n"
    sb ++= "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n"
    def row(i: Int, taxId: Long, reads: Long, name: String): String =
      s"0.10\t$reads\t$reads\t90\t1.5\t0.25\t$taxId\tspecies\t$name\n"
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (i <- 0 until 20000) {
      val (tid, rd, nm) =
        if (i == 0) (7777L, 111L, "FIRST seen name")
        else if (i == 19000) (7777L, 999L, "LAST wins stats")
        else (100000L + i, 10L, s"species-number-$i-padpadpadpad")
      order += tid
      sb ++= row(i, tid, rd, nm)
    }
    java.nio.file.Files.write(f, sb.toString.getBytes("UTF-8"))
    val saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val savedCost = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", 65536L)
      spark.conf.set("spark.sql.files.openCostInBytes", 0L)
      val df = ReportReader.readReports(spark, Seq(f.toString)).cache()
      // the fixture must actually exercise the multi-split path
      val nSplits = df.select(ReportReader.BlockStart).distinct().count()
      assert(nSplits >= 4, s"file must split across tasks, got $nSplits")
      // STRUCTURAL pin: cross-split order must come from the split's
      // byte offset carried in the key, not from scan partition ids.
      // (A bare (arg, rowid) key is only incidentally correct here —
      // Spark's size-descending split sort is stable and one file's
      // splits are uniform, so partition order happens to follow byte
      // order — and that's an implementation accident, not a contract.)
      val keyFields = df.schema(ReportReader.OrderKey)
        .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq
      assert(keyFields == Seq(ReportReader.ArgIdx, ReportReader.BlockStart,
        ReportReader.RowId), s"OrderKey must be (arg, offset, row): $keyFields")
      // full within-file order: sorting by OrderKey reproduces the
      // written line order exactly
      val got = df.orderBy(col(ReportReader.OrderKey))
        .select(ReportSchema.TaxId).collect().map(_.getLong(0)).toSeq
      assert(got == order.toSeq, "OrderKey must reproduce file line order")
      // the two semantics the key exists for, across a split boundary:
      val dup = df.filter(col(ReportSchema.TaxId) === 7777L)
        .agg(
          min_by(col(ReportSchema.TaxName), col(ReportReader.OrderKey))
            .as("first_name"),
          max_by(col(ReportSchema.Reads), col(ReportReader.OrderKey))
            .as("last_reads"))
        .collect().head
      assert(dup.getString(0) == "FIRST seen name", s"A2 first-seen: $dup")
      assert(dup.getLong(1) == 999L, s"F1 last-wins: $dup")
      df.unpersist()
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
      spark.conf.set("spark.sql.files.openCostInBytes", savedCost)
    }
  }

  test("report reads list their named files on the driver: no Spark job " +
      "while the frame is built, and the listing threshold is restored") {
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.io.ReportReader
    import graft.ops.FilterOps
    val s2 = spark; import s2.implicits._
    // 40 named files: above Spark's default parallel-listing threshold of
    // 32 paths, past which the parent code listed them in a 40-task job
    val dir = Files.createTempDirectory("graft_listing")
    val paths = (0 until 40).map { i =>
      val f = dir.resolve(s"S${i}_L1_species-level-report.tsv")
      Files.writeString(f,
        "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
          s"0.1\t$i\t$i\t9\t1.0\t0.5\t10\tspecies\tEcoli\n")
      f.toString
    }
    val glob = s"$dir/*_species-level-report.tsv"
    val taxids = Seq("10").toDF("taxID")
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val threshold = spark.conf.get(key)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    /** the frame `build` returns, and the jobs Spark ran to build it */
    def jobsWhile[T](build: => T): (T, Int) = {
      ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      val built = build
      ListenerBusDrain(spark.sparkContext)
      (built, jobs.get)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (reports, readJobs) =
        jobsWhile(ReportReader.readReports(spark, paths))
      assert(readJobs == 0)
      assert(spark.conf.get(key) == threshold)
      val (filtered, filterJobs) =
        jobsWhile(FilterOps.filterReportsByTaxids(spark, glob, taxids))
      assert(filterJobs == 0)
      assert(spark.conf.get(key) == threshold)
      // the frames still cover every file
      assert(reports.select(ReportReader.ArgIdx).distinct().count() == 40)
      assert(filtered.count() == 40)
      intercept[org.apache.spark.sql.AnalysisException](
        ReportReader.readReports(spark, paths :+ s"$dir/gone_L1_report.tsv"))
      assert(spark.conf.get(key) == threshold)
      intercept[org.apache.spark.sql.AnalysisException](
        FilterOps.filterReportsByTaxids(spark, s"$dir/none/*.tsv", taxids))
      assert(spark.conf.get(key) == threshold)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
