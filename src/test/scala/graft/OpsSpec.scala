package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.ops.{FilterOps, Synthesize}
import graft.io.ReportReader

/** Specs for the helper-script ports: semi-join filters
  * (`scripts/filter_*_by_taxid.py`) and report synthesis
  * (`scripts/modify_reports.py`). */
class OpsSpec extends SparkSuite {

  test("totalReads: RNA overrides DNA on sample collision (S6)") {
    val dir = Files.createTempDirectory("graft_tot")
    Files.writeString(dir.resolve("dna.tsv"),
      "S1_L001\tx\t100\nS2_L001\tx\t200\n")
    Files.writeString(dir.resolve("rna.tsv"),
      "S2_L002\tx\t999\nS3_L001\tx\t300\n")
    val totals = Synthesize.totalReads(spark,
      dir.resolve("dna.tsv").toString, dir.resolve("rna.tsv").toString)
      .collect().map(r => r.getAs[String]("sample") -> r.getAs[Long]("total_reads"))
      .toMap
    assert(totals == Map("S1" -> 100L, "S2" -> 999L, "S3" -> 300L))
  }

  test("synthesize: complete reports round-trip through the main pipeline") {
    val dir = Files.createTempDirectory("graft_synth")
    // species-only report (no totals rows), header on line 1 (S2 shape)
    Files.writeString(dir.resolve("S1_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t30\t30\t300\t1.0\t0.5\t10\tspecies\tEcoli\n" +
        "0.1\t20\t20\t200\t1.0\t0.5\t20\tspecies\tStaph\n")
    Files.writeString(dir.resolve("totals_dna.tsv"), "S1_L1_x\ty\t100\n")
    Files.writeString(dir.resolve("totals_rna.tsv"), "ZZ_x\ty\t5\n")

    val species = ReportReader.readReports(spark,
      Seq(dir.resolve("S1_L1_report.tsv").toString))
    val totals = Synthesize.totalReads(spark,
      dir.resolve("totals_dna.tsv").toString,
      dir.resolve("totals_rna.tsv").toString)
    val outDir = Files.createTempDirectory("graft_synth_out").toString
    val written = Synthesize.writeCompleteReports(spark, species, totals, outDir,
      clock = () => new java.util.Date(0L))
    assert(written == Seq(s"$outDir/S1_L1_species-level-report.tsv"))

    val lines = Files.readAllLines(Paths.get(written.head))
    assert(lines.get(0).startsWith("# kraken2"))
    assert(lines.get(1).startsWith("# Thu Jan 01"))  // injected clock
    assert(lines.get(2).startsWith("%\treads"))
    // total 100, classified 50 → unclassified 50 (50.0000%), root kmers 500
    assert(lines.get(3) == "50.0000\t50\t50\t0\t0\t0\t0\tunclassified\tunclassified")
    assert(lines.get(4) == "50.0000\t50\t50\t500\t0\t0\t1\troot\troot")

    // round-trip: the synthesized report feeds the main pipeline
    val rt = ReportReader.readReports(spark, Seq(written.head))
    val tot = graft.ops.TaxaOps.sampleTotals(rt).collect()
    assert(tot.head.getAs[Long]("total_reads") == 100L)
  }

  test("synthesize: all-non-species report still gets a file (0-read root)") {
    val dir = Files.createTempDirectory("graft_zerospec")
    Files.writeString(dir.resolve("Z1_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t80\t80\t10\t1.0\t0.5\t10\tgenus\tEnterobacteriaceae\n")
    Files.writeString(dir.resolve("d.tsv"), "Z1_L1_x\ty\t40\n")
    Files.writeString(dir.resolve("r.tsv"), "ZZ_x\ty\t5\n")
    val species = ReportReader.readReports(spark,
      Seq(dir.resolve("Z1_L1_report.tsv").toString))
    val totals = Synthesize.totalReads(spark,
      dir.resolve("d.tsv").toString, dir.resolve("r.tsv").toString)
    val outDir = Files.createTempDirectory("graft_zerospec_out").toString
    val written = Synthesize.writeCompleteReports(spark, species, totals, outDir)
    val lines = Files.readAllLines(Paths.get(written.head))
    // reference writes the file anyway: full unclassified + 0-read root,
    // and the genus row is NOT echoed (`modify_reports.py:77–140`)
    assert(lines.get(3) == "100.0000\t40\t40\t0\t0\t0\t0\tunclassified\tunclassified")
    assert(lines.get(4) == "0.0000\t0\t0\t0\t0\t0\t1\troot\troot")
    assert(lines.size == 5)
  }

  test("synthesize: clamps negative unclassified to 0 and drops the row") {
    val dir = Files.createTempDirectory("graft_clamp")
    Files.writeString(dir.resolve("S9_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t80\t80\t10\t1.0\t0.5\t10\tspecies\tEcoli\n")
    Files.writeString(dir.resolve("d.tsv"), "S9_L1_x\ty\t50\n") // 80 > 50
    Files.writeString(dir.resolve("r.tsv"), "ZZ_x\ty\t5\n")
    val species = ReportReader.readReports(spark,
      Seq(dir.resolve("S9_L1_report.tsv").toString))
    val totals = Synthesize.totalReads(spark,
      dir.resolve("d.tsv").toString, dir.resolve("r.tsv").toString)
    val outDir = Files.createTempDirectory("graft_clamp_out").toString
    val written = Synthesize.writeCompleteReports(spark, species, totals, outDir)
    val lines = Files.readAllLines(Paths.get(written.head))
    // no unclassified row (0 reads) — first data row is root
    assert(lines.get(3).contains("\troot\t"))
  }

  test("synthesize: species rows echo in file order into their own " +
      "sample's TSV when a file splits across tasks, and nothing stays " +
      "persisted") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_synth_order")
    val header = "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n"
    // BIG is several 64 KiB splits long; its species rows are interleaved
    // with genus rows, and their taxIDs fall as the file goes on, so a
    // sort by taxID cannot pass for file order
    def report(sample: String, n: Int): (String, Seq[String]) = {
      val lines = (0 until n).map { i =>
        val rank = if (i % 7 == 3) "genus" else "species"
        s"0.10\t${i + 1}\t${i + 1}\t90\t1.50\t0.25\t${100000 - i}\t$rank\t" +
          s"$sample-taxon-$i-padpadpadpad"
      }
      val f = dir.resolve(s"${sample}_L1_report.tsv")
      Files.writeString(f, header + lines.mkString("", "\n", "\n"))
      f.toString -> lines.filter(_.contains("\tspecies\t"))
    }
    // argument order differs from name order
    val inputs = Seq(report("C", 40), report("BIG", 3000), report("A", 25))
    Files.writeString(dir.resolve("d.tsv"),
      "A_L1_x\ty\t100000\nBIG_L1_x\ty\t9000000\nC_L1_x\ty\t100000\n")
    Files.writeString(dir.resolve("r.tsv"), "ZZ_x\ty\t5\n")
    val saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val savedCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val written = try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", 65536L)
      spark.conf.set("spark.sql.files.openCostInBytes", 0L)
      val species = ReportReader.readReports(spark, inputs.map(_._1))
      val splits = species.filter(col("sample") === "BIG_L1")
        .select(ReportReader.BlockStart).distinct().count()
      assert(splits >= 3, s"BIG must split across tasks, got $splits")
      val totals = Synthesize.totalReads(spark,
        dir.resolve("d.tsv").toString, dir.resolve("r.tsv").toString)
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val out = Files.createTempDirectory("graft_synth_order_out").toString
      val w = Synthesize.writeCompleteReports(spark, species, totals, out)
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persisted),
        "writeCompleteReports must unpersist what it persisted")
      w
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
      spark.conf.set("spark.sql.files.openCostInBytes", savedCost)
    }
    assert(written.map(p => Paths.get(p).getFileName.toString) ==
      Seq("A", "BIG", "C").map(s => s"${s}_L1_species-level-report.tsv"))
    Seq("A", "BIG", "C").zip(written).foreach { case (sample, path) =>
      val expected = inputs.find(_._1.contains(s"/${sample}_L1_")).get._2
      // 3 header lines, then unclassified and root, then the species rows
      val got = Files.readAllLines(Paths.get(path)).asScala.drop(5).toSeq
      assert(got == expected, s"$sample: species rows out of file order")
    }
  }

  test("filterByTaxids: string-keyed semi join (J4/P6)") {
    val dir = Files.createTempDirectory("graft_taxids")
    Files.writeString(dir.resolve("taxids.csv"), "taxID,name\n10,a\n30,c\n")
    import spark.implicits._
    val df = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("taxID", "v")
    val taxids = FilterOps.readTaxids(spark, dir.resolve("taxids.csv").toString)
    val got = FilterOps.filterByTaxids(df, taxids)
      .collect().map(_.getAs[Long]("taxID")).sorted
    assert(got.toSeq == Seq(10L, 30L))
  }

  /** the sinks' temporary files and directories currently on disk */
  private def sinkTemps(): Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("graft_csv") || n.startsWith("graft_k3")).toSet
    finally ls.close()
  }

  /** 40 rows in 8 hash partitions: `g = 2` keeps 8 rows that all sit in
    * ONE partition, in input order; `g = 7` keeps nothing */
  private def eightPartitions = {
    import org.apache.spark.sql.functions.col
    val f = spark.range(0, 40, 1, 1).withColumn("g", col("id") % 5)
      .repartition(8, col("g"))
    assert(f.rdd.getNumPartitions == 8)
    f
  }
  private val onePartitionCsv =
    "id,g\n" + (2 until 40 by 5).map(i => s"$i,2\n").mkString

  test("writeFilteredCsv: empty result writes nothing at all (K3)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_k3")
    val df = Seq((10L, "x")).toDF("taxID", "v")
    assert(FilterOps.writeFilteredCsv(df, s"$dir/some.csv"))
    assert(Files.exists(dir.resolve("some.csv")))
    assert(!FilterOps.writeFilteredCsv(
      df.filter(org.apache.spark.sql.functions.col("taxID") === 999),
      s"$dir/none.csv"))
    assert(!Files.exists(dir.resolve("none.csv")),
      "empty filter result must not produce a file (not even a header)")
    // 8 partitions, 7 of them empty: the header plus the rows, in order
    assert(FilterOps.writeFilteredCsv(eightPartitions.filter("g = 2"),
      s"$dir/one.csv"))
    assert(Files.readString(dir.resolve("one.csv")) == onePartitionCsv)
    // 8 partitions, no match: no file, and no temp directory left over
    val temps = sinkTemps()
    assert(!FilterOps.writeFilteredCsv(eightPartitions.filter("g = 7"),
      s"$dir/none8.csv"))
    assert(!Files.exists(dir.resolve("none8.csv")))
    assert(sinkTemps() == temps, "the sink must remove its temp directory")
  }

  test("printFilteredCsv: stdout channel emits header+rows, or nothing (K3)") {
    import spark.implicits._
    val df = Seq((10L, "x"), (30L, "z")).toDF("taxID", "v")
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    assert(FilterOps.printFilteredCsv(df, out))
    assert(buf.toString("UTF-8") == "taxID,v\n10,x\n30,z\n")
    val empty = new java.io.ByteArrayOutputStream()
    assert(!FilterOps.printFilteredCsv(
      df.filter(org.apache.spark.sql.functions.col("taxID") === 999),
      new java.io.PrintStream(empty, true, "UTF-8")))
    assert(empty.size() == 0, "empty result must emit nothing, not even a header")
    // the same two 8-partition inputs as the file channel
    val one = new java.io.ByteArrayOutputStream()
    assert(FilterOps.printFilteredCsv(eightPartitions.filter("g = 2"),
      new java.io.PrintStream(one, true, "UTF-8")))
    assert(one.toString("UTF-8") == onePartitionCsv)
    val temps = sinkTemps()
    val none = new java.io.ByteArrayOutputStream()
    assert(!FilterOps.printFilteredCsv(eightPartitions.filter("g = 7"),
      new java.io.PrintStream(none, true, "UTF-8")))
    assert(none.size() == 0)
    assert(sinkTemps() == temps, "the sink must remove its temp files")
  }

  test("CLI -v/--version prints the version and exits cleanly") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.pipeline.Main.main(Array("--version"))
    }
    assert(buf.toString("UTF-8").trim ==
      s"bigbugdata-spark ${graft.pipeline.Main.Version}")
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      graft.pipeline.Main.main(Array("-v"))
    }
    assert(buf2.toString("UTF-8").trim ==
      s"bigbugdata-spark ${graft.pipeline.Main.Version}")
  }

  test("filterReportsByTaxids: first-token sampleName + semi join") {
    val dir = Files.createTempDirectory("graft_frep")
    Files.writeString(dir.resolve("AB_CD_species-level-report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t30\t30\t300\t1.0\t0.5\t10\tspecies\tEcoli\n" +
        "0.1\t20\t20\t200\t1.0\t0.5\t20\tspecies\tStaph\n")
    Files.writeString(dir.resolve("taxids.csv"), "taxID\n10\n")
    val got = FilterOps.filterReportsByTaxids(spark,
      s"$dir/*_species-level-report.tsv",
      FilterOps.readTaxids(spark, dir.resolve("taxids.csv").toString))
      .collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("sampleName") == "AB") // first token rule
    // string passthrough: the tool never types a value (DictReader →
    // DictWriter), so taxID comes back as the verbatim input text
    assert(got.head.getAs[String]("taxID") == "10")
  }

  test("filterReportsByTaxids: sampleName is the file name as spelled, " +
      "not its percent-encoded URI (F6)") {
    val dir = Files.createTempDirectory("graft_frep_enc")
    for (name <- Seq("Pat 7_x", "p%2_y", "a+b_z"))
      Files.writeString(dir.resolve(s"${name}_species-level-report.tsv"),
        "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
          "0.1\t30\t30\t300\t1.0\t0.5\t10\tspecies\tEcoli\n")
    Files.writeString(dir.resolve("taxids.csv"), "taxID\n10\n")
    val got = FilterOps.filterReportsByTaxids(spark,
      s"$dir/*_species-level-report.tsv",
      FilterOps.readTaxids(spark, dir.resolve("taxids.csv").toString))
      .collect().map(_.getAs[String]("sampleName")).sorted.toSeq
    assert(got == Seq("Pat 7", "a+b", "p%2"))
  }

  test("writeSingleCsv: pathological header names (quote, comma, " +
      "backslash) match Spark's own CSV writer byte-for-byte") {
    val s2 = spark; import s2.implicits._
    val cols = Seq("plain", "has,comma", "has\"quote", "back\\slash",
      "mix\",\\both")
    val df = Seq(("a", "b", "c", "d", "e")).toDF(cols: _*)
    // ground truth: what option("header", "true") emits for these names
    val refDir = Files.createTempDirectory("graft_hdr_ref")
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(refDir.toString)
    val refHeader = Files.list(refDir).iterator()
      .asScala.filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala.headOption)
      .next()
    val target = Files.createTempDirectory("graft_hdr").resolve("out.csv")
    graft.io.CsvSink.writeSingleCsv(df, cols, target.toString)
    val gotHeader = Files.readAllLines(target).get(0)
    assert(gotHeader == refHeader,
      s"driver-written header must match Univocity:\n got $gotHeader\n ref $refHeader")
    // and the file round-trips through Spark's reader with the same
    // quote/escape dialect
    val back = spark.read.option("header", "true").csv(target.toString)
    assert(back.columns.toSeq == cols, back.columns.mkString("|"))
  }

  test("Compaction.compact: bin-packs many small files to the byte " +
      "target, preserving content exactly") {
    val s2 = spark; import s2.implicits._
    val root = Files.createTempDirectory("graft_compact").toString
    val df = (0 until 20000).map(i => (i.toLong, s"row $i payload"))
      .toDF("id", "payload")
    df.repartition(32).write.mode("overwrite").parquet(s"$root/small")
    val stats = graft.io.Compaction.compact(
      spark, s"$root/small", s"$root/out", targetBytes = 64L << 10)
    assert(stats.nFilesIn == 32)
    // byte-targeted: more than one output file (input > 64 KB total),
    // but far fewer than the input fragments
    val expected = ((stats.totalBytes + (64L << 10) - 1) / (64L << 10)).toInt
    assert(stats.nFilesOut == math.min(expected, 32),
      s"got ${stats.nFilesOut} files for ${stats.totalBytes} bytes")
    assert(stats.nFilesOut > 1 && stats.nFilesOut < 32)
    // content preservation: same rows, nothing lost or duplicated
    val back = spark.read.parquet(s"$root/out")
    assert(back.count() == 20000)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("q92 observe(): reject metrics ride the production scan and " +
      "match independent recounts exactly") {
    import org.apache.spark.sql.functions._
    val sf001 = "/root/testdata/sf0.001"
    val (gated, obs) = graft.catalog.Extended.observedGate(spark, sf001)
    gated.collect() // the ONE action; metrics must be available after it
    val m = obs.get
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    assert(m("rows_seen") == li.count())
    val rej = li.filter(col("l_quantity") > 45)
    assert(m("rows_rejected") == rej.count())
    assert(m("rows_rejected").asInstanceOf[Long] > 0,
      "the gate must reject something or the metrics are vacuous")
    val qtyRej = rej.agg(sum(col("l_quantity")
      .cast(org.apache.spark.sql.types.DecimalType(12, 2))))
      .collect().head.getDecimal(0)
    assert(m("qty_rejected").asInstanceOf[java.math.BigDecimal]
      .compareTo(qtyRej) == 0)
  }
}
