package graft
object Explain {
  def main(args: Array[String]): Unit = {
    // args: <name[,name...]> [sfDir]   (default sf0.01)
    // SPARK_GRAFT_CONF=k=v[,k=v] passes session confs (same knob as
    // BenchOne) — e.g. spark.graft.scan.parallelizeMinBytes=0 to print
    // the plan with the opt-in scan repartition on (it is off by
    // default) for an A/B plan diff against the default plan.
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = SparkEnv.cpus
    val spark = SparkEnv.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // entries are k=v joined by ','; an entry without '=' is a usage
    // error — fail with the offending entry, not a bare MatchError.
    // (Conf VALUES containing ',' are not representable in this flat
    // format; pass such confs via a dedicated env/driver instead.)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v)
        case _ => sys.error(s"SPARK_GRAFT_CONF entry without '=': '$kv'")
      }
    })
    args(0).split(",").foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
