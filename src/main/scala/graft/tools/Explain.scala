package graft.tools

/** Dev utility: print the formatted physical plan of registered queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the level must be set before the context starts: set after,
    // Spark's start-up INFO lines bury the failure lines on stderr
    sys.props.getOrElseUpdate("spark.log.level", "ERROR")
    // same session wiring as Bench/Verify: the graftx extensions
    // change plan shapes (TopKPerKey rewrites), so a plan dumped for
    // evidence must be the plan the bench actually runs
    val spark = graft.Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus)
    args.foreach { name =>
      println(s"\n================ $name ================")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
