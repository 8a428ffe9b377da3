package graft.tools

/** Debug helper: print the executed physical plan of named SparkEntry
  * queries (the `.explain`-and-iterate loop PlanSpec pins are written
  * from). Usage: runMain graft.tools.PlanDump <sfDir> <q1,q2,...> */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',')
    // the shared session factory at SPARK_GRAFT_CPUS cores (default 4):
    // partition counts and AQE choices follow that core count, so set it
    // to the board's to see the board's plans
    val spark = graft.GraftSession.build(graft.GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      // EXECUTE before dumping (r16): an unexecuted AdaptiveSparkPlan
      // prints only the initial plan — the dump must show the final
      // stages (AQE partition counts, runtime join selections)
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.queryExecution.toRdd.count()
      println(df.queryExecution.executedPlan.toString())
    }
    spark.stop()
  }
}
