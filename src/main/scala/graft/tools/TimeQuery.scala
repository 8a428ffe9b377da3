package graft.tools

import graft.staging.Staging

/** Debug helper: time named SparkEntry queries REP BY REP in one JVM
  * (Bench prints only the min of two passes — regression hunts need the
  * per-rep sequence to separate staging/JIT warm-up from steady state).
  * Usage: TimeQuery <sfDir> <q1,q2,...> [reps=4] */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',')
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    // fail-fast digest resolution + stale-staging GC before any Spark work
    Staging.initStaging()
    val spark = graft.GraftSession.build(graft.GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val times = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n: ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
