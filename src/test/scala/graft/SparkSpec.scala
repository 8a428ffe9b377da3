package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run (getOrCreate reuses it). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.build(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
