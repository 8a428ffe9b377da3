package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run (getOrCreate reuses it). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.build(4)
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the JVM's temp dir, deleted with everything
    * in it when the suite ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => graft.etl.Context.deleteRecursively(d))
    finally super.afterAll()
}
