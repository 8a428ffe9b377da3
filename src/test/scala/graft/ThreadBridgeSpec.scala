package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graftbridge.ThreadBridge

class ThreadBridgeSpec extends SparkSpec {

  test("pool-thread jobs carry the caller's local properties, not its execution id") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.owner", "caller")
    sc.setJobDescription("bridge test")
    sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, "424242")
    try {
      val (inTask, desc, execId) = ThreadBridge.async(spark) {
        val seen = spark.sparkContext.parallelize(Seq(1), 1)
          .map(_ => TaskContext.get().getLocalProperty("graft.test.owner")).collect().head
        (seen, sc.getLocalProperty("spark.job.description"),
          sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
      }.await()
      assert(inTask == "caller")
      assert(desc == "bridge test")
      assert(execId == null)
    } finally {
      sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
      sc.setJobDescription(null)
      sc.setLocalProperty("graft.test.owner", null)
    }
  }

  test("await rethrows the thunk's own exception") {
    val e = intercept[IllegalArgumentException] {
      ThreadBridge.async(spark)(throw new IllegalArgumentException("pin failed")).await()
    }
    assert(e.getMessage == "pin failed")
  }
}
