package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, CompletionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Runs driver-side thunks that launch Spark jobs on a dedicated daemon
  * pool, through `SQLExecution.withThreadLocalCaptured`: the pool thread
  * sees the caller's active session and local properties (job group,
  * description, tags, any caller-set property), so its jobs are cancelled
  * and attributed with the caller's. The caller's SQL execution id is
  * cleared — the thunk's actions start executions of their own. Lives
  * under `org.apache.spark.sql` for access to `SQLExecution`. */
object ThreadBridge {

  /** A started thunk. `await()` returns its value or rethrows the thunk's
    * own exception (not the `CompletionException` wrapping it). */
  final class Pending[T] private[ThreadBridge] (f: CompletableFuture[T]) {
    def isDone: Boolean = f.isDone
    def await(): T =
      try f.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
  }

  private val threads = new AtomicInteger()
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-async-${threads.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  def async[T](session: SparkSession)(body: => T): Pending[T] = {
    val s = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new Pending(SQLExecution.withThreadLocalCaptured(s, pool) {
      s.sparkContext.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
      s.sparkContext.setLocalProperty(SQLExecution.EXECUTION_ROOT_ID_KEY, null)
      body
    })
  }
}
