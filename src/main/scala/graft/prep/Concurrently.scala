package graft.prep

import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Two independent Spark actions submitted at the same time, so the
  * driver-side planning and job launch of one overlap the other's.
  */
private[prep] object Concurrently {

  private lazy val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-prep-side")
    t.setDaemon(true)
    t
  }

  /** Runs `side` on a daemon driver thread while `main` runs on the
    * caller's. The side thread carries the caller's job group, local
    * properties and active session, so listeners attribute its jobs to
    * the caller. Both have finished before this returns or throws. A
    * failure is rethrown as the exception the action threw, `main`'s
    * first when both fail.
    */
  def both[A, B](spark: SparkSession)(main: => A, side: => B): (A, B) = {
    val future = SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(side)
    def await(): B =
      try future.get() catch { case e: ExecutionException => throw e.getCause }
    val a = try main catch {
      case e: Throwable =>
        try await() catch { case s: Throwable => if (s ne e) e.addSuppressed(s) }
        throw e
    }
    (a, await())
  }
}
