package graft

import org.apache.spark.graft.ListenerFlush
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM, forked by sbt), built
  * like every main's; a spec that stops it gets a new one on the next call.
  */
object SparkTestSession {
  private var session: SparkSession = _

  def spark: SparkSession = synchronized {
    if (session == null || session.sparkContext.isStopped) {
      // a fixed 4 cores, not SPARK_GRAFT_CPUS: specs pin plan shapes and
      // partition counts that must not follow the machine's core count
      session = GraftSession.create("graft-test", 4)
    }
    session
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  def spark: SparkSession = SparkTestSession.spark
  def sfDir: String = "/root/testdata/sf0.001"

  /** Runs `f` on a new session from `GraftSession.create` that shares the
    * running context (the shared session's runtime conf stays untouched),
    * then restores the shared session.
    */
  def withNewSession[A](conf: (String, String)*)(f: SparkSession => A): A = {
    val shared = spark // force-init the shared session (and its context)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(GraftSession.create("graft-test-new", 4, conf: _*))
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  /** `body`'s result and the number of query executions that finished
    * while it ran, counted by a `QueryExecutionListener` on the shared
    * session.
    */
  def queryExecutionsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val tap = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        n.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        n.incrementAndGet()
    }
    ListenerFlush.waitUntilEmpty(spark.sparkContext, 60000)
    spark.listenerManager.register(tap)
    try {
      val r = body
      ListenerFlush.waitUntilEmpty(spark.sparkContext, 60000)
      (r, n.get)
    } finally spark.listenerManager.unregister(tap)
  }

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }
}
