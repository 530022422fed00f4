package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** SHUTDOWN_APPLICATION analog: any exception not absorbed by the
  * dead-letter routing terminates the whole application rather than
  * silently dropping or duplicating data
  * (reference: .../errorhandling/UncaughtExceptionHandlerConfig.java:19,
  * rationale README.md:31). In Spark a failed `foreachBatch` write
  * fails the StreamingQuery; this wrapper propagates that into a
  * SparkSession stop, the whole-application shutdown equivalent. */
object Shutdown {
  /** Await the query; on failure stop the session and rethrow. */
  def awaitOrShutdown(spark: SparkSession, query: StreamingQuery): Unit =
    awaitOrShutdown(query, () => spark.stop())

  /** Await the query; on failure run `stop` and rethrow the query's
    * failure. A failure of `stop` itself is attached to it as a
    * suppressed exception, so the cause the query died of is the one
    * that surfaces. */
  def awaitOrShutdown(query: StreamingQuery, stop: () => Unit): Unit =
    try query.awaitTermination()
    catch {
      case e: Throwable =>
        try stop() catch { case s: Throwable => e.addSuppressed(s) }
        throw e
    }
}
