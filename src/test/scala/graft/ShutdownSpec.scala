package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}

import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Shutdown

/** The shutdown half of the failure contract surfaces the cause the
  * query died of, even when stopping fails too. A stub query and a stop
  * hook stand in for the session, so the shared test session runs on. */
class ShutdownSpec extends AnyFunSuite {

  /** A query whose `awaitTermination()` throws `failure`, or returns
    * when there is none; every other call is unsupported. */
  private def query(failure: Option[Throwable]): StreamingQuery =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[StreamingQuery]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          if (m.getName == "awaitTermination" && m.getParameterCount == 0)
            failure.fold[AnyRef](null)(throw _)
          else throw new UnsupportedOperationException(m.getName)
      }).asInstanceOf[StreamingQuery]

  test("a stop that throws does not replace the query's failure") {
    val cause = new RuntimeException("DLT sink failed")
    val stopFailure = new IllegalStateException("stop failed")
    var stops = 0
    val thrown = intercept[RuntimeException] {
      Shutdown.awaitOrShutdown(query(Some(cause)), () => { stops += 1; throw stopFailure })
    }
    assert(thrown eq cause)
    assert(thrown.getSuppressed.toSeq == Seq(stopFailure))
    assert(stops == 1)
  }

  test("a failed query is stopped and rethrown; a finished one is not stopped") {
    val cause = new RuntimeException("DLT sink failed")
    var stops = 0
    val thrown = intercept[RuntimeException] {
      Shutdown.awaitOrShutdown(query(Some(cause)), () => stops += 1)
    }
    assert((thrown eq cause) && thrown.getSuppressed.isEmpty && stops == 1)
    Shutdown.awaitOrShutdown(query(None), () => stops += 1)
    assert(stops == 1)
  }
}
