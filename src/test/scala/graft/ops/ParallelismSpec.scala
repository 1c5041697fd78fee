package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Parallelism.inParallel` is a plain thread-pool utility when no Spark
  * session exists: pure thunks run, keep input order, and a failing thunk
  * rethrows its own cause — no job-group wrapping is attempted.
  */
class ParallelismSpec extends AnyFunSuite {

  test("inParallel runs pure thunks with neither an active nor a default session") {
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      assert(SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty)
      val out = Parallelism.inParallel((1 to 5).map(i => () => { Thread.sleep(5L * (5 - i)); i * i }))
      assert(out == Seq(1, 4, 9, 16, 25))
      val boom = new IllegalArgumentException("thunk 2 failed")
      val thrown = intercept[IllegalArgumentException] {
        Parallelism.inParallel(Seq(() => 1, () => throw boom, () => 3))
      }
      assert(thrown eq boom)
    } finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }
}
