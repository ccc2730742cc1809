package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The UI-less engine's status store keeps at most
  * [[GraftSession.StatusRetained]] jobs and SQL executions, however many
  * queries run. */
class StatusRetentionSpec extends SparkSpec {

  test("status store retention stays at the bound") {
    val bound = GraftSession.StatusRetained
    (1 to bound + 20).foreach { i =>
      spark.sql(s"SELECT count(*) FROM range($i)").collect()
    }
    // both the listener bus and the store's clean-up are asynchronous
    org.apache.spark.GraftCoreBridge.flushListenerBus(spark.sparkContext)
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    eventually(timeout(Span(30, Seconds))) {
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      assert(jobs <= bound, s"$jobs jobs retained, bound $bound")
      val execs = store.executionsCount()
      assert(execs <= bound, s"$execs SQL executions retained, bound $bound")
    }
  }
}
