package graft

/** Pins the session defaults that bound long-lived heap: Spark's status
  * listeners run with the UI off, so without `spark.sql.ui.retainedExecutions`
  * (and the job/stage/task bounds beside it) a serving session keeps the
  * last 1,000 SQL executions' plans and metrics alive.
  */
class GraftSessionSpec extends SparkSpec {

  test("the SQL status store holds no more executions than the bound") {
    val bound = spark.sparkContext.getConf.get("spark.sql.ui.retainedExecutions").toInt
    assert(bound == 50)
    (1 to bound + 30).foreach(i => spark.range(i).collect())
    val store = spark.sharedState.statusStore
    // the listener bus is asynchronous: wait for the last end events
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (store.executionsCount() > bound && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(store.executionsCount() <= bound,
      s"${store.executionsCount()} SQL executions retained, bound $bound")
  }
}
