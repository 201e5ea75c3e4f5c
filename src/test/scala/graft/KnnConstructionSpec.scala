package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Building a kNN query's DataFrame runs no Spark job: once a session
  * holds the trained models and memos, every `sim_knn_*` construction is
  * plan-only, so plan dumps and `explain` never execute the query.
  */
class KnnConstructionSpec extends SparkSpec {

  private val names =
    SparkEntry.queries.keys.filter(_.startsWith("sim_knn_")).toSeq.sorted

  test("rebuilding every sim_knn_* DataFrame in a warm session runs zero jobs") {
    assert(names.size === 21, names.mkString(", "))
    CacheLife.release(spark)
    names.foreach(n => SparkEntry.queries(n)(spark, Sf).collect())
    val sc = spark.sparkContext
    val group = "knn-construction-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "KnnConstructionSpec job count")
    val perName =
      try names.map { n =>
        val before = jobs.get
        SparkEntry.queries(n)(spark, Sf)
        ListenerBusDrain(sc)
        n -> (jobs.get - before)
      } finally {
        sc.clearJobGroup()
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
        CacheLife.release(spark)
      }
    val busy = perName.filter(_._2 > 0)
    assert(busy.isEmpty, s"DataFrame construction ran jobs: ${busy.mkString(", ")}")
  }
}
