package graft

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
    val perName =
      try names.map(n => n -> jobsDuring(SparkEntry.queries(n)(spark, Sf)))
      finally CacheLife.release(spark)
    val busy = perName.filter(_._2 > 0)
    assert(busy.isEmpty, s"DataFrame construction ran jobs: ${busy.mkString(", ")}")
  }
}
