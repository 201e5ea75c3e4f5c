package graft

/** The engine session's own settings, checked from inside a task. */
class SessionsSpec extends SparkSpec {

  test("tasks run without a per-session ExecutorClassLoader (artifact isolation off)") {
    import spark.implicits._
    val loaders = spark.range(4).repartition(4).mapPartitions { _ =>
      Iterator(Thread.currentThread.getContextClassLoader.getClass.getName)
    }.collect().toSet
    assert(!loaders.exists(_.endsWith("ExecutorClassLoader")), loaders)
  }
}
