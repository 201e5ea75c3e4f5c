package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, StageScope}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.operators.SimilarityQueries

/** Cold profiler for named index builders and registered queries at one
  * corpus dir:
  * `runMain graft.Profile <dir> <name,name,...> [iters] [conf:k=v,k=v]`.
  *
  *   - a BUILDER runs `iters` times, each from a released session, so
  *     every line is its honest cold build cost (an in-bench up-decade
  *     builder line can measure warm: an earlier pass's cache blocks may
  *     outlive a non-blocking unpersist);
  *   - a QUERY runs its [[coldSteady]] legs with `iters` steady legs.
  *
  * Every leg prints its wall seconds and a stage table (stage, wall,
  * executor run and CPU ms; each stage named by [[stageLabel]]), the
  * local stand-in for the Spark UI's stage page:
  * `substr.grams,substr.winnow_fp` splits the winnowing builder into its
  * per-token window map, window selection and anchor join.
  * Unknown names refuse; the optional conf applies before anything runs.
  */
object Profile {

  /** One registered query's cold/steady legs at `dir`. The cold leg runs
    * after [[CacheLife.release]]: what a fresh session pays, including
    * the models and indexes the query rides. Each of the `steady` legs
    * runs after [[SimilarityQueries.dropOutputMemos]], so it re-executes
    * over warm models (the state the bench medians time) instead of
    * collecting the output memo the previous leg built. `leg` sees each
    * leg's key and seconds as it finishes.
    */
  def coldSteady(s: SparkSession, dir: String, name: String, steady: Int,
                 leg: (String, Double) => Unit = (_, _) => ()): Seq[(String, Double)] = {
    val fn = SparkEntry.queries(name)
    def once(key: String): (String, Double) = {
      val t0 = System.nanoTime()
      fn(s, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      leg(key, dt)
      key -> dt
    }
    CacheLife.release(s)
    once(s"$name:cold") +: (1 to steady).map { _ =>
      SimilarityQueries.dropOutputMemos(s)
      once(s"$name:steady")
    }
  }

  /** A stage's name in the stage table: the call site of the SQL
    * execution its job belongs to (the action, e.g. `count at
    * Profile.scala:42`), else the stage's own name. Spark names every
    * adaptive query stage and broadcast after the future that submits
    * it (`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`),
    * which says nothing about the query. The plan operators that built
    * the stage's RDDs follow in brackets, last first
    * ([[org.apache.spark.StageScope]]: `[Exchange < WholeStageCodegen
    * (2)]`), so the stages of one query tell apart.
    */
  def stageLabel(stageName: String, execSite: Option[String],
                 scopes: Seq[String] = Nil): String =
    execSite.getOrElse(stageName).takeWhile(_ != '(').trim +
      (if (scopes.isEmpty) "" else scopes.mkString(" [", " < ", "]"))

  def main(args: Array[String]): Unit = {
    val (dir, names) = (args(0), args(1).split(',').toSeq)
    val iters = args.lift(2).map(_.toInt).getOrElse(1)
    val confs = args.lift(3).toSeq.flatMap { a =>
      require(a.startsWith("conf:"), s"the 4th arg must be conf:k=v,k=v, got '$a'")
      Sessions.confPairs(a)
    }
    val s = Sessions.local()
    confs.foreach { case (k, v) => println(s"[profile] conf $k=$v"); s.conf.set(k, v) }
    val builders = SparkEntry.indexBuilders(s, dir).toMap
    val unknown = names.filterNot(n => builders.contains(n) || SparkEntry.queries.contains(n))
    require(unknown.isEmpty, s"not a builder or registered query: ${unknown.mkString(", ")}")

    val stages = new ConcurrentLinkedQueue[String]()
    def row(stage: String, wall: Any, run: Any, cpu: Any): String =
      f"[profile]   $stage%-44s $wall%7s $run%7s $cpu%7s"
    s.sparkContext.addSparkListener(new SparkListener {
      // the bus delivers events to this listener on one thread, in order
      private val execSite = mutable.Map.empty[Long, String]
      private val stageSite = mutable.Map.empty[Int, String]
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execSite(x.executionId) = x.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => execSite.get(id.toLong))
          .foreach(site => e.stageIds.foreach(stageSite(_) = site))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
        val label = stageLabel(si.name, stageSite.remove(si.stageId), StageScope(si))
        stages.add(row(s"${si.stageId}:$label",
          wall.getOrElse(-1L), si.taskMetrics.executorRunTime,
          si.taskMetrics.executorCpuTime / 1000000L))
      }
    })
    def leg(key: String, secs: Double): Unit = {
      ListenerBusDrain(s.sparkContext)
      println(f"[profile] $key%-40s $secs%8.3f s")
      println(row("stage:name", "wall_ms", "run_ms", "cpu_ms"))
      while (!stages.isEmpty) println(stages.poll())
    }
    try names.foreach { n =>
      builders.get(n) match {
        case Some(build) => (1 to iters).foreach { _ =>
          CacheLife.release(s)
          val t0 = System.nanoTime()
          build()
          leg(s"$n:cold", (System.nanoTime() - t0) / 1e9)
        }
        case None => coldSteady(s, dir, n, iters, leg)
      }
    } finally { CacheLife.release(s); s.stop() }
  }
}
