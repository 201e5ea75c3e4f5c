package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; suites run sequentially in sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.builder("4").getOrCreate()
  val Sf = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on this thread (its own job group), counted
    * once the listener bus has delivered every event.
    */
  def jobsDuring(body: => Unit): Int = jobSitesDuring(body).size

  /** The call site of each job `body` starts (its result stage's name,
    * e.g. `count at DedupQueries.scala:288`), in start order —
    * [[jobsDuring]] with the jobs named.
    */
  def jobSitesDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = "spec-jobs-" + java.util.UUID.randomUUID()
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.maxByOption(_.stageId).fold("")(_.name)) // the result stage
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, s"${getClass.getSimpleName} job count")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  /** Run `body` under temporary session confs, restoring the previous
    * values after (the session is JVM-shared across suites).
    */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
