package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-(span, module) Spark counters, collected from outside the
  * engine: a [[SparkListener]] plus a [[StreamingQueryListener]]
  * registered by the benchmark.
  *
  * Span: the benchmark's own call boundary a job ran under, carried as
  * the `perfbench.span` local property (Spark copies local properties
  * into the threads that run broadcasts and into a stream's execution
  * thread, so those jobs keep the span their caller set).
  *
  * Module: the first `graft.` frame of the job's call site — the SQL
  * execution's call site when the job belongs to one, else the stage's
  * (`StageInfo.details`). `graft.sources.Warehouse$.maxId(...)` becomes
  * `sources.Warehouse`; a job with no engine frame is `unattributed`.
  */
final class Trace extends SparkListener {
  import Trace._

  private val execSite = mutable.Map.empty[Long, String]
  /** Time spent handling events, on the listener bus thread. */
  @volatile var busyNs = 0L
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally busyNs += System.nanoTime() - t0
  }
  private val stageKey = mutable.Map.empty[Int, Key]
  val counters = mutable.Map.empty[Key, Counters]
  private def at(k: Key) = counters.getOrElseUpdate(k, new Counters)

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed(event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execSite(e.executionId) = e.details
    }
    case _ =>
  })

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("none")
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    val key = Key(span, moduleOf(site))
    at(key).jobs += 1
    e.stageIds.foreach(stageKey(_) = key)
  })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed(synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(at(_).stages += 1)
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    val c = at(stageKey.getOrElse(e.stageId, Key("none", Unattributed)))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  })
}

object Trace {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"

  final case class Key(span: String, module: String)

  final class Counters {
    var jobs, stages, tasks = 0L
    var runMs, cpuMs, gcMs = 0.0
    var shuffleWrite, shuffleRead, spill, input, output = 0L
  }

  private val Frame = """^\s*(?:at\s+)?(graft\.[\w.$]+)\.[\w$<>]+\(""".r.unanchored

  /** `graft.operators.TextQueries$.$anonfun$x$1(TextQueries.scala:9)`
    * → `operators.TextQueries`.
    */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator.collectFirst {
      case Frame(cls) => cls.stripPrefix("graft.").takeWhile(_ != '$')
    }.getOrElse(Unattributed)

  /** Micro-batch progress per stream, in the order the streams started. */
  final class Streams extends StreamingQueryListener {
    val order = mutable.ArrayBuffer.empty[java.util.UUID]
    val batches = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[(Long, Long)]]
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
      if (!order.contains(e.id)) order += e.id
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val ms: Long = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        batches.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty) += ((ms, p.numInputRows))
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    /** (batch ms, input rows) per stream, in start order. */
    def perStream: Seq[Seq[(Long, Long)]] = synchronized(
      order.toSeq.map(id => batches.get(id).map(_.toSeq).getOrElse(Nil)))
  }

  def install(spark: SparkSession): (Trace, Streams) = {
    val t = new Trace
    val s = new Streams
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(s)
    (t, s)
  }

  /** Block until every event posted so far has reached the listeners. */
  def settle(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
