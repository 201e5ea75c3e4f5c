package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.operators.SimilarityQueries
import graft.sources.{VectorLayout, Warehouse}

/** One benchmark run of one lifecycle workload, in one JVM.
  *
  * `Lifecycle --workload <w> --inputs <dir> --work <dir> --seconds <n>
  *  --trace <0|1> --out <file> --param max_passes=<n> [--param k=v]...`
  *
  * The run sets up (several times; the median is the set-up time), then
  * repeats whole lifecycle passes on fresh roots until `--seconds` have
  * been measured (at least one pass), then checks outputs. Every public
  * engine call is wrapped in a span; with `--trace 1` the listeners in
  * [[Trace]] count Spark work per span and per engine module. The run
  * writes its raw record (samples, spans, counters, checks, the outputs
  * to compare against the oracle) to `--out` as JSON; `run.py` turns it
  * into metrics.
  */
object Lifecycle {

  /** Set-ups per run; the run reports their median. */
  val SetupReps = 3

  /** A call boundary: wall-clock start/end and the CPU time the whole
    * process (driver, local executors, JIT, GC) spent inside it.
    */
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
                        cpuMs: Double)

  final class Run(val spark: SparkSession) {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val values = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val errors = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[Span]
    var attempted = 0L
    var failed = 0L
    private val t0 = System.nanoTime()
    private var stack = List(0)
    private var nextId = 1

    def nowMs: Double = (System.nanoTime() - t0) / 1e6
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuMs: Double = os.getProcessCpuTime / 1e6
    def sample(key: String, v: Double): Unit =
      samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

    /** Run `f` as a span: the innermost span's name is the
      * `perfbench.span` local property every job started inside
      * carries. Returns (result, seconds).
      */
    def span[A](name: String)(f: => A): (A, Double) = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Trace.SpanKey)
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      sc.setLocalProperty(Trace.SpanKey, name)
      val start = nowMs
      val cpu = cpuMs
      try {
        val r = f
        (r, (nowMs - start) / 1e3)
      } finally {
        spans += Span(id, parent, name, start, nowMs, cpuMs - cpu)
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey, outer)
      }
    }

    /** One attempted operation: timed into `key` (ms) when it succeeds,
      * counted as failed when it throws.
      */
    def op[A](key: String, spanName: String)(f: => A): Option[A] = {
      attempted += 1
      try {
        val (r, sec) = span(spanName)(f)
        sample(key, sec * 1e3)
        Some(r)
      } catch {
        case e: Exception =>
          failed += 1
          errors += s"$spanName: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          None
      }
    }

    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      attempted += 1
      if (!ok) failed += 1
      checks += ((name, ok, if (ok) "" else detail))
    }
  }

  def main(args: Array[String]): Unit = {
    val pairs = args.grouped(2).map(a => (a(0).stripPrefix("--"), a(1))).toSeq
    val opt = pairs.filter(_._1 != "param").toMap
    val params = pairs.filter(_._1 == "param").map { case (_, kv) =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val work = new File(opt("work")).getAbsolutePath
    val inputs = new File(opt("inputs")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"

    val spark = Sessions.local()
    val listeners = if (traced) Some(Trace.install(spark)) else None
    val run = new Run(spark)
    val outputs: Outputs = mutable.LinkedHashMap.empty
    val oracle = mutable.LinkedHashMap.empty[String, String]
    val workload: Workload = opt("workload") match {
      case "ohlcv_day" => new OhlcvDay(run, inputs, params)
      case "drain_curate" => new DrainCurate(run, inputs, params)
      case w => sys.error(s"unknown workload $w")
    }
    try {
      (1 to SetupReps).foreach { r =>
        val (_, sec) = run.span("setup")(workload.setup(s"$work/setup$r", r))
        run.sample("setup_s", sec)
      }
      val maxPasses = params("max_passes").toInt
      val start = System.nanoTime()
      var pass = 0
      while (pass == 0 || (pass < maxPasses && (System.nanoTime() - start) / 1e9 < seconds)) {
        pass += 1
        val root = s"$work/pass$pass"
        val (w, r, storeBytes) = workload.pass(pass, root)
        run.sample("write_s", w)
        run.sample("read_s", r)
        run.sample("store_mb", storeBytes / 1e6)
      }
      run.values("passes") = pass
      run.values("measured_s") = (System.nanoTime() - start) / 1e9
      run.span("check")(workload.verify(s"$work/pass1", outputs, oracle))
    } catch {
      case e: Exception =>
        run.failed += 1; run.attempted += 1
        run.errors += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    }
    listeners.foreach { case (t, _) =>
      Trace.settle(spark.sparkContext)
      run.values("trace.busy_ms") = t.busyNs / 1e6
      run.values("trace.wall_ms") = run.nowMs
    }
    run.values("peak_rss_mb") = Util.peakRssMb
    // output rows land as parquet for the oracle compare (local rows:
    // no query re-runs)
    outputs.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/out/$name")
    }
    Files.writeString(Paths.get(opt("out")), Json.of(ListMap(
      "samples" -> run.samples.map { case (k, v) => k -> v.toSeq },
      "values" -> run.values,
      "checks" -> run.checks.map { case (n, ok, d) => ListMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "errors" -> run.errors,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "outputs" -> outputs.keys.toSeq,
      "oracle" -> oracle,
      "spans" -> run.spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "cpu_ms" -> s.cpuMs)),
      "counters" -> listeners.toSeq.flatMap { case (t, _) =>
        t.counters.toSeq.map { case (k, c) => ListMap(
          "span" -> k.span, "module" -> k.module, "jobs" -> c.jobs,
          "stages" -> c.stages, "tasks" -> c.tasks, "run_ms" -> c.runMs,
          "cpu_ms" -> c.cpuMs, "gc_ms" -> c.gcMs,
          "shuffle_write" -> c.shuffleWrite, "shuffle_read" -> c.shuffleRead,
          "spill" -> c.spill, "input" -> c.input, "output" -> c.output)
        }
      },
      "streams" -> listeners.toSeq.flatMap { case (_, s) =>
        s.perStream.map(_.map { case (ms, rows) => Seq(ms, rows) })
      },
      "cores" -> spark.sparkContext.defaultParallelism)))
    CacheLife.release(spark)
    spark.stop()
  }

  private val ListMap = scala.collection.immutable.ListMap

  type Outputs = mutable.LinkedHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  trait Workload {
    /** One set-up into a fresh directory (`rep` counts from 1). */
    def setup(dir: String, rep: Int): Unit
    /** One lifecycle pass under `root`: (write s, read s, bytes the
      * pass added to its store).
      */
    def pass(n: Int, root: String): (Double, Double, Double)
    /** Output checks after the measured passes; fills the outputs the
      * oracle compare reads and the oracle SQL to compare them with.
      */
    def verify(root: String, outputs: Outputs, oracle: mutable.Map[String, String]): Unit
  }

  /** The reference's ingest lifecycle: a day of 5-minute ticks for
    * three coins, the daily close-out per coin, the dashboard reads.
    */
  final class OhlcvDay(run: Run, inputs: String, params: Map[String, String]) extends Workload {
    private val spark = run.spark
    private val coins = Seq("bitcoin_prices", "ethereum_prices", "ripple_prices")
    private val ticksPerDay = params("ticks_per_day").toInt
    private val payloads = coins.map(c =>
      c -> Files.readAllLines(Paths.get(s"$inputs/$c.jsonl")).asScala.toIndexedSeq).toMap
    private val days = payloads.values.head.size / ticksPerDay
    private val firstDay = java.time.LocalDate.parse("2023-04-26")

    /** A coin's first tick into an empty pipeline root: table creation
      * plus the first append (one coin per repetition).
      */
    def setup(dir: String, rep: Int): Unit = {
      val c = coins((rep - 1) % coins.size)
      Pipeline.ingestTick(spark, dir, c, Seq(payloads(c).head))
    }

    def pass(n: Int, root: String): (Double, Double, Double) = {
      // every pass is one more day of the SAME pipeline root, so the
      // warehouse grows pass over pass as a deployment's does
      val pipeRoot = new File(root).getParent + "/pipeline"
      val day = n - 1
      require(day < days, s"inputs hold $days days; pass $n needs more")
      val ds = firstDay.plusDays(day).toString
      val (_, writeS) = run.span(s"p$n.write") {
        (0 until ticksPerDay).foreach { i =>
          coins.foreach { c =>
            run.op("tick_ms", s"p$n.tick")(Pipeline.ingestTick(
              spark, pipeRoot, c, Seq(payloads(c)(day * ticksPerDay + i))))
          }
        }
        coins.foreach { c =>
          run.op("closeout_ms", s"p$n.closeout")(Pipeline.dailyCloseout(
            spark, pipeRoot, c, ds, ds.replace("-", "") + "T000000"))
        }
      }
      val (_, readS) = run.span(s"p$n.read")(coins.foreach(c => dashboard(n, pipeRoot, c, ds)))
      run.sample("dashboard_ms", readS * 1e3)
      // every day adds to one root: a day's share of it
      (writeS, readS, Util.bytesUnder(new File(pipeRoot)).toDouble / n)
    }

    /** The reference dashboard over one coin's warehouse table. */
    private def dashboard(n: Int, pipeRoot: String, coin: String, ds: String): Unit = {
      def wh = Warehouse.table(spark, s"$pipeRoot/warehouse/$coin")
      val sp = s"p$n.dashboard"
      val key = s"dash/$coin/$ds"
      run.op("dash_read_ms", sp)(wh.collect().length)
        .foreach(v => run.values(s"$key/rows") = v)
      run.op("dash_read_ms", sp)(wh.orderBy(col("volume_traded").desc).limit(1)
        .select(date_format(col("time_period_start"), "yyyy-MM-dd HH:mm:ss"),
          col("volume_traded")).head())
        .foreach { r => run.values(s"$key/top_start") = r.getString(0)
          run.values(s"$key/top_vol") = r.getDouble(1) }
      run.op("dash_read_ms", sp)(wh.agg(max("price_high"), min("price_low")).head())
        .foreach { r => run.values(s"$key/max_high") = r.getInt(0)
          run.values(s"$key/min_low") = r.getInt(1) }
      run.op("dash_read_ms", sp)(wh.filter(col("period_date") === lit(ds).cast("date"))
        .agg(count(lit(1)), sum("volume_traded"), max("price_high"),
          min("price_low"), sum("trades_count")).head())
        .foreach { r => run.values(s"$key/day_rows") = r.getLong(0)
          run.values(s"$key/day_vol") = r.getDouble(1)
          run.values(s"$key/day_high") = r.getInt(2)
          run.values(s"$key/day_low") = r.getInt(3)
          run.values(s"$key/day_trades") = r.getLong(4) }
    }

    def verify(root: String, outputs: Outputs, oracle: mutable.Map[String, String]): Unit = {
      val pipeRoot = new File(root).getParent + "/pipeline"
      coins.foreach { c =>
        val ingest = Warehouse.table(spark, s"$pipeRoot/ingest/$c")
        val wh = Warehouse.table(spark, s"$pipeRoot/warehouse/$c")
        val n = ingest.count()
        run.values(s"ingest/$c/rows") = n
        val ids = ingest.agg(min("id"), max("id"), countDistinct("id")).head()
        run.check(s"$c ids are 1..$n", n > 0 && ids.getLong(0) == 1L &&
          ids.getLong(1) == n && ids.getLong(2) == n,
          s"min=${ids.get(0)} max=${ids.get(1)} distinct=${ids.get(2)} rows=$n")
        val missing = ingest.exceptAll(wh).count()
        val extra = wh.exceptAll(ingest).count()
        run.check(s"$c warehouse equals ingest after the CSV round trip",
          missing == 0 && extra == 0, s"$missing ingest rows missing, $extra extra")
      }
      val files = Util.filesUnder(new File(pipeRoot)).filter(_.getName.endsWith(".parquet"))
      val rows = coins.map(c => run.values(s"ingest/$c/rows").asInstanceOf[Long]).sum * 2
      run.values("warehouse.files") = files.size
      run.values("warehouse.bytes_per_row") = files.map(_.length).sum.toDouble / rows
    }
  }

  /** A store root's day: the four ingest streams drain the held-out
    * slice into the incremental stores (`StreamDrain`: bases, landing,
    * streams, `StoreMaintain`, `Doctor` gate), the session's memos are
    * released, and consumers read on first touch: every store-backed
    * read of `VerifyStream.storeQueries`, then CurationDemo's text
    * stages, which build the curation stores they need into the same
    * root as they go.
    */
  final class DrainCurate(run: Run, inputs: String, params: Map[String, String])
      extends Workload {
    private val spark = run.spark
    private val sf = s"$inputs/corpus"
    private val batches = params("batches").toInt
    /** CurationDemo's text stages, in demo order. The funnel stage is
      * left out: on first touch it derives the dedup stores too (about
      * 6 s), more than the driver's run budget leaves.
      */
    private val served = Seq("text_source_scorecard", "text_sample_mix",
      "text_split_report", "text_curriculum", "text_pack_contexts", "text_pack_stats")
    private val firstRows: Outputs = mutable.LinkedHashMap.empty

    /** The session's preparation before the day: resolve the
      * corpus-derived knobs and materialize the tokenized corpus (the
      * store every text store derives from) under a fresh root.
      */
    def setup(dir: String, rep: Int): Unit = {
      SimilarityQueries.pinAutoNCells(spark, sf)
      SimilarityQueries.pinProbeMode(spark, sf)
      SimilarityQueries.pinSignRows(spark, sf)
      spark.conf.set(CacheLife.RootKey, dir)
      operators.TextQueries.indexBuilders(spark, sf).head._2()
      CacheLife.release(spark)
      spark.conf.unset(CacheLife.RootKey)
    }

    private def read(n: Int, kind: String, q: String)(df: => DataFrame): Unit =
      run.op(s"$kind/$q", s"p$n.$kind.$q") {
        val d = df
        val rows = d.collect()
        if (n == 1) firstRows(s"$kind.$q") = (rows, d.schema)
      }

    def pass(n: Int, root: String): (Double, Double, Double) = {
      val (_, writeS) = run.span(s"p$n.write") {
        run.op("drain_ms", s"p$n.drain") {
          val code = StreamDrain.run(spark, sf, root, batches)
          run.check(s"pass $n: Doctor gate exits 0 after the drain", code == 0, s"exit $code")
        }
        run.span(s"p$n.release")(CacheLife.release(spark))
      }
      spark.conf.set(CacheLife.RootKey, root)
      val storesBefore = Util.storeDirs(new File(root))
      val (_, readS) = run.span(s"p$n.read") {
        val (_, storeS) = run.span(s"p$n.reads")(
          VerifyStream.storeQueries(root, sf).toSeq.sortBy(_._1).foreach { case (q, f) =>
            read(n, "read", q)(f(spark))
          })
        run.sample("store_read_ms", storeS * 1e3)
        val (_, serveS) = run.span(s"p$n.serves")(served.foreach(q =>
          read(n, "serve", q)(SparkEntry.queries(q)(spark, sf))))
        run.sample("serve_ms", serveS * 1e3)
      }
      run.values("serve.store_writes") = (Util.storeDirs(new File(root)) -- storesBefore).size
      CacheLife.release(spark)
      spark.conf.unset(CacheLife.RootKey)
      (writeS, readS, Util.bytesUnder(new File(root)).toDouble)
    }

    def verify(root: String, outputs: Outputs, oracle: mutable.Map[String, String]): Unit = {
      run.values("drain.root_files") = Util.filesUnder(new File(root)).size
      // the store-served auto row reads the STORE's probe resolution;
      // its oracle must be generated under the same one
      spark.conf.set(SimilarityQueries.ProbeKey,
        VectorLayout.storeProbeMode(spark, sf, StoreBuild.vectorLayoutDir(root)))
      val sql = SparkEntry.oracleSql
      firstRows.foreach { case (name, out) =>
        outputs(name) = out
        sql.get(name.split('.')(1)).foreach(oracle(name) = _)
      }
    }
  }
}

object Util {
  def filesUnder(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq

  def bytesUnder(dir: File): Long = filesUnder(dir).map(_.length).sum

  /** Published store directories (a `_SUCCESS` marker) under a root. */
  def storeDirs(root: File): Set[String] =
    filesUnder(root).filter(_.getName == "_SUCCESS").map(_.getParent).toSet

  def peakRssMb: Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get)
      .getOrElse(0.0)
}

/** Minimal JSON rendering for the run record. */
object Json {
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
