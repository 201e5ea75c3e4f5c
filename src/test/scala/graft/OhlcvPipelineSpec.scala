package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.{Interchange, Ohlcv, Warehouse}

/** Reference-parity semantics (SURVEY §5.2 golden-value + property
  * tests): the float→int rounding trap, the positional CSV contract,
  * SERIAL id emulation, duplicate-append parity, and the end-to-end
  * two-stage pipeline on the FIXTURES.md §A.2 payload shape.
  */
class OhlcvPipelineSpec extends SparkSpec {

  private val payload =
    """[{"time_period_start": "2023-04-26T04:30:00.0000000Z",
      |  "time_period_end":   "2023-04-26T04:35:00.0000000Z",
      |  "time_open":         "2023-04-26T04:30:09.8120000Z",
      |  "time_close":        "2023-04-26T04:34:14.6860000Z",
      |  "price_open": 28370.4, "price_high": 28379.2,
      |  "price_low": 28360.0,  "price_close": 28360.8,
      |  "volume_traded": 0.61511822, "trades_count": 14}]""".stripMargin

  private def payloadAt(t: String, priceClose: Double): String =
    payload.replace("04:30:00", t).replace("28360.8", priceClose.toString)

  test("fromJson parses, rounds prices (not truncates), derives period_date") {
    val df = Ohlcv.fromJson(spark, Seq(payload))
    val r = df.collect().head
    assert(r.getAs[Int]("price_open") == 28370) // 28370.4 rounds down
    assert(r.getAs[Int]("price_high") == 28379) // 28379.2 → 28379
    assert(r.getAs[Int]("price_close") == 28361) // 28360.8 rounds UP — cast would give 28360
    assert(r.getAs[java.sql.Date]("period_date").toString == "2023-04-26")
    assert(r.getAs[java.sql.Timestamp]("time_period_start").toString == "2023-04-26 04:30:00.0")
  }

  test("splitJsonArray handles multi-candle arrays and braces in strings") {
    val two = """[{"a": "x{y"}, {"b": 2}]"""
    assert(Ohlcv.splitJsonArray(two) == Seq("""{"a": "x{y"}""", """{"b": 2}"""))
    assert(Ohlcv.splitJsonArray("""{"a": 1}""") == Seq("""{"a": 1}"""))
  }

  test("assignIds emulates SERIAL: contiguous from the high-water mark") {
    val df = Ohlcv.fromJson(spark, Seq(payload, payloadAt("04:35:00", 28361.2)))
    val ids = Ohlcv.assignIds(df, 5L).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(6L, 7L)))
  }

  test("pipeline end-to-end: ingest tick, duplicate re-run parity, daily closeout") {
    val root = Files.createTempDirectory("graft-pipe").toString
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payload))
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payload)) // re-run duplicates (T3)
    val ingest = Warehouse.table(spark, s"$root/ingest/Bitcoin")
    assert(ingest.count() == 2, "append-only parity: re-runs must duplicate")
    assert(ingest.select("id").collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L)))

    val stage = Pipeline.dailyCloseout(spark, root, "Bitcoin", "2023-04-26", "20230427T000000")
    assert(stage.endsWith("Bitcoin_price_data_20230427T000000"))
    val wh = Warehouse.table(spark, s"$root/warehouse/Bitcoin")
    assert(wh.count() == 2)
    // round-trip fidelity through the positional headerless CSV
    val a = ingest.orderBy("id").collect().toSeq
    val b = wh.orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("a tick into an existing table runs 1 job and re-stamps no _SUCCESS marker") {
    val root = Files.createTempDirectory("graft-tick").toString
    val ds = "2023-04-26"
    def closeout(): Unit =
      Pipeline.dailyCloseout(spark, root, "Bitcoin", ds, "20230427T000000")
    // both tables exist before anything is measured
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payload))
    closeout()
    val markers = Seq("ingest", "warehouse")
      .map(t => java.nio.file.Paths.get(root, t, "Bitcoin", "_SUCCESS"))
    def stamps() = markers.map(Files.getLastModifiedTime(_))
    val before = stamps()

    // only the write: the ids continue from the table's sequence, and
    // the id window sorts its one partition in place, with no shuffle job
    val tickJobs = jobsDuring(
      Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payloadAt("04:35:00", 28361.2))))
    assert(tickJobs === 1)
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payloadAt("04:40:00", 28362.2)))
    closeout()
    assert(stamps() === before,
      "an append must leave the _SUCCESS marker createIfNotExists wrote")

    val ids = Warehouse.table(spark, s"$root/ingest/Bitcoin")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)))
  }

  test("table creation runs no job; a first tick into an empty root runs 1") {
    val tbl = Paths.get(Files.createTempDirectory("graft-create").toString, "t").toString
    assert(jobsDuring(Warehouse.createIfNotExists(spark, tbl)) === 0)
    val made = Files.list(Paths.get(tbl)).iterator().asScala.map(_.getFileName.toString).toSet
    // the checksummed local file system writes a .crc beside each file
    assert(made === Set("_SUCCESS", "._SUCCESS.crc", "_sequence", "._sequence.crc"),
      "creation leaves no data file")
    assert(Warehouse.table(spark, tbl).count() === 0)

    val root = Files.createTempDirectory("graft-first").toString
    assert(jobsDuring(Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payload))) === 1)
    assert(ingestIds(root) === Seq(1L))
  }

  test("a file: URI root keeps its sequence beside its table") {
    val root = Files.createTempDirectory("graft-uri").toString
    Seq("04:30:00", "04:35:00").foreach(t =>
      Pipeline.ingestTick(spark, "file:" + root, "Bitcoin", Seq(payloadAt(t, 28361.2))))
    assert(ingestIds(root) === Seq(1L, 2L))
    assert(new String(Files.readAllBytes(Paths.get(root, "ingest", "Bitcoin", "_sequence"))) === "2")
    assert(!Files.exists(Paths.get("file:")),
      "a file: root must not leave a stray file: tree under the working directory")
  }

  private def ingestIds(root: String): Seq[Long] =
    Warehouse.table(spark, s"$root/ingest/Bitcoin")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def candle(t: String) = Ohlcv.fromJson(spark, Seq(payloadAt(t, 28361.2)))

  private def tickAt(root: String, t: String): Unit =
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payloadAt(t, 28361.2)))

  /** Four ticks with `between` run after the second; the ids must read
    * 1..n and the sequence must hold n again.
    */
  private def ticksAround(between: String => Unit): Unit = {
    val root = Files.createTempDirectory("graft-seq").toString
    val tbl = s"$root/ingest/Bitcoin"
    Seq("04:30:00", "04:35:00").foreach(tickAt(root, _))
    between(tbl)
    Seq("04:40:00", "04:45:00").foreach(tickAt(root, _))
    val ids = ingestIds(root)
    assert(ids === (1L to ids.size.toLong), "ids must stay exactly 1..n")
    assert(new String(Files.readAllBytes(Paths.get(tbl, "_sequence"))) === ids.size.toString)
  }

  Seq[(String, String => Unit)](
    "deleting _sequence (a crash between commit and rewrite)" ->
      (tbl => Files.delete(Paths.get(tbl, "_sequence"))),
    "garbage in _sequence" ->
      (tbl => Files.write(Paths.get(tbl, "_sequence"), "12x".getBytes)),
    "a plain Warehouse.append" ->
      (tbl => Warehouse.append(
        Ohlcv.assignIds(candle("04:37:00"), Warehouse.maxId(spark, tbl)), tbl)),
    "an idempotentAppend batch" ->
      (tbl => Warehouse.idempotentAppend(
        Ohlcv.assignIds(candle("04:37:00"), Warehouse.maxId(spark, tbl)), tbl, 0L))
  ).foreach { case (what, between) =>
    test(s"ids stay 1..n after $what between ticks")(ticksAround(between))
  }

  test("a torn _sequence (empty, garbled, cut mid-number) costs one maxId scan, ids stay 1..n") {
    val day = (0 until 60 by 5).map(m => payloadAt(f"04:$m%02d:00", 28361.2))
    // "1" is "12" cut mid-number: the bare decimal cannot tell, the
    // checksummed file: system's ._sequence.crc does
    Seq("empty" -> "", "garbled" -> "12x", "cut mid-number" -> "1").foreach { case (what, torn) =>
      val root = Files.createTempDirectory("graft-torn-seq").toString
      val tbl = s"$root/ingest/Bitcoin"
      val sequence = Paths.get(tbl, "_sequence")
      Pipeline.ingestTick(spark, root, "Bitcoin", day)
      assert(new String(Files.readAllBytes(sequence)) === "12")
      Files.write(sequence, torn.getBytes)
      val scan = jobsDuring(Warehouse.maxId(spark, tbl))
      assert(jobsDuring(tickAt(root, "05:00:00")) === 1 + scan,
        s"$what: the tick must recover through one maxId scan")
      assert(ingestIds(root) === (1L to 13L), s"$what: ids must stay exactly 1..n")
      assert(new String(Files.readAllBytes(sequence)) === "13")
    }
  }

  test("an empty tick appends nothing and keeps the sequence") {
    val root = Files.createTempDirectory("graft-empty").toString
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payload))
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq("[]"))
    val sequence = Paths.get(root, "ingest", "Bitcoin", "_sequence")
    assert(new String(Files.readAllBytes(sequence)) === "1")
    tickAt(root, "04:35:00")
    assert(ingestIds(root) === Seq(1L, 2L))
  }

  test("ids stay 1..n on a root built without a sequence") {
    // the earlier creation (an empty partitioned frame) and tick (a maxId
    // scan, then the append): neither leaves a _sequence
    val root = Files.createTempDirectory("graft-legacy").toString
    val tbl = s"$root/ingest/Bitcoin"
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Ohlcv.tableSchema)
      .write.partitionBy("period_date").parquet(tbl)
    Seq("04:30:00", "04:35:00").foreach(t =>
      Warehouse.append(Ohlcv.assignIds(candle(t), Warehouse.maxId(spark, tbl)), tbl))
    assert(!Files.exists(Paths.get(tbl, "_sequence")))
    Seq("04:40:00", "04:45:00").foreach(tickAt(root, _))
    assert(ingestIds(root) === Seq(1L, 2L, 3L, 4L))
  }

  test("a close-out stages one CSV file and adds one warehouse file per coin-day") {
    val root = Files.createTempDirectory("graft-closeout").toString
    Seq("04:30:00", "04:35:00", "04:40:00").foreach(tickAt(root, _))
    val stage = Pipeline.dailyCloseout(spark, root, "Bitcoin", "2023-04-26", "20230427T000000")
    def files(dir: String, ext: String) = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(ext) && !p.getFileName.toString.startsWith("."))
      .toSeq
    assert(files(s"$root/ingest/Bitcoin", ".parquet").size === 3)
    assert(files(stage, ".csv").size === 1)
    val wh = files(s"$root/warehouse/Bitcoin", ".parquet")
    assert(wh.size === 1)
    assert(wh.head.getParent.getFileName.toString === "period_date=2023-04-26")
    assert(Warehouse.table(spark, s"$root/warehouse/Bitcoin").count() === 3)
  }

  test("interchange CSV is headerless with id first (positional contract)") {
    val root = Files.createTempDirectory("graft-csv").toString
    val df = Ohlcv.assignIds(Ohlcv.fromJson(spark, Seq(payload)), 0L)
    Interchange.writeCsv(df, s"$root/out")
    val line = spark.read.text(s"$root/out").collect().head.getString(0)
    assert(line.startsWith("1,2023-04-26"), s"id must lead: $line")
    assert(line.split(",", -1).length == Ohlcv.columns.length)
  }

  test("dedupCandles keeps the lowest id per period (opt-in T3 fix)") {
    val df = Ohlcv.assignIds(
      Ohlcv.fromJson(spark, Seq(payload, payload, payloadAt("04:40:00", 28361.2))), 0L)
    val deduped = Warehouse.dedupCandles(df)
    assert(deduped.count() == 2)
    assert(deduped.agg(min("id"), max("id")).collect().head.toSeq == Seq(1L, 3L))
  }

  test("reference query shapes return golden values on fixture rows") {
    // FIXTURES.md §A.1 rows: ids 1/2 duplicates, volumes/prices as in the
    // select_all screenshot.
    val rows = Seq(payload, payloadAt("04:45:00", 28315.0), payloadAt("05:40:00", 28408.0))
    val t = Ohlcv.assignIds(Ohlcv.fromJson(spark, rows), 0L)
    // A2 global max/min one-pass
    val mm = t.agg(max("price_high"), min("price_low")).collect().head
    assert(mm.getInt(0) == 28379 && mm.getInt(1) == 28360)
    // O1 top-1 by volume
    val top = t.orderBy(col("volume_traded").desc, col("id").asc).limit(1)
      .select("id").collect().head.getLong(0)
    assert(top == 1L)
  }
}
