package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SubstrDedup
import graft.sources.SubstrLayout
import graft.streaming.IngestSink

/** The incremental winnowed-fingerprint store: appended batches must
  * re-derive EXACTLY the registered corpus-wide winnow spans (including
  * duplication an append introduces retroactively), redelivery must
  * change nothing (count-checked), compaction must change bytes only,
  * and the streaming twin must reach batch parity from an empty root.
  */
class SubstrLayoutSpec extends SparkSpec {

  private def spanSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getAs[Number]("span_start").longValue(),
      r.getAs[Number]("span_end").longValue())).toSet

  test("appended batches re-derive the registered winnow spans; re-append is idempotent") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-sl").toString
    val m = col("doc_id") % 4

    SubstrLayout.materialize(spark, docs.filter(m < 2), root)
    SubstrLayout.append(spark, docs.filter(m === 2), root, batchId = 0L)
    SubstrLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)

    // the fingerprint log holds exactly the corpus-wide winnowed index
    val total = SubstrLayout.fingerprints(spark, root).count()
    val want = SubstrDedup.winnowFpOver(SubstrDedup.gramsOver(docs)).count()
    assert(total === want, s"fingerprint log holds $total rows, corpus winnows to $want")

    // spans over the store == the registered (oracle-checked) query
    val derived = spanSet(SubstrLayout.spans(spark, root))
    val registered = spanSet(SubstrDedup.queries("dedup_substr_winnow_spans")(spark, Sf))
    assert(derived.nonEmpty && derived === registered,
      "spans from the incremental store drifted from dedup_substr_winnow_spans")

    // idempotence: re-running batch 1 overwrites its own partitions
    SubstrLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)
    assert(SubstrLayout.fingerprints(spark, root).count() === total,
      "re-appending a batch must not grow the fingerprint log")
    assert(SubstrLayout.hashCounts(spark, root).agg(sum("n")).head.getLong(0) === total,
      "re-appending a batch must not grow the count partials")
    CacheLife.release(spark)
  }

  test("a later batch retroactively adds spans to a doc ingested earlier") {
    import spark.implicits._
    val t = SubstrDedup.W + SubstrDedup.WinnowW - 1
    val shared = (1 to t + 1).map(i => s"r$i").mkString(" ")
    val root = Files.createTempDirectory("graft-sl-retro").toString
    SubstrLayout.materialize(spark,
      Seq((1L, s"base1 base2 $shared base3"),
          (2L, (1 to 20).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text"), root)
    assert(spanSet(SubstrLayout.spans(spark, root)).isEmpty,
      "the base corpus has no duplicated passage yet")
    SubstrLayout.append(spark,
      Seq((3L, s"$shared tail1 tail2")).toDF("doc_id", "text"), root, batchId = 0L)
    val docsWithSpans = spanSet(SubstrLayout.spans(spark, root)).map(_._1)
    assert(docsWithSpans === Set(1L, 3L),
      s"the append must flag BOTH the new doc and the base doc, got $docsWithSpans")
  }

  test("append refuses a doc_id replayed under a NEW batch id") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-sl-guard").toString
    val m = col("doc_id") % 4
    SubstrLayout.materialize(spark, docs.filter(m < 3), root)
    SubstrLayout.append(spark, docs.filter(m === 3), root, batchId = 0L)
    val e = intercept[Exception] {
      SubstrLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("already exists in the fingerprint-log prefix")),
      s"expected the replay refusal, got: ${messages(e).mkString(" | ")}")
  }

  test("compaction folds both logs to one generation; spans unchanged; fsck stays clean") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-sl-fold").toString
    val m = col("doc_id") % 4
    SubstrLayout.materialize(spark, docs.filter(m < 2), root)
    SubstrLayout.append(spark, docs.filter(m === 2), root, batchId = 0L)
    SubstrLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)
    val before = spanSet(SubstrLayout.spans(spark, root))

    val w = SubstrLayout.compact(spark, root)
    assert(w === 1L, s"watermark should cover the last complete batch, got $w")
    Seq("substr_fp", "substr_counts").foreach { store =>
      val dirs = new java.io.File(s"$root/$store").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("__batch_id="))
      assert(dirs.length === 1, s"$store should fold to ONE generation dir, " +
        s"got ${dirs.map(_.getName).toSeq}")
    }
    assert(spanSet(SubstrLayout.spans(spark, root)) === before,
      "compaction must change bytes on disk, never the span view")

    val report = SubstrLayout.fsck(spark, root)
    assert(report.nonEmpty && !report.exists(_._2 == "fail"),
      s"fsck after a clean fold must not fail: $report")
    // and a finalized batch refuses further appends
    val e = intercept[IllegalStateException] {
      SubstrLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)
    }
    assert(e.getMessage.contains("finalized"), e.getMessage)
  }

  test("an all-short-doc corpus stays readable, fsck-clean, and guard-tight") {
    import spark.implicits._
    // every doc under W + WinnowW - 1 = 11 tokens winnows to NOTHING;
    // presence rows (pos = -1) keep the fp log tracking batches and
    // doc ids anyway (round-12 advice: two consecutive all-short
    // appends used to leave the sidecar two records AHEAD of a log
    // that never saw them — fsck then FAILED a healthy store with a
    // wipe-the-sidecar remediation — and a short doc re-appended
    // under a new batch id slipped past the uniqueness refusal)
    val root = Files.createTempDirectory("graft-sl-empty").toString
    SubstrLayout.materialize(spark,
      Seq((1L, "a b c"), (2L, "d e f g h")).toDF("doc_id", "text"), root)
    assert(SubstrLayout.fingerprints(spark, root).count() === 0)
    assert(SubstrLayout.hashCounts(spark, root).count() === 0)
    assert(SubstrLayout.spans(spark, root).count() === 0)
    // TWO consecutive all-short appends: the pre-fix records-ahead
    // false-FAIL shape — the presence rows must keep fsck clean
    SubstrLayout.append(spark,
      Seq((3L, "x1 y1 z1")).toDF("doc_id", "text"), root, batchId = 0L)
    SubstrLayout.append(spark,
      Seq((4L, "x2 y2 z2")).toDF("doc_id", "text"), root, batchId = 1L)
    assert(SubstrLayout.fingerprints(spark, root).count() === 0,
      "presence rows must stay invisible to the fingerprint view")
    val report = SubstrLayout.fsck(spark, root)
    assert(!report.exists(r => r._2 == "fail" || r._2 == "warn"),
      s"an all-short append sequence is healthy — fsck must agree: $report")
    // a short doc re-appended under a NEW batch id refuses like any
    // other: its presence row put it in the log prefix
    val e = intercept[Exception] {
      SubstrLayout.append(spark,
        Seq((3L, "x1 y1 z1")).toDF("doc_id", "text"), root, batchId = 2L)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("already exists in the fingerprint-log prefix")),
      s"expected the replay refusal, got: ${messages(e).mkString(" | ")}")
    // marker rows keep the counts log anchoring the watermark: the
    // fold covers both all-short batches instead of stalling at base
    assert(SubstrLayout.compact(spark, root) === 1L)
    assert(!SubstrLayout.fsck(spark, root).exists(_._2 == "fail"))
  }

  test("the store pins its build width: a mismatched session refuses; reads trust the pin") {
    import spark.implicits._
    // 16 shared tokens: >= W + WinnowW - 1 at W=12, so the winnowed
    // index is guaranteed a shared fingerprint on both sides
    val shared = (1 to 16).map(i => s"p$i").mkString(" ")
    val root = Files.createTempDirectory("graft-sl-wpin").toString
    try {
      spark.conf.set(SubstrDedup.WKey, "12")
      SubstrLayout.materialize(spark,
        Seq((1L, s"x1 x2 $shared x3")).toDF("doc_id", "text"), root)
    } finally spark.conf.unset(SubstrDedup.WKey)
    // session back at the default width: append must refuse loudly,
    // naming both widths — W=50 windows in a W=8 log corrupt every count
    val e = intercept[IllegalStateException] {
      SubstrLayout.append(spark,
        Seq((2L, s"$shared y1")).toDF("doc_id", "text"), root, batchId = 0L)
    }
    assert(e.getMessage.contains("W=12") && e.getMessage.contains("=8"),
      e.getMessage)
    // the refusal runs UNDER the writer lease (round-12 advice): it
    // must leave the winner's pin untouched and release the lease —
    // the matching-width append below proves the release
    assert(SubstrLayout.pinnedW(spark, root) === Some(12),
      "a refused mismatched append must not touch the width pin")
    // ...and BEFORE the sidecar record publishes (round-13 advice): a
    // refused batch must leave no bloom record ahead of the fp log, or
    // fsck WARNs (and two refusals FAIL) a perfectly healthy store
    assert(!SubstrLayout.fsck(spark, root)
      .exists(r => r._1 == "authority" && r._2 != "ok"),
      "a width refusal must not publish a sidecar record ahead of the log")
    // the mismatch is a WARN in fsck (reads still work via the pin)
    assert(SubstrLayout.fsck(spark, root)
      .exists(r => r._1 == "w_pin" && r._2 == "warn"))
    // a session matching the pin appends, and spans merge at the
    // PINNED width (span_end = anchor + 12 - 1 territory, not 8)
    try {
      spark.conf.set(SubstrDedup.WKey, "12")
      SubstrLayout.append(spark,
        Seq((2L, s"$shared y1")).toDF("doc_id", "text"), root, batchId = 0L)
      assert(spanSet(SubstrLayout.spans(spark, root)).map(_._1) === Set(1L, 2L))
      assert(SubstrLayout.fsck(spark, root)
        .exists(r => r._1 == "w_pin" && r._2 == "ok"))
    } finally spark.conf.unset(SubstrDedup.WKey)
    CacheLife.release(spark)
  }

  test("a PRE-KNOB root (no pin) is treated as built at the compiled default, not the session width") {
    import spark.implicits._
    val shared = (1 to 16).map(i => s"q$i").mkString(" ")
    val root = Files.createTempDirectory("graft-sl-prepin").toString
    SubstrLayout.materialize(spark,
      Seq((1L, s"x1 x2 $shared x3")).toDF("doc_id", "text"), root)
    // simulate a store from before the pin existed
    assert(new java.io.File(root, "_substr_w").delete())
    try {
      spark.conf.set(SubstrDedup.WKey, "12")
      // a knobbed session must NOT append its width into the default-
      // width log (round-12 review: the session fallback did exactly
      // that) — the pinless-but-existing store means the compiled default
      val e = intercept[IllegalStateException] {
        SubstrLayout.append(spark,
          Seq((2L, s"$shared y1")).toDF("doc_id", "text"), root, batchId = 0L)
      }
      assert(e.getMessage.contains(s"W=${SubstrDedup.W}") &&
        e.getMessage.contains("=12"), e.getMessage)
    } finally spark.conf.unset(SubstrDedup.WKey)
    // a default-width session appends fine
    SubstrLayout.append(spark,
      Seq((2L, s"$shared y1")).toDF("doc_id", "text"), root, batchId = 0L)
    assert(spanSet(SubstrLayout.spans(spark, root)).map(_._1) === Set(1L, 2L))
  }

  test("a pinned but LOG-LESS root (crashed first append) re-pins to the session width") {
    import spark.implicits._
    // the round-12 advice crash window: a first append dies after its
    // pin write but before any log bytes — nothing was built at the
    // pinned width, so a differently-knobbed retry must re-pin and
    // proceed, not refuse forever
    val root = Files.createTempDirectory("graft-sl-orphanpin").toString
    Files.write(java.nio.file.Paths.get(root, "_substr_w"),
      "12".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val shared = (1 to 16).map(i => s"o$i").mkString(" ")
    SubstrLayout.append(spark,
      Seq((1L, s"x1 $shared x2"), (2L, s"$shared y1"))
        .toDF("doc_id", "text"), root, batchId = 0L)
    assert(SubstrLayout.pinnedW(spark, root) === Some(SubstrDedup.W),
      "the orphan pin must be replaced by the width the logs are actually built at")
    assert(spanSet(SubstrLayout.spans(spark, root)).map(_._1) === Set(1L, 2L))
  }

  test("an empty or garbled width pin refuses naming the file; fsck fails only its w_pin row") {
    import spark.implicits._
    val shared = (1 to 16).map(i => s"g$i").mkString(" ")
    def plant(root: String, content: String): Unit = {
      Files.write(java.nio.file.Paths.get(root, "_substr_w"),
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      new java.io.File(root, "._substr_w.crc").delete() // no stale checksum
    }
    Seq("", "8x#garbled").foreach { content =>
      val root = Files.createTempDirectory("graft-sl-badpin").toString
      SubstrLayout.materialize(spark,
        Seq((1L, s"x1 x2 $shared x3")).toDF("doc_id", "text"), root)
      val healthy = SubstrLayout.fsck(spark, root).map(_._1)
      plant(root, content)
      val refusals = Seq(
        intercept[IllegalStateException](SubstrLayout.append(spark,
          Seq((2L, s"$shared y1")).toDF("doc_id", "text"), root, batchId = 0L)),
        intercept[IllegalStateException](SubstrLayout.spans(spark, root)))
      refusals.foreach(e => assert(e.getMessage.contains(s"$root/_substr_w"), e.getMessage))
      val rows = SubstrLayout.fsck(spark, root)
      assert(rows.filter(_._1 == "w_pin").map(_._2) === Seq("fail"), rows.toString)
      assert(rows.map(_._1) === healthy, "every other substr row must still print")
      assert(rows.filter(_._1 != "w_pin").forall(_._2 == "ok"), rows.toString)
    }
    // pin but no logs (a crashed first append): a garbled pin re-pins
    val root = Files.createTempDirectory("graft-sl-badpin-nolog").toString
    plant(root, "garbled")
    SubstrLayout.append(spark,
      Seq((1L, s"x1 $shared x2"), (2L, s"$shared y1")).toDF("doc_id", "text"), root,
      batchId = 0L)
    assert(SubstrLayout.pinnedW(spark, root) === Some(SubstrDedup.W))
    assert(spanSet(SubstrLayout.spans(spark, root)).map(_._1) === Set(1L, 2L))
    CacheLife.release(spark)
  }

  test("a zero-doc append is a no-op recorded nowhere") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-sl-zero").toString
    SubstrLayout.materialize(spark, docs, root)
    val before = new java.io.File(root, "_id_bloom").listFiles().map(_.getName).toSet
    // letting an empty batch through would publish a sidecar record
    // (and a counts marker) with no fp partition — the records-ahead
    // asymmetry again (round-12 review)
    SubstrLayout.append(spark, docs.limit(0), root, batchId = 0L)
    assert(new java.io.File(root, "_id_bloom").listFiles().map(_.getName).toSet
      === before, "an empty batch must not publish a sidecar record")
    assert(!new java.io.File(root, "substr_counts/__batch_id=0").exists(),
      "an empty batch must not write a counts marker")
    assert(!SubstrLayout.fsck(spark, root).exists(r =>
      r._2 == "fail" || r._2 == "warn"))
    CacheLife.release(spark)
  }

  private def writeOneFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-ss-part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("streamed arrivals on an EMPTY root reach batch parity; replay adds nothing") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val m = col("doc_id") % 3
    val root = Files.createTempDirectory("graft-ss-root").toString
    val qdir = Files.createTempDirectory("graft-ss-q")
    writeOneFile(docs.filter(m === 0), qdir, "arrivals1.parquet")
    writeOneFile(docs.filter(m === 1), qdir, "arrivals2.parquet")
    writeOneFile(docs.filter(m === 2), qdir, "arrivals3.parquet")

    def drain(checkpoint: String): Unit = {
      val q = IngestSink.start(IngestSink.read(spark, qdir.toString), checkpoint)(
        SubstrLayout.append(_, _, root, _))
      try q.processAllAvailable() finally q.stop()
    }
    drain(Files.createTempDirectory("graft-ss-ck").toString + "/ck")

    val total = SubstrLayout.fingerprints(spark, root).count()
    assert(total === SubstrDedup.winnowFpOver(SubstrDedup.gramsOver(docs)).count())
    val streamed = spanSet(SubstrLayout.spans(spark, root))
    val registered = spanSet(SubstrDedup.queries("dedup_substr_winnow_spans")(spark, Sf))
    assert(streamed === registered,
      "spans from the streamed store drifted from dedup_substr_winnow_spans")

    drain(Files.createTempDirectory("graft-ss-ck2").toString + "/ck")
    assert(SubstrLayout.fingerprints(spark, root).count() === total,
      "replay with a wiped checkpoint grew the fingerprint log")
    assert(SubstrLayout.hashCounts(spark, root).agg(sum("n")).head.getLong(0) === total,
      "replay with a wiped checkpoint grew the count partials")
    CacheLife.release(spark)
  }
}
