package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilarityQueries
import graft.streaming.VectorStream

/** The streaming retrieval endpoint: arriving query micro-batches must
  * produce exactly the batch probe's results, and a full replay (wiped
  * checkpoint) must change nothing — the probe is deterministic and
  * each batch overwrites its own partition.
  */
class VectorStreamSpec extends SparkSpec {

  private def writeOneFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-vq-part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("streamed query batches probe the IVF index with batch parity and idempotent replay") {
    val qdir = Files.createTempDirectory("graft-vq")
    val out = Files.createTempDirectory("graft-vq-out").toString + "/results"
    val ckpt = Files.createTempDirectory("graft-vq-ckpt").toString + "/ckpt"

    // five corpus vectors as the arriving query set, in two files → two
    // micro-batches (maxFilesPerTrigger=1)
    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").between(10, 14))
      .select(col("vec_id"), col("embedding"))
    writeOneFile(queries.filter(col("vec_id") < 12), qdir, "q1.parquet")
    writeOneFile(queries.filter(col("vec_id") >= 12), qdir, "q2.parquet")

    def drain(checkpoint: String): Set[(Long, Long, Double, Int)] = {
      val q = VectorStream.probeSink(
        VectorStream.read(spark, qdir.toString), Sf, out, checkpoint)
      try q.processAllAvailable() finally q.stop()
      VectorStream.results(spark, out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    }

    val streamed = drain(ckpt)
    val batch = SimilarityQueries.probeQuerySet(spark, Sf,
        queries.select(col("vec_id").as("qid"), col("embedding").as("qv")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size} rows")
    assert(streamed.nonEmpty)

    // full replay: a wiped checkpoint reprocesses every file as a fresh
    // batch sequence; deterministic probe + per-batch partition
    // overwrite ⇒ byte-identical result table
    val replayed = drain(Files.createTempDirectory("graft-vq-ckpt2").toString + "/ckpt")
    assert(replayed == streamed, "replay with a fresh checkpoint changed the results")

    // round-6 advice: foreachBatch registers the IVF index under a
    // per-stream session CLONE; CacheLife keys by SparkContext, so
    // releasing the OUTER session must still unpersist those entries —
    // otherwise every stream (re)start leaks an index copy
    CacheLife.release(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filter(!_.isCheckpointed)
    assert(leaked.isEmpty,
      s"release(outer) must also free the streaming clone's cache entries; " +
        s"still persisted: ${leaked.map(_.name).mkString(", ")}")
  }

  test("streamed vector ingest grows the layout to rebuild parity; replay adds nothing") {
    val tmp = Files.createTempDirectory("graft-vi").toString
    val (base, full) = (s"$tmp/base", s"$tmp/full")
    val hold = col("vec_id") % 7 === 5
    graft.sources.VectorLayout.materializeWhere(spark, Sf, base, !hold)
    graft.sources.VectorLayout.materialize(spark, Sf, full)

    val arrivals = Tables.embeddings(spark, Sf).filter(hold)
      .select(col("vec_id"), col("embedding"))
    val adir = Files.createTempDirectory("graft-vi-a")
    writeOneFile(arrivals.filter(col("vec_id") < 250), adir, "a1.parquet")
    writeOneFile(arrivals.filter(col("vec_id") >= 250), adir, "a2.parquet")

    def drain(checkpoint: String): Unit = {
      val q = VectorStream.ingestSink(
        VectorStream.read(spark, adir.toString), Sf, base, checkpoint)
      try q.processAllAvailable() finally q.stop()
    }
    drain(Files.createTempDirectory("graft-vi-ck").toString + "/ck")

    def layoutRows(dir: String) = graft.sources.VectorLayout.vectors(spark, dir)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val streamed = layoutRows(base)
    assert(streamed.toSet === layoutRows(full).toSet,
      "streamed layout drifted from the from-scratch rebuild")
    assert(streamed.size === streamed.toSet.size, "duplicate vectors in the layout")

    // replay from a wiped checkpoint: same files, same batch ids, each
    // overwriting its own (cell, batch) partitions — nothing changes
    drain(Files.createTempDirectory("graft-vi-ck2").toString + "/ck")
    assert(layoutRows(base).sorted === streamed.sorted,
      "replay with a fresh checkpoint changed the layout")
    CacheLife.release(spark)
  }

  test("a wiped-checkpoint replay reprobes the PINNED snapshot, not the grown layout") {
    val layout = Files.createTempDirectory("graft-vqp").toString + "/vectors"
    graft.sources.VectorLayout.materialize(spark, Sf, layout)
    val qdir = Files.createTempDirectory("graft-vqp-q")
    val out = Files.createTempDirectory("graft-vqp-out").toString + "/results"

    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").between(20, 22))
      .select(col("vec_id"), col("embedding"))
    writeOneFile(queries, qdir, "q1.parquet")

    def drain(outDir: String, checkpoint: String): Set[(Long, Long, Double, Int)] = {
      val q = VectorStream.probeLayoutSink(
        VectorStream.read(spark, qdir.toString), Sf, layout, outDir, checkpoint)
      try q.processAllAvailable() finally q.stop()
      VectorStream.results(spark, outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    }
    val first = drain(out, Files.createTempDirectory("graft-vqp-ck").toString + "/ck")

    // grow the layout with EXACT COPIES of query 20's vector under new
    // ids — cos 1.0, so any probe over the grown layout must rank them
    // at the top and change the result set
    val clones = Tables.embeddings(spark, Sf).filter(col("vec_id") === 20)
      .select(explode(sequence(lit(2000000L), lit(2000004L))).as("vec_id"),
        col("embedding"))
    graft.sources.VectorLayout.append(spark, Sf, layout, clones, batchId = 7L)

    // wiped-checkpoint replay into the SAME output: the pinned snapshot
    // (recorded at the first attempt, beside the results) keeps the
    // replay byte-equal — round-7 advice: without the pin it would
    // reprobe the grown layout and rewrite history
    val replayed = drain(out, Files.createTempDirectory("graft-vqp-ck2").toString + "/ck")
    assert(replayed === first,
      "replay must reproduce the pinned snapshot, not the grown layout")

    // whereas a FRESH stream (new results table, new pin) sees the clones
    val fresh = drain(Files.createTempDirectory("graft-vqp-out2").toString + "/results",
      Files.createTempDirectory("graft-vqp-ck3").toString + "/ck")
    assert(fresh.exists { case (_, vid, _, _) => vid >= 2000000L },
      "a fresh stream must probe the grown layout and surface the clones")
    assert(fresh !== first)
    CacheLife.release(spark)
  }

  test("pin records prune to the committed watermark; live batches keep pinning; finalized replays refuse") {
    val layout = Files.createTempDirectory("graft-vqm").toString + "/vectors"
    graft.sources.VectorLayout.materialize(spark, Sf, layout)
    val qdir = Files.createTempDirectory("graft-vqm-q")
    val out = Files.createTempDirectory("graft-vqm-out").toString + "/results"
    val ckpt = Files.createTempDirectory("graft-vqm-ck").toString + "/ck"
    val wmDir = new java.io.File(out + "__watermarks")
    def sidecar() = wmDir.listFiles().toSeq.map(_.getName)
      .filterNot(_.startsWith(".")).sorted // local-FS .crc shadows

    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").between(20, 23))
      .select(col("vec_id"), col("embedding"))
    // two files → two micro-batches (maxFilesPerTrigger=1)
    writeOneFile(queries.filter(col("vec_id") < 22), qdir, "q1.parquet")
    writeOneFile(queries.filter(col("vec_id") === 22), qdir, "q2.parquet")

    def drain(checkpoint: String): Set[(Long, Long, Double, Int)] = {
      val q = VectorStream.probeLayoutSink(
        VectorStream.read(spark, qdir.toString), Sf, layout, out, checkpoint)
      try q.processAllAvailable() finally q.stop()
      VectorStream.results(spark, out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    }
    val first = drain(ckpt)
    assert(sidecar() === Seq("wm-0", "wm-1"))

    // maintenance: records the checkpoint has outlived (batch < committed
    // watermark 1) are reclaimed; the floor marker publishes first
    assert(VectorStream.pruneWatermarks(spark, out, ckpt) === Seq(0L))
    assert(sidecar() === Seq("_pruned-1", "wm-1"),
      "only records >= the committed watermark may survive a prune")
    // an all-digit floor past Long range is a stray: the prune and the
    // next batch's pin ignore it rather than overflow on it
    val stray = new java.io.File(wmDir, "_pruned-99999999999999999999")
    assert(stray.createNewFile())
    assert(VectorStream.pruneWatermarks(spark, out, ckpt) === Nil,
      "a re-run reclaims nothing further")

    // the stream keeps serving on its intact checkpoint: a NEW batch
    // pins fresh even though the layout grew after the prune
    val clones = Tables.embeddings(spark, Sf).filter(col("vec_id") === 23)
      .select(explode(sequence(lit(3000000L), lit(3000004L))).as("vec_id"),
        col("embedding"))
    graft.sources.VectorLayout.append(spark, Sf, layout, clones, batchId = 7L)
    writeOneFile(queries.filter(col("vec_id") === 23), qdir, "q3.parquet")
    val grown = drain(ckpt)
    assert(stray.delete())
    assert(sidecar() === Seq("_pruned-1", "wm-1", "wm-2"),
      "a live continuation must pin its new batch beside the survivors")
    assert(grown.filter(_._1 <= 22) === first,
      "committed batches' results must not change across prune + growth")
    assert(grown.exists { case (qid, vid, _, _) => qid === 23L && vid >= 3000000L },
      "the new batch must probe the grown layout")

    // a wiped-checkpoint replay would re-run batch 0, whose record is
    // gone and below the floor — re-pinning against today's layout
    // would rewrite history, so it must refuse loudly
    val e = intercept[Exception] {
      drain(Files.createTempDirectory("graft-vqm-ck2").toString + "/ck")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("below the pin-prune watermark")),
      messages(e).mkString(" | "))
    CacheLife.release(spark)
  }

  test("pin fsck: healthy sidecar is ok; each planted debris/corruption reads at its severity") {
    val layout = Files.createTempDirectory("graft-vqf").toString + "/vectors"
    graft.sources.VectorLayout.materialize(spark, Sf, layout)
    val qdir = Files.createTempDirectory("graft-vqf-q")
    val out = Files.createTempDirectory("graft-vqf-out").toString + "/results"
    val ckpt = Files.createTempDirectory("graft-vqf-ck").toString + "/ck"
    val wmDir = new java.io.File(out + "__watermarks")

    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").between(20, 22))
      .select(col("vec_id"), col("embedding"))
    writeOneFile(queries.filter(col("vec_id") < 22), qdir, "q1.parquet")
    writeOneFile(queries.filter(col("vec_id") === 22), qdir, "q2.parquet")
    val q = VectorStream.probeLayoutSink(
      VectorStream.read(spark, qdir.toString), Sf, layout, out, ckpt)
    try q.processAllAvailable() finally q.stop()

    def rows() = VectorStream.fsckPins(spark, out, ckpt)
    assert(rows() === Seq(("pins", "ok", "2 pin record(s), committed batch 1")),
      s"fresh sidecar must be clean: ${rows()}")

    // a young temp may be a live writer's: no warn; aged past the grace
    // it is a crashed writer's: warn, and the prune sweeps it
    val temp = new java.io.File(wmDir, "wm-1.tmp-deadbeef")
    assert(temp.createNewFile())
    assert(!rows().exists(_._1 == "pins.stage"), s"a fresh temp must not warn: ${rows()}")
    assert(temp.setLastModified(
      System.currentTimeMillis() - 2 * graft.sources.Sidecar.StageGraceMs))
    assert(rows().exists(r => r._1 == "pins.stage" && r._2 == "warn"))
    VectorStream.pruneWatermarks(spark, out, ckpt)
    assert(!temp.exists(), "an aged temp must be swept by the prune")
    assert(!rows().exists(_._1 == "pins.stage"), "swept temp must clear the warn")

    // a record pinning a GC'd layout dir: the one state that breaks a
    // replay outright — fail, with the remediation named
    val orphan = new java.io.File(wmDir, "wm-9")
    java.nio.file.Files.writeString(orphan.toPath, "/nonexistent/layout/v9\n5\n")
    try {
      val r = rows()
      assert(r.exists(x => x._1 == "pins" && x._2 == "fail" &&
        x._3.contains("no longer exists")), s"GC'd pin must fail: $r")
      assert(r.exists(x => x._2 == "warn" && x._3.contains("ahead of committed")),
        "a record past the checkpoint also warns as foreign")
    } finally { orphan.delete(); () }

    // a torn (malformed) record self-heals at the batch's next attempt:
    // warn, never fail
    val torn = new java.io.File(wmDir, "wm-1")
    val saved = java.nio.file.Files.readAllBytes(torn.toPath)
    java.nio.file.Files.writeString(torn.toPath, "half a record")
    try {
      val r = rows()
      assert(r.exists(x => x._1 == "pins" && x._2 == "warn" &&
        x._3.contains("malformed")), s"torn record must warn: $r")
      assert(!r.exists(_._2 == "fail"))
    } finally { java.nio.file.Files.write(torn.toPath, saved); () }
    CacheLife.release(spark)
  }

  test("layout-backed streaming probe matches the batch probe over the on-disk index") {
    val layout = Files.createTempDirectory("graft-vql").toString + "/vectors"
    graft.sources.VectorLayout.materialize(spark, Sf, layout)
    val qdir = Files.createTempDirectory("graft-vql-q")
    val out = Files.createTempDirectory("graft-vql-out").toString + "/results"
    val ckpt = Files.createTempDirectory("graft-vql-ckpt").toString + "/ckpt"

    val queries = Tables.embeddings(spark, Sf)
      .filter(col("vec_id").between(20, 22))
      .select(col("vec_id"), col("embedding"))
    writeOneFile(queries, qdir, "q1.parquet")

    val q = VectorStream.probeLayoutSink(
      VectorStream.read(spark, qdir.toString), Sf, layout, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = VectorStream.results(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val batch = graft.sources.VectorLayout.probeQuerySet(spark, Sf, layout,
        queries.select(col("vec_id").as("qid"), col("embedding").as("qv")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"layout-backed stream drifted: ${streamed.size} vs ${batch.size} rows")
    CacheLife.release(spark)
  }
}
