package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{DedupLayout, IdAuthority, SubstrLayout, TextLayout}

/** The index-sized id-authority behind the append guards (round-8
  * advice: the first guard form ran a corpus-wide distinct on every
  * append). The layout specs already prove refusal and same-batch
  * replay; this suite pins the COST and LIFECYCLE contracts: a clean
  * bloom-guarded batch never evaluates the exact prefix, the trust
  * switch skips the check, a lost sidecar degrades to the exact path
  * and re-bootstraps, and compaction prunes finalized records.
  */
class IdAuthoritySpec extends SparkSpec {

  private def ids(lo: Long, hi: Long) = {
    import spark.implicits._
    (lo until hi).toDF("doc_id")
  }

  private def bloomFiles(root: String): Seq[String] = {
    val d = new java.io.File(root, "_id_bloom")
    if (!d.exists()) Nil
    else d.listFiles().toSeq.map(_.getName).filter(_.startsWith("bloom-")).sorted
  }

  test("a clean bloom-guarded batch never evaluates the exact prefix") {
    val root = Files.createTempDirectory("graft-ida-lazy").toString
    IdAuthority.recordBase(spark, root, ids(0, 1000), baseBatch = -1L)
    // by-name priorIds: forcing it is the corpus scan the sidecar
    // exists to avoid — a clean, within-capacity batch must not
    IdAuthority.guardAndRecord(spark, root, batchId = 0L,
      arrivalIds = ids(5000, 5100),
      priorIds = sys.error("clean batch must not evaluate the exact prefix"),
      who = "spec", what = "spec prefix")
    IdAuthority.completeAppend(spark, root) // lease held through the caller's writes
    assert(bloomFiles(root) === Seq("bloom-0", "bloom-m1"))
  }

  test("an all-digit record name past Long range is a stray, not an overflow") {
    val root = Files.createTempDirectory("graft-ida-stray").toString
    IdAuthority.recordBase(spark, root, ids(0, 1000), baseBatch = -1L)
    assert(new java.io.File(root, "_id_bloom/bloom-99999999999999999999").createNewFile())
    // the guard still finds bloom-m1, so the clean batch stays lazy
    IdAuthority.guardAndRecord(spark, root, batchId = 0L,
      arrivalIds = ids(5000, 5100),
      priorIds = sys.error("a stray name must not hide the base record"),
      who = "spec", what = "spec prefix")
    IdAuthority.completeAppend(spark, root)
    assert(IdAuthority.prune(spark, root, watermark = 0L) === Seq(-1L))
    assert(bloomFiles(root) === Seq("bloom-0", "bloom-99999999999999999999"))
  }

  test("a duplicated id refuses through the bloom with an exact confirm") {
    val root = Files.createTempDirectory("graft-ida-dup").toString
    IdAuthority.recordBase(spark, root, ids(0, 1000), baseBatch = -1L)
    val e = intercept[IllegalStateException] {
      IdAuthority.guardAndRecord(spark, root, batchId = 0L,
        arrivalIds = ids(999, 1010), priorIds = ids(0, 1000),
        who = "spec", what = "spec prefix")
    }
    assert(e.getMessage.contains("already exists in the spec prefix"),
      e.getMessage)
    // a bloom HIT that the exact store disowns is a false positive (or
    // a crashed append's over-approximation) and must pass
    IdAuthority.guardAndRecord(spark, root, batchId = 0L,
      arrivalIds = ids(999, 1010), priorIds = ids(0, 999),
      who = "spec", what = "spec prefix")
    IdAuthority.completeAppend(spark, root)
  }

  Seq[(String, Array[Byte] => Array[Byte])](
    "garbled" -> (_.map(b => (~b).toByte)),
    "truncated" -> (b => b.take(b.length / 2))
  ).foreach { case (how, tear) =>
    test(s"a $how newest single-file record: fsck names it, the guard falls back to the exact path") {
      val root = Files.createTempDirectory("graft-ida-torn").toString
      IdAuthority.recordBase(spark, root, ids(0, 1000), baseBatch = -1L)
      IdAuthority.guardAndRecord(spark, root, batchId = 0L, arrivalIds = ids(1000, 1100),
        priorIds = ids(0, 1000), who = "spec", what = "spec prefix")
      IdAuthority.completeAppend(spark, root)
      // without its .crc the record parser itself meets the torn bytes
      val rec = Paths.get(root, "_id_bloom", "bloom-0")
      Files.write(rec, tear(Files.readAllBytes(rec)))
      Files.delete(Paths.get(root, "_id_bloom", ".bloom-0.crc"))
      val rows = IdAuthority.fsck(spark, root, Some(0L))
      assert(rows.exists(r => r._2 == "fail" && r._3.contains("bloom-0 unreadable")), rows)
      val e = intercept[IllegalStateException] {
        IdAuthority.guardAndRecord(spark, root, batchId = 1L, arrivalIds = ids(1099, 1110),
          priorIds = ids(0, 1100), who = "spec", what = "spec prefix")
      }
      assert(e.getMessage.contains("already exists in the spec prefix"), e.getMessage)
      IdAuthority.guardAndRecord(spark, root, batchId = 1L, arrivalIds = ids(2000, 2010),
        priorIds = ids(0, 1100), who = "spec", what = "spec prefix")
      IdAuthority.completeAppend(spark, root)
      assert(bloomFiles(root) === Seq("bloom-0", "bloom-1", "bloom-m1"))
    }
  }

  test("a batch that repeats a doc_id refuses in every document layout, naming the id") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val m = col("doc_id") % 4
    val batch = docs.filter(m === 2)
    val id = batch.agg(min("doc_id")).head.getLong(0)
    val twice = batch.unionByName(batch.filter(col("doc_id") === id))
    for (layout <- Seq(DedupLayout, TextLayout, SubstrLayout)) {
      val root = Files.createTempDirectory("graft-ida-repeat").toString
      layout.materialize(spark, docs.filter(m < 2), root)
      val e = intercept[IllegalStateException] {
        layout.append(spark, twice, root, batchId = 0L)
      }
      assert(e.getMessage.contains(s"doc_id $id appears more than once in the batch"),
        s"$layout: ${e.getMessage}")
      assert(!bloomFiles(root).contains("bloom-0"), s"$layout: a refused batch was recorded")
      layout.append(spark, batch, root, batchId = 0L) // the clean batch still appends
    }
    // a trusted upstream's batch is accepted as it comes
    val root = Files.createTempDirectory("graft-ida-repeat-trust").toString
    IdAuthority.recordBase(spark, root, ids(0, 1000), baseBatch = -1L)
    withConf(IdAuthority.TrustKey -> "true") {
      IdAuthority.guardAndRecord(spark, root, batchId = 0L,
        arrivalIds = ids(5000, 5100).union(ids(5000, 5001)), priorIds = ids(0, 1000),
        who = "spec", what = "spec prefix")
      IdAuthority.completeAppend(spark, root)
    }
    assert(bloomFiles(root).contains("bloom-0"))
    CacheLife.release(spark)
  }

  test("trust key skips the check; recording continues") {
    val root = Files.createTempDirectory("graft-ida-trust").toString
    IdAuthority.recordBase(spark, root, ids(0, 1000), baseBatch = -1L)
    withConf(IdAuthority.TrustKey -> "true") {
      // duplicate id sails through unchecked (T3 upstream-deduped)
      IdAuthority.guardAndRecord(spark, root, batchId = 0L,
        arrivalIds = ids(500, 1500), priorIds = ids(0, 1000),
        who = "spec", what = "spec prefix")
      IdAuthority.completeAppend(spark, root)
    }
    assert(bloomFiles(root).contains("bloom-0"),
      "trusted appends must still record, so re-enabling the guard needs no rebuild")
    // guard re-enabled: the trusted batch's ids are in the authority
    val e = intercept[IllegalStateException] {
      IdAuthority.guardAndRecord(spark, root, batchId = 1L,
        arrivalIds = ids(1400, 1450), priorIds = ids(0, 1500),
        who = "spec", what = "spec prefix")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("TextLayout append: lost sidecar degrades to the exact path and re-bootstraps") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-ida-boot").toString
    val m = col("doc_id") % 4
    TextLayout.materialize(spark, docs.filter(m < 2), root)
    TextLayout.append(spark, docs.filter(m === 2), root, batchId = 0L)
    // simulate a pre-upgrade root / pruned history: drop the sidecar
    val d = new java.io.File(root, "_id_bloom")
    d.listFiles().foreach(_.delete()); d.delete()
    // the exact fallback still refuses a duplicate...
    val e = intercept[Exception] {
      TextLayout.append(spark, docs.filter(m === 2), root, batchId = 1L)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("already exists in the token-log prefix")),
      messages(e).mkString(" | "))
    // ...and a clean append re-bootstraps the authority
    TextLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)
    assert(bloomFiles(root) === Seq("bloom-1"))
    CacheLife.release(spark)
  }

  test("sharded and single-file authorities give identical decisions; no single-task rebuild above threshold") {
    val single = Files.createTempDirectory("graft-ida-1f").toString
    val sharded = Files.createTempDirectory("graft-ida-sh").toString
    IdAuthority.recordBase(spark, single, ids(0, 1000), baseBatch = -1L)
    withConf(IdAuthority.ShardCapacityKey -> "32768") {
      // capacity max(2n, MinCapacity) = 65536 > 32768 => 2 shards
      IdAuthority.recordBase(spark, sharded, ids(0, 1000), baseBatch = -1L)
      val rec = new java.io.File(sharded, "_id_bloom/bloom-m1.d")
      assert(rec.isDirectory,
        "above the shard threshold the record must be a parquet directory")
      val shards = spark.read.parquet(rec.toString)
        .select("shard").distinct().collect().map(_.getInt(0)).toSet
      assert(shards === Set(0, 1),
        s"per-shard blooms must spread over both shards, got $shards")

      for (root <- Seq(single, sharded)) {
        // clean batch: passes WITHOUT evaluating the exact prefix —
        // the sharded cogroup probe and merge are record-sized jobs
        IdAuthority.guardAndRecord(spark, root, batchId = 0L,
          arrivalIds = ids(5000, 5100),
          priorIds = sys.error("clean batch must not evaluate the exact prefix"),
          who = "spec", what = "spec prefix")
        IdAuthority.completeAppend(spark, root)
        // duplicate: refuses through the bloom with an exact confirm
        val e = intercept[IllegalStateException] {
          IdAuthority.guardAndRecord(spark, root, batchId = 1L,
            arrivalIds = ids(999, 1010),
            priorIds = ids(0, 1000).union(ids(5000, 5100)),
            who = "spec", what = "spec prefix")
        }
        assert(e.getMessage.contains("already exists in the spec prefix"),
          e.getMessage)
        // bloom hit the exact store disowns: a false positive passes
        IdAuthority.guardAndRecord(spark, root, batchId = 1L,
          arrivalIds = ids(999, 1010), priorIds = ids(0, 999),
          who = "spec", what = "spec prefix")
        IdAuthority.completeAppend(spark, root)
      }
      assert(new java.io.File(sharded, "_id_bloom/bloom-0.d").isDirectory &&
        new java.io.File(sharded, "_id_bloom/bloom-1.d").isDirectory,
        "sharded appends must stay in the sharded format")

      // overflow rebuild: stays sharded at the doubled capacity and the
      // grown authority still refuses an original base id
      val prefix = ids(0, 1010).union(ids(5000, 5100))
      IdAuthority.guardAndRecord(spark, sharded, batchId = 2L,
        arrivalIds = ids(100000, 170000), priorIds = prefix,
        who = "spec", what = "spec prefix")
      IdAuthority.completeAppend(spark, sharded)
      assert(new java.io.File(sharded, "_id_bloom/bloom-2.d").isDirectory)
      val e2 = intercept[IllegalStateException] {
        IdAuthority.guardAndRecord(spark, sharded, batchId = 3L,
          arrivalIds = ids(500, 501),
          priorIds = prefix.union(ids(100000, 170000)),
          who = "spec", what = "spec prefix")
      }
      assert(e2.getMessage.contains("already exists"), e2.getMessage)
    }
  }

  test("materialize over a used root wipes the previous life's records") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-ida-rebuild").toString
    val m = col("doc_id") % 4
    // first life: base + one append, leaving bloom-m1 and bloom-0
    TextLayout.materialize(spark, docs.filter(m === 0), root)
    TextLayout.append(spark, docs.filter(m === 1), root, batchId = 0L)
    // second life: rebuild with a DIFFERENT base corpus
    TextLayout.materialize(spark, docs.filter(m === 2), root)
    assert(bloomFiles(root) === Seq("bloom-m1"),
      "a rebuild must wipe the old life's sidecar: a stale bloom-0 would " +
        "outrank the new base record as the guard authority")
    // the stale bloom-0 lacked the new base ids — had it survived, this
    // duplicate of the new base would pass the bloom silently; the
    // fresh authority refuses it
    val e = intercept[IllegalStateException] {
      TextLayout.append(spark, docs.filter(m === 2), root, batchId = 1L)
    }
    assert(e.getMessage.contains("already exists in the token-log prefix"),
      e.getMessage)
    CacheLife.release(spark)
  }

  test("a second concurrent appender refuses while the writer lease is held") {
    val root = Files.createTempDirectory("graft-ida-lease").toString
    IdAuthority.recordBase(spark, root, ids(0, 1000), baseBatch = -1L)
    // writer A is mid-append: its create-exclusive lease is on disk
    val lease = new java.io.File(root, "_id_bloom/_writer-lease")
    assert(lease.createNewFile())
    val e = intercept[IllegalStateException] {
      IdAuthority.guardAndRecord(spark, root, batchId = 0L,
        arrivalIds = ids(5000, 5100), priorIds = ids(0, 1000),
        who = "spec-writer-B", what = "spec prefix")
    }
    assert(e.getMessage.contains("writer lease") &&
      e.getMessage.contains("single-writer"), e.getMessage)
    assert(lease.exists(), "the refused appender must not break a live lease")
    // nothing was recorded: the refused append left no bloom-0
    assert(bloomFiles(root) === Seq("bloom-m1"))

    // writer A crashed: once the lease outlives the liveness grace the
    // next append breaks it and proceeds — and the lease stays HELD
    // past guardAndRecord, because the record-ahead-of-log window only
    // closes when the caller's store writes land (round-11 review: a
    // record-publish-time release serialized only the guard step, so
    // two appenders could still each crash post-record pre-log and
    // manufacture the exact two-ahead corruption the lease exists to
    // prevent)
    assert(lease.setLastModified(System.currentTimeMillis() -
      2 * graft.sources.Sidecar.StageGraceMs))
    IdAuthority.guardAndRecord(spark, root, batchId = 0L,
      arrivalIds = ids(5000, 5100), priorIds = ids(0, 1000),
      who = "spec-writer-B", what = "spec prefix")
    assert(bloomFiles(root) === Seq("bloom-0", "bloom-m1"))
    assert(lease.exists(),
      "the lease must be HELD through the caller's store writes")
    IdAuthority.completeAppend(spark, root)
    assert(!lease.exists(), "completeAppend releases after the last log write")
  }

  test("a layout append holds the lease across its log writes and releases at the end") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-ida-lease2").toString
    val m = col("doc_id") % 2
    TextLayout.materialize(spark, docs.filter(m === 0), root)
    TextLayout.append(spark, docs.filter(m === 1), root, batchId = 0L)
    val lease = new java.io.File(root, "_id_bloom/_writer-lease")
    assert(!lease.exists(), "a completed append leaves no lease behind")
    // a guard REFUSAL is not an in-flight append: the lease releases
    // before the refusal surfaces, so a corrected retry needs no grace
    intercept[Exception] {
      TextLayout.append(spark, docs.filter(m === 1), root, batchId = 1L)
    }
    assert(!lease.exists(), "a refused append must not leave the lease held")
  }

  test("compaction prunes the finalized records; the newest survives") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-ida-prune").toString
    val m = col("doc_id") % 4
    TextLayout.materialize(spark, docs.filter(m === 0), root)
    TextLayout.append(spark, docs.filter(m === 1), root, batchId = 0L)
    TextLayout.append(spark, docs.filter(m === 2), root, batchId = 1L)
    assert(bloomFiles(root) === Seq("bloom-0", "bloom-1", "bloom-m1"))
    val w = TextLayout.compact(spark, root)
    assert(w === 1L)
    assert(bloomFiles(root) === Seq("bloom-1"),
      "records below the compaction watermark serve nobody — finalized " +
        "batches can never replay")
    // the surviving record still guards the next append
    val e = intercept[IllegalStateException] {
      TextLayout.append(spark, docs.filter(m === 2), root, batchId = 2L)
    }
    assert(e.getMessage.contains("already exists in the token-log prefix"),
      e.getMessage)
    CacheLife.release(spark)
  }

  test("a real FS fault whose message contains 'exist' rethrows — not a phantom held lease") {
    // a faulting scheme whose create always fails with a
    // does-not-exist message while NO lease file is present: message
    // sniffing alone classified this as lease-held and surfaced the
    // misleading single-writer refusal (round-12 advice); the fix
    // believes the message only when the lease file is ACTUALLY there
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfault.impl", classOf[FaultCreateFs].getName)
    val local = Files.createTempDirectory("graft-ida-fault").toString
    val e = intercept[java.io.IOException] {
      IdAuthority.guardAndRecord(spark, s"graftfault://$local", batchId = 0L,
        arrivalIds = ids(0, 10), priorIds = ids(0, 0),
        who = "spec-fault", what = "spec prefix")
    }
    assert(e.getMessage.contains("Parent directory does not exist"),
      s"the underlying FS fault must surface as itself: $e")
  }
}

/** Test-only Hadoop FileSystem whose create ALWAYS fails with a
  * does-not-exist IOException (the real-fault shape the round-12
  * advice names: sidecar dir deleted concurrently) while the target
  * file stays absent — everything else behaves as the local FS.
  */
class FaultCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfault:///")
  private def boom(f: org.apache.hadoop.fs.Path): Nothing =
    throw new java.io.IOException(
      s"Parent directory does not exist: ${f.getParent}")
  // RawLocalFileSystem short-circuits the create chain at the 6-arg
  // non-permission overload — intercept both it and the permission one
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = boom(f)
  override def create(f: org.apache.hadoop.fs.Path,
                      permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = boom(f)
}
