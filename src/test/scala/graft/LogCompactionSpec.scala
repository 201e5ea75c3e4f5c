package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.sources.{DedupLayout, LogCompaction, TextLayout, VectorLayout}

/** The log-compaction protocol over the three incremental stores:
  * folding the batch log into one generation partition must change
  * BYTES ON DISK AND NOTHING ABOVE THEM — same pairs, labels, vocab,
  * probes; future appends mine the same candidates — while the
  * partition count actually collapses, unpublished folds stay
  * invisible, and finalized batches refuse replay loudly.
  */
class LogCompactionSpec extends SparkSpec {

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's `__batch_id=` partition dir names (one level down for
    * `nestedUnder`, e.g. a cell dir of the vector layout).
    */
  private def batchDirs(dir: String, nestedUnder: Option[String] = None): Seq[String] = {
    val f = fs(dir)
    val top = f.listStatus(new Path(dir)).toSeq.map(_.getPath)
    val scan = nestedUnder.fold(top)(pfx =>
      top.filter(_.getName.startsWith(pfx + "="))
        .flatMap(p => f.listStatus(p).toSeq.map(_.getPath)))
    scan.map(_.getName).filter(_.startsWith("__batch_id=")).distinct.sorted
  }

  private def pairSet(root: String): Set[(Long, Long)] =
    DedupLayout.pairs(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def labelSet(root: String): Set[(Long, Long)] =
    DedupLayout.labels(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dedup: folding changes nothing above the bytes; future appends and refusals intact") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-lc-dedup").toString
    val scratch = Files.createTempDirectory("graft-lc-dedup-full").toString
    val m = col("doc_id") % 5

    DedupLayout.materialize(spark, docs.filter(m < 3), root)
    DedupLayout.append(spark, docs.filter(m === 3), root, batchId = 0L)
    val pairsBefore = pairSet(root)

    // an UNPUBLISHED fold (crash before the marker) must be invisible:
    // plant a generation partition + a stage dir by hand
    val pairsDir = root + "/pairs"
    DedupLayout.pairs(spark, root).limit(3)
      .withColumn("__batch_id", lit(-9L))
      .write.mode("append").partitionBy("__batch_id").parquet(pairsDir)
    fs(pairsDir).mkdirs(new Path(pairsDir + "/.compact-crashed"))
    assert(pairSet(root) === pairsBefore,
      "an unpublished generation partition leaked into the read view")

    val w = DedupLayout.compact(spark, root)
    assert(w === 0L, s"watermark must be the max folded batch, got $w")

    // view parity: pairs, shingle coverage, labels
    assert(pairSet(root) === pairsBefore, "compaction changed the pair set")
    assert(DedupLayout.shingles(spark, root).select("doc_id").distinct().count()
      === docs.filter(m < 4).count(), "compaction changed shingle coverage")

    // disk parity: every store is ONE generation partition, the planted
    // garbage and crashed stage are swept
    for (store <- Seq("shingles", "bands", "pairs")) {
      assert(batchDirs(s"$root/$store") === Seq("__batch_id=-2"),
        s"$store not folded to the single generation partition: " +
          batchDirs(s"$root/$store").mkString(","))
    }
    assert(!fs(pairsDir).exists(new Path(pairsDir + "/.compact-crashed")),
      "a crashed run's stage dir must be swept")

    // the view filter is metadata pruning, not a row filter
    val folded = DedupLayout.pairs(spark, root)
    folded.count()
    val plan = folded.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("__batch_id")),
      s"expected __batch_id PartitionFilters:\n$plan")

    // a FINALIZED batch refuses replay loudly…
    val e = intercept[IllegalStateException] {
      DedupLayout.append(spark, docs.filter(m === 3), root, batchId = 0L)
    }
    assert(e.getMessage.contains("compacted through batch 0"), e.getMessage)

    // …while the live tail keeps growing: an append over the folded
    // base mines exactly the from-scratch pairs and labels
    DedupLayout.append(spark, docs.filter(m === 4), root, batchId = 1L)
    DedupLayout.refreshLabels(spark, root)
    DedupLayout.materialize(spark, docs, scratch)
    assert(pairSet(root) === pairSet(scratch),
      "append over a folded base drifted from the from-scratch build")
    assert(labelSet(root) === labelSet(scratch),
      "labels over a folded base drifted from the cold fixpoint")

    // a second compaction folds the tail into generation 2; idempotent
    // re-run is a no-op at the same watermark
    assert(DedupLayout.compact(spark, root) === 1L)
    assert(batchDirs(s"$root/pairs") === Seq("__batch_id=-3"))
    assert(DedupLayout.compact(spark, root) === 1L)
    assert(pairSet(root) === pairSet(scratch) && labelSet(root) === labelSet(scratch),
      "generation-2 fold changed the view")
    CacheLife.release(spark)
  }

  test("text: vocab, tf table, and token multiset survive the fold; guard covers folded ids") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-lc-text").toString
    val m = col("doc_id") % 4

    TextLayout.materialize(spark, docs.filter(m < 2), root)
    TextLayout.append(spark, docs.filter(m === 2), root, batchId = 0L)

    val tokensBefore = TextLayout.tokens(spark, root).count()
    val vocabBefore = TextLayout.vocab(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val tfBefore = TextLayout.termFreq(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    assert(TextLayout.compact(spark, root) === 0L)
    assert(batchDirs(s"$root/tokens") === Seq("__batch_id=-2"))
    assert(batchDirs(s"$root/token_counts") === Seq("__batch_id=-2"))

    assert(TextLayout.tokens(spark, root).count() === tokensBefore,
      "compaction changed the token multiset size")
    assert(TextLayout.vocab(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq === vocabBefore,
      "compaction changed the re-derived vocabulary")
    assert(TextLayout.termFreq(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === tfBefore,
      "compaction changed the tf table")

    // the doc_id guard sees folded docs: a replayed id still refuses
    val e = intercept[Exception] {
      TextLayout.append(spark, docs.filter(m === 2), root, batchId = 1L)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("already exists in the token-log prefix")),
      s"expected the id-replay refusal, got: ${messages(e).mkString(" | ")}")

    // and genuinely new docs still append past the watermark
    TextLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)
    val want = docs.select(explode(graft.functions.TextFunctions.tokens(col("text")))).count()
    assert(TextLayout.tokens(spark, root).count() === want,
      "post-compaction append lost rows")
    CacheLife.release(spark)
  }

  test("vector: probes identical over the folded layout, cells collapse to one batch dir, stale pins refuse") {
    val tmp = Files.createTempDirectory("graft-lc-vec").toString
    val hold = col("vec_id") % 7 === 6
    VectorLayout.materializeWhere(spark, Sf, tmp, !hold)
    VectorLayout.append(spark, Sf, tmp,
      Tables.embeddings(spark, Sf).filter(hold).select("vec_id", "embedding"),
      batchId = 0L)

    val qvs = Tables.embeddings(spark, Sf)
      .filter(col("vec_id") < graft.operators.SimilarityQueries.NBatchQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def probeSet() = VectorLayout.probeQuerySet(spark, Sf, tmp, qvs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val before = probeSet()
    val nBefore = VectorLayout.vectors(spark, tmp).count()

    assert(VectorLayout.compact(spark, tmp) === 0L)
    assert(VectorLayout.maxBatchId(spark, tmp) === 0L,
      "a fully-folded layout must report the compaction watermark")

    // every cell dir now holds exactly the generation partition
    assert(batchDirs(tmp, nestedUnder = Some("cell")) === Seq("__batch_id=-2"),
      "cells not folded to one batch subdir: " +
        batchDirs(tmp, nestedUnder = Some("cell")).mkString(","))

    val after = probeSet()
    assert(after === before, "compaction changed the probe results")
    assert(VectorLayout.vectors(spark, tmp).count() === nBefore)
    // a pin AT the watermark still serves the full snapshot…
    assert(VectorLayout.vectors(spark, tmp, upToBatch = Some(0L)).count() === nBefore)
    // …a pin BELOW it (pre-compaction history) refuses loudly
    val e = intercept[IllegalStateException] {
      VectorLayout.vectors(spark, tmp, upToBatch = Some(-1L)).count()
    }
    assert(e.getMessage.contains("predates the compaction watermark"), e.getMessage)
    // as does a finalized batch id
    val e2 = intercept[IllegalStateException] {
      VectorLayout.append(spark, Sf, tmp,
        Tables.embeddings(spark, Sf).filter(hold).select("vec_id", "embedding"),
        batchId = 0L)
    }
    assert(e2.getMessage.contains("compacted through batch 0"), e2.getMessage)

    // growth continues past the fold, probe pruning intact
    val more = Tables.embeddings(spark, Sf).filter(hold)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    VectorLayout.append(spark, Sf, tmp, more, batchId = 1L)
    assert(VectorLayout.vectors(spark, tmp).count() === nBefore + more.count())
    val probe = VectorLayout.probeQuerySet(spark, Sf, tmp, qvs)
    probe.count()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cell")),
      s"expected cell PartitionFilters after the fold:\n$plan")
    CacheLife.release(spark)
  }

  test("a fresh materialize over a compacted root resets the marker — the rebuilt base is visible and survives the next compact") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-lc-reset").toString
    val m = col("doc_id") % 5

    // first life: build, grow, compact — the root now carries a marker
    DedupLayout.materialize(spark, docs.filter(m < 3), root)
    DedupLayout.append(spark, docs.filter(m === 3), root, batchId = 0L)
    DedupLayout.compact(spark, root)
    assert(LogCompaction.marker(spark, root).isDefined)

    // second life: the documented fresh-rebuild reset over MORE docs.
    // Without the marker wipe the new base batches sit above the stale
    // watermark filter — reads go empty and the next compact's resweep
    // would DELETE them (the round-8 review catch)
    DedupLayout.materialize(spark, docs, root)
    assert(LogCompaction.marker(spark, root).isEmpty,
      "materialize must reset the old life's compaction marker")
    val scratch = Files.createTempDirectory("graft-lc-reset-full").toString
    DedupLayout.materialize(spark, docs, scratch)
    assert(pairSet(root) === pairSet(scratch),
      "rebuilt root must read its full fresh base")
    DedupLayout.compact(spark, root)
    assert(pairSet(root) === pairSet(scratch),
      "compacting the rebuilt root must not lose the fresh base")

    // same reset on the text store (an appended batch first — a
    // base-only compact is a documented no-op and publishes no marker)
    val troot = Files.createTempDirectory("graft-lc-reset-text").toString
    TextLayout.materialize(spark, docs.filter(m < 3), troot)
    TextLayout.append(spark, docs.filter(m === 3), troot, batchId = 0L)
    assert(TextLayout.compact(spark, troot) === 0L,
      "the appended batch must make this a real fold")
    TextLayout.materialize(spark, docs, troot)
    assert(LogCompaction.marker(spark, troot).isEmpty)
    val want = docs.select(explode(graft.functions.TextFunctions.tokens(col("text")))).count()
    assert(TextLayout.tokens(spark, troot).count() === want,
      "rebuilt token log must read its full fresh base")
    CacheLife.release(spark)
  }

  test("sweepNow=false defers reclamation: shadowed dirs survive for in-flight scans, vacuum removes them") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-lc-defer").toString
    val m = col("doc_id") % 5
    DedupLayout.materialize(spark, docs.filter(m < 4), root)
    DedupLayout.append(spark, docs.filter(m === 4), root, batchId = 0L)
    val before = pairSet(root)

    assert(DedupLayout.compact(spark, root, sweepNow = false) === 0L)
    // the fold is published (readers see the generation) but the
    // shadowed per-batch dirs are still on disk for in-flight scans
    val dirs = batchDirs(s"$root/pairs")
    assert(dirs.contains("__batch_id=-2") && dirs.contains("__batch_id=0"),
      s"deferred sweep must leave shadowed dirs in place: ${dirs.mkString(",")}")
    assert(pairSet(root) === before,
      "the published view must already exclude the shadowed dirs")

    DedupLayout.vacuum(spark, root)
    assert(batchDirs(s"$root/pairs") === Seq("__batch_id=-2"),
      "vacuum must reclaim the shadowed dirs")
    assert(pairSet(root) === before, "vacuum must not change the view")
    CacheLife.release(spark)
  }

  test("a fold on its declared schema is one write job per store") {
    val s = spark
    import s.implicits._
    def foldJobs(schema: StructType): Int = {
      val root = Files.createTempDirectory("graft-lc-jobs").toString
      val dir = root + "/log"
      for (batch <- Seq(-1L, 0L))
        (0L until 20L).map(_ + 20 * (batch + 1)).toDF("id")
          .withColumn("__batch_id", lit(batch))
          .write.mode("append").partitionBy("__batch_id").parquet(dir)
      val spec = LogCompaction.StoreSpec(dir, schema, Seq("__batch_id"), _.coalesce(2))
      val jobs = jobsDuring(
        assert(LogCompaction.run(spark, root, dir, Seq(spec)) === 0L))
      assert(batchDirs(dir) === Seq("__batch_id=-2"))
      assert(LogCompaction.view(spark.read.parquet(dir), LogCompaction.marker(spark, root))
        .select("id").as[Long].collect().sorted.toSeq === (0L until 40L))
      jobs
    }
    val declared = foldJobs(StructType(Seq(
      StructField("id", LongType), StructField("__batch_id", LongType))))
    assert(declared <= 1, s"a declared-schema fold ran $declared jobs (the write alone)")
  }

  test("a bounded retry of a crashed fold publishes only its own rows") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-lc-retry").toString
    val dir = root + "/log"
    // ten ids per batch -1, 0, 1; b = id / 10 gives each batch its own b dir
    for (batch <- -1L to 1L)
      (0L until 10L).map(_ + 10 * (batch + 1)).toDF("id")
        .withColumn("b", (col("id") / 10).cast("int"))
        .withColumn("__batch_id", lit(batch))
        .write.mode("append").partitionBy("__batch_id", "b").parquet(dir)
    val spec = LogCompaction.StoreSpec(dir, StructType(Seq(StructField("id", LongType),
      StructField("__batch_id", LongType), StructField("b", IntegerType))),
      Seq("__batch_id", "b"), _.repartition(col("b")))
    // a fold through batch 1 that crashed before publishing generation 1…
    LogCompaction.foldStore(spark, dir,
      LogCompaction.foldable(spark.read.parquet(dir), None, 1L).drop("__batch_id"),
      gen = 1, spec.partitionCols, spec.distribute)
    assert(LogCompaction.marker(spark, root).isEmpty)
    // …then a retry bounded to batch 0, which reuses generation 1: the
    // crashed run's b=2 dir must not be published beside it
    assert(LogCompaction.run(spark, root, dir, Seq(spec), upToBatch = Some(0L)) === 0L)
    val ids = LogCompaction.view(spark.read.parquet(dir), LogCompaction.marker(spark, root))
      .select("id").as[Long].collect().toSeq
    assert(ids.sorted === (0L until 30L),
      s"view reads ${ids.size} rows, ${ids.distinct.size} distinct; want 30 distinct")
  }

  test("marker parsing: stray siblings ignored, negative watermarks round-trip, generations order") {
    val root = Files.createTempDirectory("graft-lc-marker").toString
    assert(LogCompaction.marker(spark, root).isEmpty)
    LogCompaction.publish(spark, root, gen = 1, w = -1L)
    assert(LogCompaction.marker(spark, root)
      === Some(LogCompaction.Marker(1, -1L)), "negative watermark must round-trip")
    // a stray sibling must be ignored, never a parse crash
    val md = new Path(root + "/_compaction/gen-2-wm-oops.bak")
    fs(root).create(md, false).close()
    LogCompaction.publish(spark, root, gen = 2, w = 7L)
    assert(LogCompaction.marker(spark, root)
      === Some(LogCompaction.Marker(2, 7L)), "highest generation must win")
    // publish is idempotent on retry
    LogCompaction.publish(spark, root, gen = 2, w = 7L)
    assert(LogCompaction.marker(spark, root).map(_.gen) === Some(2))
  }
}
