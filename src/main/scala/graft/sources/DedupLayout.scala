package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField,
  StructType}

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators.DedupQueries

import LogCompaction.{Marker, StoreSpec, storeExists, writeBase, writeBatch}

/** Incremental near-dup index on disk — the dedup twin of
  * [[VectorLayout.append]] (corpora GROW; a 100 TB pipeline cannot
  * re-mine candidate pairs from scratch per crawl batch).
  *
  * Four parquet stores under one root: the band-signature store
  * (doc_id, band, key), the exact-shingle store (doc_id, sh), the
  * candidate-pair store (doc_a, doc_b), and the converged cluster
  * labels (doc_id, cluster_id). [[materialize]] builds all four from a
  * document set with the SAME machinery the registered queries use
  * (native minhash → banded keys → capped self-join →
  * [[DedupQueries.components]]), so the from-scratch pair store is
  * set-identical to the oracle-checked `dedup_minhash_pairs` and the
  * labels to `dedup_clusters`. [[append]] then grows the index per
  * arrival batch at RECTANGLE cost, never re-mining:
  *
  *   - arrivals shingle + band once (one pass over the batch);
  *   - new candidates come from ONE equi-join of the arrival bands
  *     against (existing ∪ arrival) bands — each join group is
  *     |batch ∩ bucket| × |bucket|, bounded by the batch size per
  *     bucket (the stream-join rectangle), never the |bucket|²/2 the
  *     self-join cap exists for;
  *   - all stores extend by parquet append, touching no existing file.
  *
  * After an append, [[refreshLabels]] brings the labels up to date on
  * the LABEL GRAPH: the new pairs mapped through the stored labels, so
  * it reads only the delta pairs and the labels, never the
  * corpus-sized pair store. Arrival
  * doc_ids must be NEW: [[append]] refuses an id already present in
  * the shingle-store prefix (a re-appended id would silently duplicate
  * its shingle/band rows and corrupt pair mining) while a replay of
  * the SAME batch id still passes — the prefix excludes the batch's
  * own partition ([[DocumentLog]] runs that guard). DedupLayoutSpec
  * proves append+refresh ≡ from-scratch; DedupStreamSpec proves a
  * streamed drain reaches the same index and that a replay from a
  * wiped checkpoint, run while later partitions still exist, changes
  * nothing (duplicate count included).
  *
  * Cluster labels are a DERIVED artifact, refreshed after a drain or
  * on a schedule ([[graft.StoreMaintain]]), never per micro-batch:
  * per-batch refresh would put the label fixpoint on the hot ingest
  * path for no freshness a curator needs.
  */
object DedupLayout extends DocumentLog("DedupLayout", "index prefix",
  // the exact shingle store — one row per doc, doc_id column-pruned —
  // backs the id guard; bands are written LAST per batch
  idLog = "shingles", watermarkLog = "bands") {

  private def bandsDir(root: String) = root.stripSuffix("/") + "/bands"
  private def shinglesDir(root: String) = root.stripSuffix("/") + "/shingles"
  private def pairsDir(root: String) = root.stripSuffix("/") + "/pairs"
  private def labelsDir(root: String) = root.stripSuffix("/") + "/labels"
  private def labelsMetaDir(root: String) =
    root.stripSuffix("/") + "/labels__covered"

  /** Every growing store is partitioned by the batch that wrote it, and
    * each batch writes with DYNAMIC partition overwrite: a redelivered
    * batch replaces its own partition with byte-identical content (the
    * build is deterministic), so the at-least-once delivery of
    * `foreachBatch` becomes exactly-once on disk — the
    * [[graft.streaming.CandleStream]] warehouse idiom applied to the
    * index. The base build owns batch -1.
    */
  private val BatchCol = LogCompaction.BatchCol
  private val BaseBatch = LogCompaction.BaseBatch

  /** Delete the `edges` store a root written by an earlier layout still
    * holds: a symmetric copy of the pair store that the label refresh
    * used to scan. Nothing reads it; [[materialize]] and [[compact]]
    * delete it.
    */
  private def dropEdges(spark: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root.stripSuffix("/") + "/edges")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Declared schemas for every store read. Inferring a parquet schema
    * reads file footers in a Spark job, so a declared schema keeps
    * building a store's DataFrame job-free. The pair store also NEEDS
    * one: a dup-free corpus (or any clean arrival batch) mines zero
    * pairs, and Spark cannot infer a schema from a fileless parquet dir.
    * Partition columns included: `__batch_id` must be declared for
    * partition discovery to type it when declared-schema reads meet a
    * populated store.
    * DedupConstructionSpec checks each against the inferred schema of a
    * materialized root.
    */
  private[graft] val PairsSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType),
    StructField(BatchCol, LongType)))
  private[graft] val ShinglesSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("sh", ArrayType(StringType)),
    StructField(BatchCol, LongType)))
  private[graft] val BandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("key", StringType), StructField(BatchCol, LongType)))
  private[graft] val LabelsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster_id", LongType)))
  private[graft] val LabelsMetaSchema = StructType(Seq(
    StructField("covered_batch", LongType)))

  protected def logs(root: String): Seq[(String, StoreSpec)] = Seq(
    "shingles" -> StoreSpec(shinglesDir(root), ShinglesSchema),
    "bands" -> StoreSpec(bandsDir(root), BandsSchema),
    "pairs" -> StoreSpec(pairsDir(root), PairsSchema))

  private def shingled(spark: SparkSession, docs: DataFrame): DataFrame =
    Tables.spread(spark, docs).select(col("doc_id"),
      call_function("graft_shingles", T.tokens(col("text")),
        lit(DedupQueries.ShingleN)).as("sh"))

  /** One-time build over `docs` (doc_id, text): bands, shingles, the
    * capped self-join candidate pairs, and the converged cluster labels.
    */
  def materialize(spark: SparkSession, docs: DataFrame, root: String): Unit = {
    // a fresh rebuild writes real base batches: a surviving compaction
    // marker from the root's previous life would filter them out (and
    // the next compact's resweep would DELETE them) — wipe it first
    LogCompaction.reset(spark, root)
    dropEdges(spark, root)
    // seed the id-authority so the FIRST append is already bloom-guarded
    IdAuthority.recordBase(spark, root, docs.select(col("doc_id")), BaseBatch)
    writeBase(shingled(spark, docs), shinglesDir(root))
    writeBase(DedupQueries.lshBandsOver(shingles(spark, root)), bandsDir(root))
    writeBase(DedupQueries.bandPairsCapped(bands(spark, root),
      DedupQueries.MaxBucket), pairsDir(root))
    writeLabels(DedupQueries.components(pairs(spark, root)),
      coveredBatch = BaseBatch, root)
  }

  /** Labels land with a WATERMARK: the highest pair batch they cover.
    * [[refreshLabels]] derives its frontier from everything after it,
    * so no caller can hand it a too-small delta and get silently wrong
    * clusters.
    */
  private def writeLabels(labels: DataFrame, coveredBatch: Long,
                          root: String): Unit = {
    // (doc_id, cluster_id), eagerly checkpointed by every caller that
    // read the label store, so overwriting it cannot read-while-write
    labels.write.mode("overwrite").parquet(labelsDir(root))
    val s = labels.sparkSession
    import s.implicits._
    Seq(coveredBatch).toDF("covered_batch").coalesce(1)
      .write.mode("overwrite").parquet(labelsMetaDir(root))
  }

  /** Grow the index with an arrival batch (doc_id, text) — the write
    * body of the guarded [[DocumentLog.append]]: new candidates are
    * every (arrival, existing-or-arrival) pair sharing a band key,
    * emitted id-ordered and deduplicated — exactly the pairs a
    * from-scratch rebuild would add. [[refreshLabels]] later reads the
    * new pairs back by the store's batch watermark.
    *
    * `batchId` must be MONOTONICALLY increasing across appends (a
    * streaming sink passes the micro-batch id, which is; a batch
    * caller numbers its loads). The batch's pair mining joins ONLY the
    * band-store PREFIX `__batch_id < batchId` — the state as of this
    * batch's first attempt — so recomputing any batch at any time
    * (redelivery, or a full replay from a wiped checkpoint that runs
    * while later partitions still exist) rewrites its partition
    * byte-identically instead of double-mining later batches' pairs.
    * On an EMPTY root (pure-streaming bootstrap) the missing stores
    * read as empty and the first append becomes the base the next
    * batches join.
    */
  protected def write(spark: SparkSession, arrivals: DataFrame, root: String,
                      batchId: Long, mk: Option[Marker]): Unit = {
    val newSh = shingled(spark, arrivals).localCheckpoint()
    val newBands = DedupQueries.lshBandsOver(newSh)
      .localCheckpoint() // the rectangle join + store write both read it
    val existing =
      if (storeExists(spark, bandsDir(root)))
        readStore(spark, bandsDir(root), BandsSchema, mk,
          beforeBatch = Some(batchId))
      else newBands.limit(0)
    val newPairs = newBands.as("n")
      .join(existing.unionByName(newBands).as("u"), Seq("band", "key"))
      .filter(col("n.doc_id") =!= col("u.doc_id"))
      .select(least(col("n.doc_id"), col("u.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("u.doc_id")).as("doc_b"))
      .distinct()
    writeBatch(newSh, batchId, shinglesDir(root))
    writeBatch(newPairs, batchId, pairsDir(root))
    writeBatch(newBands, batchId, bandsDir(root))
  }

  /** Bring the labels up to date with every pair batch after their
    * covered watermark, working on the LABEL GRAPH instead of the pair
    * graph. The delta is derived STRUCTURALLY — every pair batch in
    * (`covered`, `maxBatch`] — so correctness never depends on a caller
    * assembling the right delta (a caller passing only the LAST append's
    * pairs after two appends would get silently wrong clusters).
    *
    *   1. Map both endpoints of each delta pair through the stored
    *      labels; an unlabelled endpoint stands for itself. Drop the
    *      self-loops (pairs inside one stored cluster).
    *   2. [[DedupQueries.components]] over what is left: its nodes are
    *      stored cluster ids and new endpoints, and each gets the
    *      minimum of its merged component.
    *   3. Relabel: a stored document takes its cluster's new minimum;
    *      a new endpoint takes its own component label.
    *
    * A stored cluster's id IS its minimum doc id, so the merged
    * minimum over cluster ids and new endpoints is the minimum over
    * every document the merge joins: the result equals a cold
    * [[DedupQueries.components]] over the whole pair store
    * (DedupLayoutSpec checks bridges, lower-id joiners and chains
    * across batches). The refresh reads only the delta's partitions of
    * the pair store and the labels. A refresh with nothing new is a
    * no-op; a root that never ran [[materialize]] (pure-streaming
    * bootstrap) gets the cold build.
    */
  def refreshLabels(spark: SparkSession, root: String,
                    upToBatch: Option[Long] = None): Unit = {
    if (!storeExists(spark, pairsDir(root))) return // empty root: nothing to label
    val mk = LogCompaction.marker(spark, root)
    // the covered watermark anchors on the BAND store — the store
    // [[append]] writes LAST, so a listed batch has its pairs fully on
    // disk. Anchoring on the pair store could advance `covered` past a
    // torn concurrent append and the skipped merges would never
    // re-enter a delta. The listing is a metadata op, not a Spark job,
    // and marker-aware: a fully folded store reports the compaction
    // watermark, never a generation id.
    val complete = LogCompaction.effectiveMaxBatch(spark, bandsDir(root), mk)
      .getOrElse(return)
    // a bounded refresh (compact's beforeFold) covers exactly the fold
    val maxBatch = upToBatch.fold(complete)(math.min(_, complete))
    if (!storeExists(spark, labelsMetaDir(root))) {
      writeLabels(DedupQueries.components(readStore(spark, pairsDir(root),
        PairsSchema, mk, beforeBatch = Some(maxBatch + 1))),
        coveredBatch = maxBatch, root)
      return
    }
    val covered = coveredBatch(spark, root)
    if (maxBatch <= covered) return
    val delta = readStore(spark, pairsDir(root), PairsSchema, mk,
      beforeBatch = Some(maxBatch + 1), afterBatch = Some(covered))
    writeLabels(relabel(labels(spark, root), delta).localCheckpoint(),
      coveredBatch = maxBatch, root)
  }

  /** Steps 1–3 of [[refreshLabels]]: the stored labels `old`
    * (doc_id, cluster_id) brought up to date with the `delta` pairs
    * (doc_a, doc_b), as (doc_id, cluster_id).
    */
  private[graft] def relabel(old: DataFrame, delta: DataFrame): DataFrame = {
    def end(c: String) = old.select(col("doc_id").as(s"${c}_id"),
      col("cluster_id").as(s"${c}_c"))
    val graph = delta
      .join(end("a"), col("doc_a") === col("a_id"), "left_outer")
      .join(end("b"), col("doc_b") === col("b_id"), "left_outer")
      .select(coalesce(col("a_c"), col("doc_a")).as("doc_a"),
        coalesce(col("b_c"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // a stored cluster id is a stored doc whose own label is itself, so
    // the right-only rows of this outer join are exactly the new
    // endpoints
    val merged = DedupQueries.components(graph)
      .select(col("doc_id").as("node"), col("cluster_id").as("label"))
    old.join(merged, col("cluster_id") === col("node"), "full_outer")
      .select(coalesce(col("doc_id"), col("node")).as("doc_id"),
        coalesce(col("label"), col("cluster_id")).as("cluster_id"))
  }

  /** Fold the finalized log prefix ([[DocumentLog.compact]]) over all
    * three batch-partitioned stores (shingles, bands, pairs; labels are
    * a plain overwrite store and need no folding), keeping every read
    * entry — including the append's prefix mining and
    * [[refreshLabels]]'s delta read — byte-equivalent
    * (LogCompactionSpec proves pairs/labels/future-appends identical).
    * It also deletes the `edges` store a root from an earlier layout
    * still holds.
    */
  override def compact(spark: SparkSession, root: String,
                       upToBatch: Option[Long], sweepNow: Boolean): Long = {
    dropEdges(spark, root)
    super.compact(spark, root, upToBatch, sweepNow)
  }

  /** Labels are refreshed BOUNDED TO THE FOLD before it runs: the
    * covered watermark must reach every folded pair ([[refreshLabels]]
    * reads the delta `> covered`, and a pair folded while uncovered
    * would vanish from it) but must NOT overtake it — an unbounded
    * refresh racing a live ingest could cover tail batches this fold
    * leaves as per-batch partitions, which is fine, but bounding keeps
    * the two watermarks in lockstep and the reasoning local.
    */
  override protected def beforeFold(spark: SparkSession, root: String, w: Long): Unit =
    refreshLabels(spark, root, upToBatch = Some(w))

  def labels(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(LabelsSchema).parquet(labelsDir(root))

  /** The highest pair batch the stored labels cover (see [[writeLabels]]). */
  private def coveredBatch(spark: SparkSession, root: String): Long =
    spark.read.schema(LabelsMetaSchema).parquet(labelsMetaDir(root))
      .head.getLong(0)

  private def readStore(spark: SparkSession, dir: String, schema: StructType,
                        mk: Option[LogCompaction.Marker],
                        beforeBatch: Option[Long],
                        afterBatch: Option[Long] = None): DataFrame = {
    val t = LogCompaction.view(spark.read.schema(schema).parquet(dir), mk)
    // batch filters ride the partition column: metadata pruning, the
    // excluded partitions' files are never listed into the scan. They
    // compose with the compaction view literally: the folded partition's
    // id sits below every real batch, so a prefix read `< b` (b is past
    // the watermark — guardAppend) includes the fold, and a delta read
    // `> covered` (covered ≥ watermark — compact refreshes labels first)
    // excludes it.
    val lo = afterBatch.fold(t)(b => t.filter(col(BatchCol) > b))
    beforeBatch.fold(lo)(b => lo.filter(col(BatchCol) < b)).drop(BatchCol)
  }

  def pairs(spark: SparkSession, root: String): DataFrame =
    readStore(spark, pairsDir(root), PairsSchema,
      LogCompaction.marker(spark, root), None)

  def bands(spark: SparkSession, root: String,
            beforeBatch: Option[Long] = None): DataFrame =
    readStore(spark, bandsDir(root), BandsSchema,
      LogCompaction.marker(spark, root), beforeBatch)

  def shingles(spark: SparkSession, root: String): DataFrame =
    readStore(spark, shinglesDir(root), ShinglesSchema,
      LogCompaction.marker(spark, root), None)

  /** The dedup rows of the [[graft.Doctor]] leg, reported between the
    * logs' and the id sidecar's ([[DocumentLog.fsck]]): the label
    * store's covered-batch invariant. Labels may TRAIL the
    * pair log (a pending [[refreshLabels]] is the normal state between
    * maintenance runs) but can never LEAD it — labels claiming a batch
    * the store does not hold are from another root's life.
    */
  override protected def fsckExtra(spark: SparkSession, root: String,
                                   mk: Option[Marker]): Seq[(String, String, String)] =
    if (!storeExists(spark, labelsDir(root)))
      Seq(("labels", "skip", "no label store (refreshLabels cold-builds)"))
    else if (!storeExists(spark, labelsMetaDir(root)))
      Seq(("labels", "fail",
        "label store without its covered-batch meta — the next refresh " +
          "cannot tell what the labels cover; rebuild via refreshLabels"))
    else scala.util.Try(coveredBatch(spark, root)) match {
      // a torn meta write must read as a diagnosis, not crash the
      // diagnostic tool
      case scala.util.Failure(e) =>
        Seq(("labels", "fail",
          s"covered-batch meta unreadable (${e.getClass.getSimpleName}) — " +
            "torn writeLabels; rebuild via a cold refreshLabels"))
      case scala.util.Success(covered) =>
        // compare against the BAND store — the same anchor
        // refreshLabels advances `covered` from (the store append
        // writes LAST). The pair store is the WRONG yardstick: a
        // batch that mines zero pairs writes no pairs partition
        // (dynamic overwrite of zero rows), so a healthy dup-free
        // root routinely has covered > pairs-max
        LogCompaction.effectiveMaxBatch(spark, bandsDir(root), mk) match {
          case Some(mb) if covered > mb =>
            Seq(("labels", "fail",
              s"labels cover batch $covered but the band log's max is $mb — " +
                "labels from another life; re-run a cold refreshLabels"))
          case None if covered > LogCompaction.BaseBatch =>
            Seq(("labels", "fail",
              s"labels cover batch $covered but the band store is MISSING — " +
                "labels outlived their store; re-run a cold refreshLabels"))
          case None =>
            Seq(("labels", "warn",
              "label store present but no band store — the root looks " +
                "partially wiped; a cold refreshLabels rebuilds"))
          case mb =>
            Seq(("labels", "ok",
              s"covered=$covered, band log max=${mb.getOrElse(-1L)}" +
                (if (mb.exists(_ > covered)) " (refresh pending — normal)" else "")))
        }
    }
}
