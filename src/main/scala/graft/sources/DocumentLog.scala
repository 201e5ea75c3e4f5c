package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import LogCompaction.{BatchCol, Marker, StoreSpec, storeExists}

/** The guarded-append and fold skeleton of the three document layouts
  * ([[DedupLayout]], [[TextLayout]], [[SubstrLayout]]): batch-
  * partitioned parquet logs under one root, keyed by `doc_id`, folded
  * by [[LogCompaction]] and guarded by one [[IdAuthority]] sidecar. A
  * layout supplies its logs (named for fsck, in fold order), the name
  * of the log whose prefix holds every ingested doc_id (`idLog`, the
  * id guard's exact fallback), the name of the log written LAST per
  * batch (`watermarkLog`: a batch listed there is fully present in
  * every log, so compaction anchors its watermark on it), and its
  * [[write]] body; the hooks cover what one layout adds.
  *
  * Exactly-once: every write is a dynamic overwrite of the batch's OWN
  * `__batch_id` partition and every batch is a pure function of its
  * arrivals plus the strictly-earlier log prefix, so a redelivered
  * micro-batch (the streaming [[graft.streaming.IngestSink]] is
  * at-least-once) or a full replay from a wiped checkpoint rewrites
  * byte-identical files. The per-doc stores additionally need each
  * doc_id to live in ONE batch: [[append]] refuses an arrival id
  * already in the log prefix (a re-appended doc would double its
  * counts or rows), while a replay of the SAME batch id passes — the
  * prefix excludes the batch's own partition.
  */
abstract class DocumentLog(layout: String, prefixName: String,
                           idLog: String, watermarkLog: String) {

  /** (fsck name, store) of every batch log, in fsck and fold order. */
  protected def logs(root: String): Seq[(String, StoreSpec)]

  /** One-time build of every log from `docs` (doc_id, text) as the
    * base batch, seeding the id sidecar so the first append is already
    * bloom-guarded.
    */
  def materialize(spark: SparkSession, docs: DataFrame, root: String): Unit

  /** Write the id-guarded `arrivals` into batch `batchId`'s partitions
    * of every log; runs under the writer lease. `mk` is the compaction
    * marker the append resolved.
    */
  protected def write(spark: SparkSession, arrivals: DataFrame, root: String,
                      batchId: Long, mk: Option[Marker]): Unit

  /** The arrivals to append, or None for a batch to skip unrecorded. */
  protected def admit(arrivals: DataFrame): Option[DataFrame] = Some(arrivals)

  /** A refusal run under the writer lease but BEFORE the sidecar
    * record publishes (see [[IdAuthority.guardAndRecord]]).
    */
  protected def preRecord(spark: SparkSession, root: String): Unit = ()

  /** Run by [[compact]] with the new watermark, before any store folds. */
  protected def beforeFold(spark: SparkSession, root: String, w: Long): Unit = ()

  /** Rows [[fsck]] reports between the logs' rows and the sidecar's. */
  protected def fsckExtra(spark: SparkSession, root: String,
                          mk: Option[Marker]): Seq[(String, String, String)] = Nil

  private def log(root: String, name: String): StoreSpec =
    logs(root).collectFirst { case (`name`, s) => s }.get

  /** A log's reader view: the published fold plus the live tail. */
  private def view(spark: SparkSession, store: StoreSpec,
                     mk: Option[Marker]): DataFrame =
    LogCompaction.view(spark.read.schema(store.schema).parquet(store.dir), mk)

  /** The named log's rows across all live batches. */
  protected def read(spark: SparkSession, root: String, name: String): DataFrame =
    view(spark, log(root, name), LogCompaction.marker(spark, root)).drop(BatchCol)

  /** Append one arrival batch: ONE marker fetch threads through every
    * read (one metadata round-trip, one coherent view even if a
    * compactor publishes mid-append); a batch id at or below the
    * compaction watermark refuses ([[LogCompaction.guardAppend]]); an
    * arrival doc_id already in the `idLog` prefix refuses through the
    * [[IdAuthority]] bloom sidecar (index-sized, batch-cost; the exact
    * prefix is probed only on bloom hits or to bootstrap the sidecar;
    * [[IdAuthority.TrustKey]] skips the check for upstream-deduped
    * ingest). The writer lease the guard leaves held spans every log
    * write and is released after the last one (or kept by a process
    * crash, which is the two-records-ahead protection; see
    * [[IdAuthority.LeaseName]]). Works on an EMPTY root: the first
    * append is the base.
    */
  def append(spark: SparkSession, arrivals: DataFrame, root: String,
             batchId: Long): Unit = {
    val who = s"$layout.append"
    val mk = LogCompaction.marker(spark, root)
    LogCompaction.guardAppend(mk, batchId, who)
    val arr = admit(arrivals).getOrElse(return)
    val ids = log(root, idLog)
    IdAuthority.guardAndRecord(spark, root, batchId, arr.select(col("doc_id")),
      priorIds = if (storeExists(spark, ids.dir))
        view(spark, ids, mk).filter(col(BatchCol) < batchId)
          .select(col("doc_id")).distinct()
      else arr.limit(0).select(col("doc_id")),
      who = who, what = prefixName, preRecord = () => preRecord(spark, root))
    try write(spark, arr, root, batchId, mk)
    finally IdAuthority.completeAppend(spark, root)
  }

  /** Fold every log's finalized prefix into one generation partition —
    * the [[LogCompaction]] protocol, watermarked on `watermarkLog` —
    * then prune the sidecar records below the watermark (finalized
    * batches can never replay, so their records serve nobody). Every
    * derived view is batch-order-invariant, so folding changes bytes on
    * disk and nothing above them (LogCompactionSpec). Returns the new
    * watermark. Under a live ingest, bound `upToBatch` below the tail,
    * pass `sweepNow = false` and [[vacuum]] after in-flight scans drain
    * (see [[LogCompaction.run]]).
    */
  def compact(spark: SparkSession, root: String,
              upToBatch: Option[Long] = None,
              sweepNow: Boolean = true): Long = {
    val w = LogCompaction.run(spark, root, watermarkDir = log(root, watermarkLog).dir,
      stores = logs(root).map(_._2), upToBatch = upToBatch, sweepNow = sweepNow,
      beforeFold = beforeFold(spark, root, _))
    IdAuthority.prune(spark, root, w)
    w
  }

  /** Reclaim the partitions the current compaction shadows — the
    * deferred sweep of a `sweepNow = false` [[compact]].
    */
  def vacuum(spark: SparkSession, root: String): Unit =
    LogCompaction.vacuum(spark, root, logs(root).map(_._2.dir))

  /** Read-only integrity report — the [[graft.Doctor]] leg: every log
    * via [[LogCompaction.fsckLog]], the layout's own rows
    * ([[fsckExtra]]), and the id-authority sidecar cross-checked
    * against the `idLog` (the prefix [[append]] guards on).
    */
  def fsck(spark: SparkSession, root: String): Seq[(String, String, String)] = {
    val mk = LogCompaction.marker(spark, root)
    logs(root).flatMap { case (n, s) =>
      LogCompaction.fsckLog(spark, s.dir, mk).map { case (c, st, d) => (s"$n.$c", st, d) }
    } ++ fsckExtra(spark, root, mk) ++ IdAuthority.fsck(spark, root,
      LogCompaction.effectiveMaxBatch(spark, log(root, idLog).dir, mk))
  }
}
