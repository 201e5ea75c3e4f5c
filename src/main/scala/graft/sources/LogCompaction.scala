package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Compaction protocol for the batch-partitioned store logs
  * ([[DocumentLog]]'s three document layouts and [[VectorLayout]]).
  *
  * THE PROBLEM AT SCALE: each streaming micro-batch owns a
  * `__batch_id=<id>` partition — the idempotence device that makes
  * at-least-once delivery exactly-once on disk — so a long-lived ingest
  * accretes one directory (and its files) per batch forever. At 100 TB
  * with minute-cadence micro-batches that is ~half a million partitions
  * per store per year: listing dominates planning, the scan degenerates
  * into small-file reads, and the metadata store (NN / object-store
  * LIST) becomes the bottleneck. Compaction folds the finalized prefix
  * of the log back into ONE generation partition, restoring big-file
  * scans while appends keep landing in fresh per-batch partitions.
  *
  * THE PROTOCOL (crash-safe without a transaction log):
  *
  *   1. FOLD — delete any unpublished partition of the generation
  *      about to be written (a crashed attempt's leftovers: the retry
  *      reuses the generation number, and a dynamic overwrite would keep
  *      every leftover partition the retry does not write), then
  *      dynamic-overwrite the store's current view restricted to batches
  *      `<= W` (the compaction watermark) straight into the live dir as
  *      the single partition `__batch_id = -1-gen` — one write job per
  *      store. Writing into the dir it reads is safe: the fold reads
  *      only the prior generation and batches `<= W`, never the
  *      partition it writes, and a dynamic overwrite replaces only the
  *      partitions it writes. Generation ids live BELOW the base batch
  *      (-1), a range no real batch ever uses.
  *   2. PUBLISH — create the append-only marker file
  *      `_compaction/gen-<g>-wm-<W>` (the `_CURRENT_v<N>` idiom: an
  *      atomic create, never delete+rename). Every reader resolves the
  *      highest generation and filters
  *      `__batch_id = -1-g OR __batch_id > W` — folded history plus the
  *      live tail. An UNPUBLISHED fold is invisible: with no marker the
  *      view keeps `__batch_id >= -1` (real batches only), with an older
  *      marker the new generation id matches neither disjunct. A crash
  *      anywhere before step 2 therefore leaves readers on the exact
  *      pre-compaction view — no window double-counts.
  *   3. SWEEP — delete the now-shadowed partitions (real batches
  *      `<= W`, prior generations) and any `.compact-*` stage dir an
  *      older, staging fold left behind.
  *      A crash before the sweep costs storage, never correctness: the
  *      stale dirs sit outside every reader's filter, and the next
  *      compaction (or its early-exit resweep) removes them.
  *
  * THE CONTRACT compaction buys its file-count win with: batches at or
  * below the watermark are FINALIZED. An append or wiped-checkpoint
  * replay with `batchId <= W` refuses loudly (each layout's guard) —
  * the per-batch rewrite target it would need has been folded away. Run
  * compaction only past the ingest checkpoint's committed watermark
  * (quiescent, or `upToBatch`-bounded below the live tail), exactly the
  * discipline every log-structured table format demands of its
  * compactor. Single-compactor-per-root, like `StoreBuild`.
  */
object LogCompaction {

  private[sources] val BatchCol = "__batch_id"
  private[sources] val BaseBatch = -1L

  /** The folded partition id of generation `gen` (1-based): strictly
    * below [[BaseBatch]], so generation partitions and real batches can
    * never collide and a plain `>= -1` filter hides every generation.
    */
  def compactedId(gen: Int): Long = -1L - gen

  final case class Marker(gen: Int, watermark: Long)

  /** Sentinel file a fold leaves in a store dir when it covered ZERO
    * rows: a zero-row dynamic overwrite writes no generation partition,
    * so without the receipt a legitimately empty fold (a dup-free
    * corpus' pairs store) and a LOST fold would be indistinguishable
    * from metadata — and [[fsckLog]] would have to choose between a
    * false-positive `fail` on healthy roots and a silent pass on
    * corrupted ones. Underscore-prefixed, so every data-source listing
    * ignores it.
    */
  private[sources] def emptyFoldReceipt(gen: Int): String = s"_empty-gen-$gen"
  private[sources] val EmptyFoldReceiptRe = "^_empty-gen-([0-9]+)$".r

  private def markerDir(root: String) = root.stripSuffix("/") + "/_compaction"

  private def fs(spark: SparkSession, path: String) = Sidecar.fs(spark, path)

  // watermarks can be -1 (a base-only fold); file names encode the sign
  // as a leading 'm' — marker names must stay create-once immutable, so
  // the value rides the name, not writable content
  private val MarkerRe = "^gen-(.*)-wm-(.*)$".r

  /** The highest published compaction generation of a store root, or
    * None if never compacted. Non-matching siblings are ignored, never
    * a parse crash ([[Sidecar.number]]).
    */
  def marker(spark: SparkSession, root: String): Option[Marker] =
    Sidecar.list(spark, markerDir(root)).flatMap(s => s.getPath.getName match {
      case MarkerRe(g, w) =>
        for (gen <- Sidecar.number(g).filter(_.isValidInt); wm <- Sidecar.signed(w))
          yield Marker(gen.toInt, wm)
      case _ => None
    }).maxByOption(_.gen)

  /** Publish generation `gen` covering batches `<= w`: one atomic
    * file-create, idempotent on retry.
    */
  def publish(spark: SparkSession, root: String, gen: Int, w: Long): Unit =
    Sidecar.createOnce(spark, s"${markerDir(root)}/gen-$gen-wm-${Sidecar.encodeSigned(w)}")

  /** The reader's view of a batch-partitioned store: the published
    * generation's folded partition plus the live tail — and NEVER an
    * unpublished fold. Both shapes are partition-column predicates, so
    * shadowed directories are metadata-pruned, not row-filtered.
    */
  def view(df: DataFrame, m: Option[Marker]): DataFrame = m match {
    case None => df.filter(col(BatchCol) >= BaseBatch)
    case Some(mk) => df.filter(col(BatchCol) === compactedId(mk.gen) ||
      col(BatchCol) > mk.watermark)
  }

  /** The rows a new fold covers: the prior generation (already-folded
    * history) plus real batches in `(priorW, w]`.
    */
  def foldable(df: DataFrame, m: Option[Marker], w: Long): DataFrame =
    view(df, m).filter(col(BatchCol) <= w || col(BatchCol) < BaseBatch)

  private[sources] def storeExists(spark: SparkSession, dir: String): Boolean =
    Sidecar.exists(spark, dir)

  /** Dynamic overwrite of batch `batchId`: replaces ONLY the partitions
    * `df` writes, so a redelivered batch rewrites its own partitions
    * byte-identically — the per-batch idempotence device every log
    * shares, and the fold's in-place write. `partitionCols` is the
    * store's full partition spec in directory order.
    */
  private[sources] def writeBatch(df: DataFrame, batchId: Long, dir: String,
                                  partitionCols: Seq[String] = Seq(BatchCol)): Unit =
    df.withColumn(BatchCol, lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** Static overwrite: a fresh base build wipes every earlier batch. */
  private[sources] def writeBase(df: DataFrame, dir: String,
                                 partitionCols: Seq[String] = Seq(BatchCol)): Unit =
    df.withColumn(BatchCol, lit(BaseBatch))
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir)

  /** The `__batch_id = -1-gen` partition dirs of `dir`, at whatever
    * depth `partitionCols` puts the batch column — a listing, no job.
    */
  private def generationDirs(spark: SparkSession, dir: String,
                             partitionCols: Seq[String], gen: Int): Seq[Path] = {
    val levels = Seq.fill(partitionCols.indexOf(BatchCol))("*") :+
      s"$BatchCol=${compactedId(gen)}"
    Option(fs(spark, dir).globStatus(
      new Path(dir.stripSuffix("/") + "/" + levels.mkString("/"))))
      .fold(Seq.empty[Path])(_.toSeq.map(_.getPath))
  }

  /** Fold `rows` (the [[foldable]] set, batch column dropped) into the
    * generation partition of `dir`, IN PLACE: first delete whatever an
    * unpublished earlier attempt at generation `gen` left (otherwise a
    * retry covering fewer rows would publish the crashed run's extra
    * partitions beside its own), then ONE dynamic-overwrite write into
    * the live dir. Safe because `rows` reads only the prior generation
    * and batches `<= W`, never the partition being written.
    * `partitionCols` is the store's FULL partition spec in directory
    * order ([[VectorLayout]] keeps `cell` first so probes still prune
    * on level one); `distribute` shapes the file count (coalesce for
    * flat stores — compaction must not shuffle unless it re-buckets;
    * repartition-by-key for bucketed ones, one file per bucket dir).
    * Invisible until [[publish]].
    */
  def foldStore(spark: SparkSession, dir: String, rows: DataFrame, gen: Int,
                partitionCols: Seq[String],
                distribute: DataFrame => DataFrame): Unit = {
    val f = fs(spark, dir)
    generationDirs(spark, dir, partitionCols, gen).foreach(f.delete(_, true))
    writeBatch(distribute(rows), compactedId(gen), dir, partitionCols)
    // an empty fold writes NO generation partition (dynamic overwrite of
    // zero rows) — leave the receipt instead, so fsck can prove the
    // missing partition legitimate; a non-empty retry of a crashed
    // empty attempt reuses the gen number, so it must also clear a
    // stale receipt
    val receipt = new Path(dir.stripSuffix("/"), emptyFoldReceipt(gen))
    if (generationDirs(spark, dir, partitionCols, gen).nonEmpty) f.delete(receipt, false)
    else Sidecar.createOnce(spark, receipt.toString)
  }

  /** The store's effective max batch — real partition ids from a
    * LISTING (no Spark job; generation partitions don't count) joined
    * with the published watermark, so a fully-folded store still
    * reports `W`, never a generation id. `nested` descends one
    * partition level first ([[VectorLayout]]'s `cell=`/`__batch_id=`).
    */
  def effectiveMaxBatch(spark: SparkSession, dir: String, m: Option[Marker],
                        nested: Boolean = false): Option[Long] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    val real: Seq[Long] =
      if (!f.exists(p)) Nil
      else {
        def ids(d: Path): Iterator[Long] = f.listStatus(d).iterator
          .map(_.getPath.getName)
          .collect { case n if n.startsWith(BatchCol + "=") =>
            n.drop(BatchCol.length + 1) }
          .flatMap(v => scala.util.Try(v.toLong).toOption)
        val it =
          if (nested) f.listStatus(p).iterator
            .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
              !s.getPath.getName.startsWith(BatchCol))
            .flatMap(s => ids(s.getPath))
          else ids(p)
        it.filter(_ >= BaseBatch).toSeq
      }
    (real ++ m.map(_.watermark)).maxOption
  }

  /** Delete everything generation `keep` shadows: real batches `<= w`,
    * prior generations, and leftover `.compact-*` stage dirs of the
    * older staging fold. Pure storage reclamation — every deleted path
    * is already outside the published view.
    */
  def sweep(spark: SparkSession, dir: String, keep: Long, w: Long,
            nested: Boolean = false): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return
    def sweepIn(d: Path): Unit = f.listStatus(d).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(BatchCol + "="))
        scala.util.Try(n.drop(BatchCol.length + 1).toLong).toOption
          .foreach(v => if (v != keep && (v <= w || v < BaseBatch))
            f.delete(s.getPath, true))
    }
    val keepReceipt = emptyFoldReceipt((-1L - keep).toInt)
    f.listStatus(p).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(".compact-")) f.delete(s.getPath, true)
      else if (EmptyFoldReceiptRe.findFirstIn(n).isDefined && n != keepReceipt)
        f.delete(s.getPath, false) // shadowed prior generations' receipts
      else if (nested && s.isDirectory && n.contains("=") &&
        !n.startsWith(BatchCol)) sweepIn(s.getPath)
    }
    if (!nested) sweepIn(p)
  }

  /** The flat stores' file-count shaper: a shuffle-free coalesce to
    * the session's shuffle width.
    */
  private[sources] val flat: DataFrame => DataFrame =
    df => df.coalesce(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** One store to fold: its dir, its declared read schema (partition
    * columns included), and its FULL partition spec in directory order
    * and file-count shaper ([[foldStore]]), both defaulting to a flat
    * batch log. The schema is required: inferring one reads parquet
    * footers in a Spark job, and a fileless dir (a store whose row set
    * is empty) cannot be inferred at all.
    */
  final case class StoreSpec(dir: String,
                             schema: StructType,
                             partitionCols: Seq[String] = Seq(BatchCol),
                             distribute: DataFrame => DataFrame = flat)

  /** The whole protocol, once — resolve marker, derive the watermark
    * from `watermarkDir` (the store written LAST per batch, so a listed
    * batch is fully present in every store; a torn trailing append
    * stays outside the fold and heals by replay), fold every store,
    * publish, sweep. Layouts add their own semantics via `beforeFold`
    * (e.g. [[DedupLayout.compact]] bounds its label refresh to the fold
    * watermark there).
    *
    * `sweepNow = false` defers step 3 for live-tail deployments: the
    * marker flip is safe under concurrent readers (their pre-publish
    * plans read the ORIGINAL partitions, which are still on disk and
    * carry identical rows), but DELETING those partitions while a scan
    * planned under the old view is mid-flight fails tasks — or worse,
    * with `spark.sql.files.ignoreMissingFiles`, silently truncates the
    * scan. Defer the sweep past every in-flight scan (one ingest
    * micro-batch / one probe interval) and reclaim with [[vacuum]].
    */
  def run(spark: SparkSession, markerRoot: String, watermarkDir: String,
          stores: Seq[StoreSpec], nested: Boolean = false,
          upToBatch: Option[Long] = None, sweepNow: Boolean = true,
          beforeFold: Long => Unit = _ => ()): Long = {
    val mk = marker(spark, markerRoot)
    val maxB = effectiveMaxBatch(spark, watermarkDir, mk, nested)
      .getOrElse(return mk.map(_.watermark).getOrElse(BaseBatch))
    val w = upToBatch.fold(maxB)(math.min(_, maxB))
    // a base-only store has one partition per store already — nothing
    // worth folding into a generation (a crashed predecessor's
    // unpublished generation partition stays invisible under the `>= -1`
    // view until a real batch arrives and a true fold replaces it)
    if (mk.isEmpty && w <= BaseBatch) return BaseBatch
    if (mk.exists(_.watermark >= w)) {
      // nothing new to fold — but finish a crashed predecessor's sweep
      if (sweepNow) stores.foreach(s => sweep(spark, s.dir,
        keep = compactedId(mk.get.gen), w = mk.get.watermark, nested))
      return mk.get.watermark
    }
    beforeFold(w)
    val gen = mk.map(_.gen).getOrElse(0) + 1
    stores.foreach { s =>
      if (storeExists(spark, s.dir))
        foldStore(spark, s.dir,
          foldable(spark.read.schema(s.schema).parquet(s.dir), mk, w).drop(BatchCol),
          gen, s.partitionCols, s.distribute)
    }
    publish(spark, markerRoot, gen, w)
    if (sweepNow) stores.foreach(s =>
      sweep(spark, s.dir, keep = compactedId(gen), w = w, nested))
    w
  }

  /** Reclaim the partitions the CURRENT marker shadows — the deferred
    * third step of a `sweepNow = false` compaction, run once every
    * scan planned under the pre-publish view has drained.
    */
  def vacuum(spark: SparkSession, markerRoot: String, dirs: Seq[String],
             nested: Boolean = false): Unit =
    marker(spark, markerRoot).foreach(mk => dirs.foreach(d =>
      sweep(spark, d, keep = compactedId(mk.gen), w = mk.watermark, nested)))

  /** Drop the root's compaction state — the fresh-rebuild reset. A
    * store rebuilt by a static-overwrite `materialize` writes real base
    * batches again; a SURVIVING marker would filter them out (and the
    * next compaction's resweep would delete them). Callers wipe the
    * marker FIRST: a crash after the wipe but before the rebuild leaves
    * generation partitions visible to no filter shape (`>= -1` hides
    * them), never a double-count.
    */
  def reset(spark: SparkSession, markerRoot: String): Unit =
    Sidecar.delete(spark, markerDir(markerRoot))

  /** The append-side guard every layout shares: a batch at or below the
    * compaction watermark has no per-batch partition left to rewrite —
    * refuse loudly instead of silently splitting rows between the
    * folded history and an invisible new partition.
    */
  def guardAppend(m: Option[Marker], batchId: Long, who: String): Unit =
    m.filter(batchId <= _.watermark).foreach { mk =>
      throw new IllegalStateException(
        s"$who(batch $batchId): the log is compacted through batch " +
          s"${mk.watermark} — batches at or below the watermark are " +
          "finalized; replays below it are impossible after compaction. " +
          s"Use a batch id > ${mk.watermark} (and compact only past the " +
          "ingest checkpoint's committed watermark).")
    }

  /** Read-only integrity report of one batch-partitioned store dir:
    * (check, status, detail) with status `ok`/`warn`/`fail`/`skip`.
    * Listing-only — zero Spark jobs — so [[graft.Doctor]] can fsck a
    * store whose DATA is petabytes in directory-metadata time. The
    * severity contract: `warn` is debris the protocol already tolerates
    * and its own sweeps reclaim (shadowed partitions, leftover stages,
    * unpublished folds); `fail` is a view-breaking inconsistency no
    * protocol step repairs (a published marker whose folded partition
    * is gone = readers silently lose all history below the watermark).
    */
  private[graft] def fsckLog(spark: SparkSession, dir: String,
                             m: Option[Marker],
                             nested: Boolean = false): Seq[(String, String, String)] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return Seq(("log", "skip", s"no store at $dir"))
    val out = Seq.newBuilder[(String, String, String)]
    val level1 = f.listStatus(p).toSeq
    def parse(names: Iterator[String]): Iterator[(String, Option[Long])] = names
      .filter(_.startsWith(BatchCol + "="))
      .map(n => n -> scala.util.Try(n.drop(BatchCol.length + 1).toLong).toOption)
    val batchDirs: Seq[(String, Option[Long])] =
      if (nested) level1.iterator
        .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
          !s.getPath.getName.startsWith(BatchCol))
        .flatMap(s => parse(f.listStatus(s.getPath).iterator.map(_.getPath.getName)))
        .toSeq
      else parse(level1.iterator.map(_.getPath.getName)).toSeq
    batchDirs.collect { case (n, None) =>
      out += (("partitions", "fail", s"unparseable partition dir '$n'"))
    }
    val ids = batchDirs.flatMap(_._2).distinct
    // folds write in place now; a `.compact-*` dir is debris an older,
    // staging fold left behind
    val stages = level1.count(_.getPath.getName.startsWith(".compact-"))
    if (stages > 0)
      out += (("stage", "warn",
        s"$stages leftover .compact-* stage dir(s); sweep/vacuum reclaims"))
    val gens = ids.filter(_ < BaseBatch)
    m match {
      case Some(mk) =>
        val expect = compactedId(mk.gen)
        // A store whose foldable set was EMPTY writes no generation
        // partition (dynamic overwrite of zero rows — e.g. a dup-free
        // corpus mines no pairs under the dedup root's shared
        // marker), which from the partition listing alone is
        // indistinguishable from a fold whose output was LOST. The
        // protocol therefore leaves evidence: [[foldStore]] writes the
        // [[emptyFoldReceipt]] sentinel exactly when the fold covered
        // zero rows (and removes it when it didn't), so a published
        // marker is always backed by the generation partition OR the
        // receipt — absence of both is provable loss, presence of the
        // receipt is a provably legitimate empty fold even when live
        // batches have landed above the watermark since.
        val receipted = f.exists(new Path(p, emptyFoldReceipt(mk.gen)))
        if (!gens.contains(expect) && receipted)
          out += (("generation", "ok",
            s"generation ${mk.gen} folded zero rows (receipt " +
              s"${emptyFoldReceipt(mk.gen)} present — normal for e.g. a " +
              "dup-free corpus' pairs store); live tail unaffected"))
        if (!gens.contains(expect) && !receipted && ids.nonEmpty)
          out += (("generation", "fail",
            s"marker gen-${mk.gen} published but no $BatchCol=$expect " +
              s"partition exists and no ${emptyFoldReceipt(mk.gen)} receipt " +
              s"marks it empty — history at or below wm=${mk.watermark} is unreadable"))
        // no partitions at all AND no receipt: an always-empty store
        // compacted before the receipt protocol (normal), or a fully
        // lost one — flag without failing, there is no live tail a
        // reader could be silently missing history against
        if (!gens.contains(expect) && !receipted && ids.isEmpty)
          out += (("generation", "warn",
            s"marker gen-${mk.gen} published but the store has no partitions — " +
              "an always-empty store's fold (normal), or a fully lost one; " +
              "check the sibling stores' row counts if unexpected"))
        val stale = gens.filterNot(_ == expect)
        if (stale.nonEmpty)
          out += (("generation", "warn",
            s"${stale.size} shadowed prior-generation partition(s); vacuum reclaims"))
        val shadowed = ids.filter(v => v >= BaseBatch && v <= mk.watermark)
        if (shadowed.nonEmpty)
          out += (("shadow", "warn",
            s"${shadowed.size} shadowed real-batch partition(s) <= wm=${mk.watermark}; vacuum reclaims"))
      case None =>
        if (gens.nonEmpty)
          out += (("generation", "warn",
            s"${gens.size} folded partition(s) with no published marker " +
              "(crashed fold — invisible to readers; the next compact overwrites)"))
    }
    val res = out.result()
    if (res.nonEmpty) res
    else Seq(("log", "ok",
      s"${ids.count(_ >= BaseBatch)} live batch partition(s)" +
        m.fold("")(mk => s", generation ${mk.gen} through wm=${mk.watermark}")))
  }
}
