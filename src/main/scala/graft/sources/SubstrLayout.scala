package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Tables
import graft.operators.SubstrDedup

import LogCompaction.{Marker, StoreSpec, storeExists, writeBase, writeBatch}

/** Incremental WINNOWED-FINGERPRINT store on disk — the substring-dedup
  * twin of [[TextLayout]] (tokens), [[DedupLayout]] (minhash bands),
  * and [[VectorLayout]] (ANN cells): the fourth index family gets the
  * same accrete-then-fold lifecycle the other three have.
  *
  * What a deployment actually keeps for duplicate-passage detection is
  * the winnowed index ([[SubstrDedup.winnowFpOver]] — ~2/(w+1) of the
  * positions, the measured-recall scale path), so that is what this
  * layout stores. Arrivals fingerprint ONCE into TWO batch-partitioned
  * parquet logs:
  *
  *   - the FINGERPRINT log (doc_id, pos, h) — selected anchors with
  *     their positions, the rows span queries join back to, plus one
  *     PRESENCE row (pos = −1, h = null) per ingested doc so the log
  *     tracks every batch and every doc_id even when a batch winnows
  *     to nothing (see [[withPresence]]);
  *   - per-batch HASH-COUNT partials (h, n) — winnowing and windowing
  *     are pure per-document functions and each doc lives in exactly
  *     one batch, so the batch counts SUM to the global count and the
  *     duplicated-hash set re-derives from the narrow two-column
  *     partials (map-side combined on the high-entropy key), never by
  *     re-counting the wide log.
  *
  * Re-derivation is mandatory, not an optimization: appending a batch
  * can flip a hash's global count 1 → 2, which adds duplicate spans to
  * documents ingested LONG AGO — a snapshotted span table would
  * silently miss exactly the duplication an append introduces.
  * [[spans]] therefore re-derives from the current totals;
  * SubstrLayoutSpec plants that shape (base doc unique until a later
  * batch duplicates its passage) and holds append ≡ rebuild.
  *
  * Idempotence and guards are the [[DocumentLog]] contract verbatim:
  * fingerprinting is pure per-document, each append dynamic-overwrites
  * its own `__batch_id` partition (redelivery and wiped-checkpoint
  * replay rewrite byte-identical files; SubstrLayoutSpec proves it
  * with COUNTS), an arrival doc_id already in the log prefix refuses
  * via the [[IdAuthority]] bloom sidecar (a re-appended doc would
  * double its hash counts and self-duplicate), and the
  * [[LogCompaction]] protocol folds the finalized prefix — count
  * partials are batch-order-invariant sums, so folding changes bytes on
  * disk and nothing above them.
  */
object SubstrLayout extends DocumentLog("SubstrLayout", "fingerprint-log prefix",
  // the id prefix is the FINGERPRINT log — the store carrying doc ids,
  // so a torn append still guards; counts land LAST (the watermark)
  idLog = "fingerprints", watermarkLog = "counts") {

  private val BatchCol = LogCompaction.BatchCol
  private val BaseBatch = LogCompaction.BaseBatch

  private def fpDir(root: String) = root.stripSuffix("/") + "/substr_fp"
  private def countsDir(root: String) = root.stripSuffix("/") + "/substr_counts"

  /** Declared schemas — BOTH stores can still be FILELESS (a zero-doc
    * materialize writes only _SUCCESS; presence/marker rows cover the
    * all-SHORT-doc case but not the no-doc one) and Spark cannot infer
    * a schema from a fileless parquet dir; every read declares instead
    * of inferring (the DedupLayout pairs precedent).
    */
  private val FpSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", LongType),
    StructField("h", StringType), StructField(BatchCol, LongType)))
  private val CountsSchema = StructType(Seq(
    StructField("h", StringType), StructField("n", LongType),
    StructField(BatchCol, LongType)))

  protected def logs(root: String): Seq[(String, StoreSpec)] = Seq(
    "fingerprints" -> StoreSpec(fpDir(root), FpSchema),
    "counts" -> StoreSpec(countsDir(root), CountsSchema))

  private def winnowed(spark: SparkSession, docs: DataFrame, w: Int): DataFrame =
    SubstrDedup.winnowFpOver(SubstrDedup.gramsOver(
      Tables.spread(spark, docs.select(col("doc_id"), col("text"))), w))

  // ---- Window-width pin (round-12, with the W conf knob): the log's
  // hashes are W-dependent, so the store records its build-time W and
  // every append REFUSES a session resolving a different width —
  // appending W=50 windows into a W=8 log would silently corrupt every
  // count. Reads use the pin (the store knows its own width); a
  // pre-knob root without a pin behaves as the compiled default.
  private def wPinPath(root: String) = root.stripSuffix("/") + "/_substr_w"

  /** The pin's raw state: None without a pin file, else its parsed
    * width or — for an empty, garbled or unreadable (torn) file — the
    * refusal naming it.
    */
  private def readPin(spark: SparkSession, root: String): Option[Either[String, Int]] = {
    val p = wPinPath(root)
    if (!Sidecar.exists(spark, p)) None
    // trimmed bytes, not a newline-terminated Sidecar.read: pins written
    // before the Sidecar protocol carry no trailing newline
    else Some(Sidecar.readTrimmed(spark, p)(_.toInt).filter(_ > 0).toRight(
      s"SubstrLayout: the window-width pin $p is empty, garbled or unreadable — " +
        "rewrite it with the width the logs were built at, or rebuild the store"))
  }

  private def orRefuse(pin: Either[String, Int]): Int =
    pin.fold(e => throw new IllegalStateException(e), identity)

  /** The pinned width; an unparsable pin refuses, naming the file. */
  private[graft] def pinnedW(spark: SparkSession, root: String): Option[Int] =
    readPin(spark, root).map(orRefuse)

  private def writeWPin(spark: SparkSession, root: String, w: Int): Unit =
    Sidecar.write(spark, wPinPath(root), w.toString)

  /** The width this root's logs are built at, READ-side: the pin; for
    * a pinless root whose logs EXIST (a pre-knob store), the compiled
    * default — pre-knob stores were necessarily built at it, so a
    * knobbed session must not reinterpret them at another width
    * (round-12 review: the session fallback here silently corrupted
    * exactly the store the pin exists to protect); only a pinless root
    * with NO logs yet takes the session width. The APPEND path resolves
    * through [[leasedW]] instead — width refusal and the first-append
    * pin both belong under the writer lease.
    */
  private def storeW(spark: SparkSession, root: String): Int =
    pinnedW(spark, root).getOrElse(
      if (storeExists(spark, fpDir(root))) SubstrDedup.W
      else SubstrDedup.wOf(spark))

  private def requireW(root: String, w: Int, sessionW: Int): Unit =
    if (w != sessionW) throw new IllegalStateException(
      s"SubstrLayout: store at $root is built at window width W=$w but " +
        s"the session resolves ${SubstrDedup.WKey}=$sessionW — appending " +
        "mismatched windows would silently corrupt every hash count; " +
        "repoint the session knob or rebuild the store at the new width")

  /** Width resolution + first-append pin for [[append]], run UNDER the
    * writer lease (round-12 ADVICE): resolved before the lease, two
    * concurrent first appends on a pinless log-less root each saw
    * their own session W, both passed, and the LOSER could overwrite
    * the winner's pin after the winner's logs were already built at
    * the other width — every later spans/counts read then merged at
    * the wrong W, the exact corruption the pin exists to prevent.
    * Under the lease the four states are exact, not racy:
    *
    *   - pin + logs: the store's width; a mismatched session refuses;
    *   - pin, NO logs: a crashed first append (the pin landed, the
    *     logs did not) — nothing was built at the pinned width, so
    *     the session width safely RE-PINS instead of refusing forever;
    *   - no pin, logs: pre-knob root — compiled default; a mismatched
    *     session refuses;
    *   - neither: THIS append is the base — pin the session width
    *     before any log bytes exist (a concurrent reader must never
    *     see logs without their pin).
    */
  private[graft] def leasedW(spark: SparkSession, root: String): Int = {
    val sessionW = SubstrDedup.wOf(spark)
    (readPin(spark, root), storeExists(spark, fpDir(root))) match {
      case (Some(p), true) => val w = orRefuse(p); requireW(root, w, sessionW); w
      case (Some(p), false) => // a garbled pin over no logs re-pins too
        if (!p.contains(sessionW)) writeWPin(spark, root, sessionW)
        sessionW
      case (None, true) => requireW(root, SubstrDedup.W, sessionW); SubstrDedup.W
      case (None, false) => writeWPin(spark, root, sessionW); sessionW
    }
  }

  /** The refusal half of [[leasedW]], with the pin WRITES left out —
    * run through [[IdAuthority.guardAndRecord]]'s pre-record hook, i.e.
    * under the same lease but BEFORE the sidecar bloom record publishes
    * (round-13 ADVICE: a width refusal thrown after the record left a
    * record ahead of the log with no fp partition, so one refused
    * append tripped fsck's records-ahead WARN and two tripped the
    * Doctor FAIL on a healthy store). Only the built-store states can
    * refuse; the two pin-writing states stay in [[leasedW]], after the
    * record, where the crashed-first-append re-pin belongs.
    */
  private def requireLeasedW(spark: SparkSession, root: String): Unit = {
    val sessionW = SubstrDedup.wOf(spark)
    (readPin(spark, root), storeExists(spark, fpDir(root))) match {
      case (Some(p), true) => requireW(root, orRefuse(p), sessionW)
      case (None, true)    => requireW(root, SubstrDedup.W, sessionW)
      case _               => ()
    }
  }

  /** One PRESENCE row (doc_id, pos = −1, h = null) per ingested doc on
    * top of the winnowed anchors. Two invariants hang off it (round-12
    * advice): (a) a batch whose docs ALL winnow to nothing (every doc
    * shorter than W + WinnowW − 1 tokens) still writes its fp-log
    * partition, so the log's effectiveMaxBatch keeps pace with the
    * IdAuthority sidecar — without it, one all-short append tripped
    * fsck's records-ahead warn and two tripped the wipe-the-sidecar
    * FAIL on a perfectly healthy store; (b) short docs' ids ENTER the
    * log prefix, so the doc_id-uniqueness refusal holds for them too —
    * without it, a short doc re-appended under a new batch id passed
    * the exact prefix probe (it never reached the fp log). Presence
    * rows are invisible to every derived view ([[fingerprints]]
    * filters pos ≥ 0) and cost one narrow row per doc — noise next to
    * the ~0.4-per-token anchors.
    */
  private def withPresence(fp: DataFrame, docs: DataFrame): DataFrame =
    fp.unionByName(docs.select(col("doc_id"),
      lit(-1L).as("pos"), lit(null).cast(StringType).as("h")))

  private def partials(fp: DataFrame): DataFrame =
    fp.groupBy("h").agg(count(lit(1)).as("n"))

  /** Per-batch count partials plus one (h = null, n = 0) batch-marker
    * row: the counts log lands LAST and anchors the compaction
    * watermark, so an all-short batch must be visible here too or the
    * fold would stall behind it forever. [[hashCounts]] filters the
    * marker out.
    */
  private def partialsWithMarker(spark: SparkSession, fp: DataFrame): DataFrame =
    partials(fp).unionByName(spark.range(1).select(
      lit(null).cast(StringType).as("h"), lit(0L).as("n")))

  /** One-time fingerprint of `docs` (doc_id, text) into the base batch. */
  def materialize(spark: SparkSession, docs: DataFrame, root: String): Unit = {
    // fresh rebuild: a surviving compaction marker would filter out the
    // new base batches (LogCompaction.reset scaladoc)
    LogCompaction.reset(spark, root)
    val w = SubstrDedup.wOf(spark)
    writeWPin(spark, root, w) // pin the width BEFORE any log bytes exist
    IdAuthority.recordBase(spark, root, docs.select(col("doc_id")), BaseBatch)
    val fp = winnowed(spark, docs, w).localCheckpoint() // one fingerprint pass, two stores
    writeBase(withPresence(fp, docs).sortWithinPartitions(col("pos")), fpDir(root))
    writeBase(partialsWithMarker(spark, fp), countsDir(root))
  }

  /** A ZERO-doc batch is a no-op recorded NOWHERE: letting it through
    * would publish a sidecar record (and a counts marker) with no fp
    * partition, re-creating the records-ahead asymmetry the presence
    * rows exist to prevent; an empty redelivery is equally empty, so
    * skipping preserves idempotence.
    */
  override protected def admit(arrivals: DataFrame): Option[DataFrame] =
    Some(arrivals.select(col("doc_id"), col("text")).localCheckpoint()).filterNot(_.isEmpty)

  /** Width refusal runs leased but PRE-record ([[requireLeasedW]]): a
    * mismatched session must not publish a sidecar record for a batch
    * whose fp partition will never land.
    */
  override protected def preRecord(spark: SparkSession, root: String): Unit =
    requireLeasedW(spark, root)

  /** Fingerprint ONLY the arrival batch into its own partitions of both
    * logs (the guarded [[DocumentLog.append]]).
    */
  protected def write(spark: SparkSession, arr: DataFrame, root: String,
                      batchId: Long, mk: Option[Marker]): Unit = {
    // first-append pin (and the crashed-pin re-pin) run HERE, under
    // the lease the guard left held — the refusal states already
    // passed pre-record, so this cannot throw for a width mismatch,
    // and a racing appender can no longer overwrite the winner's pin
    val w = leasedW(spark, root)
    val fp = winnowed(spark, arr, w).localCheckpoint()
    writeBatch(withPresence(fp, arr).sortWithinPartitions(col("pos")),
      batchId, fpDir(root))
    // counts land LAST: a batch visible here is complete in both
    // logs — the compaction watermark anchor (the marker row keeps
    // that true even when the batch winnowed to zero anchors)
    writeBatch(partialsWithMarker(spark, fp), batchId, countsDir(root))
  }

  def exists(spark: SparkSession, root: String): Boolean =
    storeExists(spark, fpDir(root))

  /** The winnowed fingerprint rows across all live batches — presence
    * rows (pos = −1) filtered out. Both writers sort within partitions
    * on pos, so presence rows cluster at each file's head:
    * row groups they FILL (large batches) skip on the pos min/max
    * stats; elsewhere the filter is an ordinary cheap scan predicate
    * (round-12 advice: the unsorted union made the skip claim false —
    * every row group spanned −1..max).
    */
  def fingerprints(spark: SparkSession, root: String): DataFrame =
    read(spark, root, "fingerprints").filter(col("pos") >= 0)

  /** The per-batch (h, n) hash-count partials — batch-marker rows
    * (h = null) filtered out.
    */
  def hashCounts(spark: SparkSession, root: String): DataFrame =
    read(spark, root, "counts").filter(col("h").isNotNull)

  /** Duplicate-passage spans over the CURRENT store state — the same
    * merge the registered `dedup_substr_winnow_spans` runs
    * ([[SubstrDedup.mergeSpans]]); the duplicated-hash set re-derives
    * from the narrow count partials, the positions come from one
    * hash-keyed equi-join against the fingerprint log.
    */
  def spans(spark: SparkSession, root: String): DataFrame = {
    val dup = hashCounts(spark, root)
      .groupBy("h").agg(sum("n").as("tot")).filter(col("tot") >= 2).select("h")
    SubstrDedup.mergeSpans(
      fingerprints(spark, root).join(dup, Seq("h"))
        .select(col("doc_id"), col("pos")),
      storeW(spark, root)) // reads trust the pin
  }

  /** Read-only integrity report — the [[graft.Doctor]] leg: the width
    * pin's row, then the [[DocumentLog.fsck]] rows (both logs and the
    * id-authority sidecar cross-checked against the fingerprint log).
    * An unparsable pin is one `fail` row; the log rows still print.
    */
  override def fsck(spark: SparkSession, root: String): Seq[(String, String, String)] = {
    val sessionW = SubstrDedup.wOf(spark)
    val wRow = (readPin(spark, root), storeExists(spark, fpDir(root))) match {
      case (Some(Left(e)), _) => Seq(("w_pin", "fail", e))
      case (Some(Right(w)), _) if w != sessionW => Seq(("w_pin", "warn",
        s"store pinned to W=$w but the session resolves W=$sessionW — " +
          "reads use the pin; appends from this session will refuse"))
      case (Some(Right(w)), _) => Seq(("w_pin", "ok", s"window width W=$w (pinned)"))
      case (None, true) if SubstrDedup.W != sessionW => Seq(("w_pin", "warn",
        s"pre-knob root (no pin) built at the compiled default W=${SubstrDedup.W}; " +
          s"the session resolves W=$sessionW — reads use the default; appends refuse"))
      case (None, true) => Seq(("w_pin", "ok",
        s"no width pin (pre-knob root) — compiled default W=${SubstrDedup.W} applies"))
      case _ => Seq.empty
    }
    wRow ++ super.fsck(spark, root)
  }
}
