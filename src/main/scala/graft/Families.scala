package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors, ThreadFactory}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{DedupLayout, DocumentLog, SubstrLayout, TextLayout, VectorLayout}
import graft.streaming.{IngestSink, VectorStream}

/** The corpus a store family is built from: the name of its landing
  * dir under `<root>/_landing`, its id column, and its read (one
  * schema-inferring scan of the scale-factor dir — callers read each
  * corpus ONCE and slice it per family).
  */
final case class Corpus(name: String, idCol: String,
                        read: (SparkSession, String) => DataFrame)

/** One incremental store family — the contract [[StreamDrain]],
  * [[StoreMaintain]], [[StoreBuild]] and [[Doctor]] iterate instead of
  * naming the four layouts one by one. Every family runs the same
  * lifecycle (base → stream ingest → maintain → fsck); an entry holds
  * exactly the hooks that lifecycle needs:
  *
  *   - `name`: the family tag [[Doctor]] prints and the base step's
  *     name (`base: <name>.materialize`); `stream` names its ingest
  *     step (`drain: <stream> ingest`) and `checkpoint` its checkpoint
  *     dir under `<root>/_ckpt`; `buildName` is its [[StoreBuild]]
  *     line. They differ only for vectors, whose names predate the
  *     registry, and the benchmark and specs read them verbatim;
  *   - `dir`: the family's dir under a store root (the
  *     `StoreBuild.*LayoutDir` helpers stay its one definition);
  *   - `base(spark, sfDir, slice, dir)`: build the store from `slice`,
  *     a slice of its `corpus`;
  *   - `ingest(spark, sfDir, landing, dir, checkpoint)`: start its
  *     stream from a landing dir ([[graft.streaming.IngestSink]]);
  *   - `maintain(spark, dir)`: run its between-drains maintenance,
  *     returning `(key, outcome)` lines;
  *   - `fsck(spark, dir)`: its read-only integrity rows.
  *
  * The families share no directory and no mutable engine state
  * ([[CacheLife]] keeps its maps in `TrieMap`s;
  * [[graft.sources.IdAuthority]] holds one lease per store root), so
  * the lifecycle mains run their per-family steps through [[Families
  * .all]]: the driver submits the families' small jobs side by side
  * instead of one after another.
  */
final case class StoreFamily(
    name: String, stream: String, checkpoint: String, buildName: String,
    dir: String => String, corpus: Corpus,
    base: (SparkSession, String, DataFrame, String) => Unit,
    ingest: (SparkSession, String, String, String, String) => StreamingQuery,
    maintain: (SparkSession, String) => Seq[(String, String)],
    fsck: (SparkSession, String) => Seq[(String, String, String)])

/** The store-family registry, and the fork-join its lifecycle steps
  * run through.
  *
  * Thread-safety rule for a task: it writes only under its own family's
  * root and sets no session conf (a sibling would read it mid-flight).
  * Callers resolve shared session state before they fork. One sharing
  * is left to Spark: its CacheManager is keyed by plan, so families
  * that persist the same plan at once (the base id set the three
  * document families record through [[graft.sources.IdAuthority]])
  * share one cache entry. The data is identical by construction; the
  * first `unpersist` drops the entry and a sibling still reading it
  * recomputes the missing partitions from lineage.
  */
object Families {

  val Docs: Corpus = Corpus("docs", "doc_id",
    (spark, sfDir) => Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
  val Vecs: Corpus = Corpus("vecs", "vec_id",
    (spark, sfDir) => Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")))
  val corpora: Seq[Corpus] = Seq(Docs, Vecs)

  /** A document family: a [[DocumentLog]] fed by the document stream. */
  private def document(name: String, dir: String => String, layout: DocumentLog,
                       maintain: (SparkSession, String) => Seq[(String, String)]) =
    StoreFamily(name, name, name, s"$name.incr_layout", dir, Docs,
      base = (spark, _, docs, d) => layout.materialize(spark, docs, d),
      ingest = (spark, _, landing, d, ckpt) =>
        IngestSink.start(IngestSink.read(spark, landing), ckpt)(layout.append(_, _, d, _)),
      maintain, fsck = layout.fsck)

  private def compacted(name: String, layout: DocumentLog)(spark: SparkSession,
                                                          d: String) =
    Seq(s"$name.compact" -> s"watermark=${layout.compact(spark, d)}")

  /** Every store family, in the order the drain starts their streams
    * (`stream.<name>.*` is keyed by it) and [[Doctor]] prints them.
    */
  val registry: Seq[StoreFamily] = Seq(
    // label refresh first; compact re-bounds it to its own watermark,
    // so running both is safe and idempotent
    document("dedup", StoreBuild.dedupLayoutDir, DedupLayout, (spark, d) => {
      DedupLayout.refreshLabels(spark, d)
      ("dedup.refresh_labels" -> "refreshed") +: compacted("dedup", DedupLayout)(spark, d)
    }),
    document("text", StoreBuild.textLayoutDir, TextLayout, compacted("text", TextLayout)),
    document("substr", StoreBuild.substrLayoutDir, SubstrLayout, (spark, d) =>
      if (SubstrLayout.exists(spark, d)) compacted("substr", SubstrLayout)(spark, d)
      else Seq("substr.compact" -> "skipped: no layout")), // roots built before the family
    StoreFamily("vectors", "vector", "vecs", "sim.vector_layout",
      StoreBuild.vectorLayoutDir, Vecs,
      base = (spark, sfDir, vecs, d) => VectorLayout.materializeFrom(spark, sfDir, vecs, d),
      ingest = (spark, sfDir, landing, d, ckpt) =>
        VectorStream.ingestSink(VectorStream.read(spark, landing), sfDir, d, ckpt),
      maintain = maintainVectors, fsck = VectorLayout.fsck))

  /** The vector family's maintenance (only when the layout exists — a
    * root whose vector family was never built reports a skip instead of
    * crashing with a bare path error): fold the cell/batch log, read
    * the drift report, and when it demands a retrain, ACT —
    * [[VectorLayout.retrainAndSwap]] on a VERSIONED root (a plain
    * layout dir, StoreBuild's default, reports the drift and leaves
    * the swap to a versioned deployment). Every versioned run also GCs
    * retired versions, and reclaim is WALL-CLOCK gated: a retired
    * version survives until [[VectorLayout.VersionGraceMs]] (conf
    * [[VectorLayout.GcMinAgeKey]]) has elapsed since it was superseded,
    * so the reader-drain grace holds even when runs collapse in time;
    * the swap run additionally keeps the version it just retired
    * (keep=2) regardless of age.
    */
  private def maintainVectors(spark: SparkSession, vecRoot: String): Seq[(String, String)] = {
    if (!VectorLayout.exists(spark, vecRoot))
      return Seq("sim.layout_drift" -> "skipped: no layout")
    val out = Seq.newBuilder[(String, String)]
    out += "sim.layout_compact" -> s"watermark=${VectorLayout.compact(spark, vecRoot)}"
    val retrain = VectorLayout.occupancyDrift(spark, vecRoot).head().getAs[Boolean]("retrain")
    out += "sim.layout_drift" -> s"retrain=$retrain"
    val versioned = VectorLayout.currentVersion(spark, vecRoot).isDefined
    val swapped = retrain && versioned
    if (swapped)
      out += "sim.layout_retrain" -> s"swapped=v${VectorLayout.retrainAndSwap(spark, vecRoot)}"
    else if (retrain)
      out += "sim.layout_retrain" -> "skipped: unversioned root (run materializeVersioned to enable swaps)"
    if (versioned) {
      // GC runs EVERY versioned cycle, not only after a swap: a
      // quiet-after-swap deployment would otherwise retain the retired
      // version forever
      val gcd = VectorLayout.gcVersions(spark, vecRoot, keep = if (swapped) 2 else 1)
      out += "sim.layout_gc" -> (if (gcd.isEmpty) "none" else gcd.map("v" + _).mkString(","))
    }
    out.result()
  }

  /** Name prefix of the worker threads (a spec checks none outlive [[all]]). */
  val ThreadPrefix = "graft-family-"

  /** Run every task on its own driver thread; return the results in
    * task order.
    *
    * The pool is created per call, and its threads are created from the
    * calling thread, so each worker inherits the caller's Spark local
    * properties (job group, job description, scheduler pool) and active
    * session. Every task is awaited even after one fails; only then is
    * the first failure in task order rethrown, any later ones attached
    * to it as suppressed. No worker thread is alive when this returns.
    */
  def all[A](tasks: Seq[() => A]): Seq[A] = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val factory: ThreadFactory = (r: Runnable) => {
      val t = new Thread(r, ThreadPrefix + threads.size)
      t.setDaemon(true)
      threads.add(t)
      t
    }
    val pool = Executors.newFixedThreadPool(tasks.size max 1, factory)
    val outcomes =
      try {
        val futures = tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        futures.map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      } finally {
        pool.shutdownNow()
        threads.asScala.foreach(_.join())
      }
    val failures = outcomes.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    outcomes.map(_.get)
  }
}
