package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{DedupLayout, SubstrLayout, TextLayout, VectorLayout}

/** The scheduled MAINTENANCE job — [[StoreBuild]]'s operational twin.
  * StoreBuild lays the artifacts down once; streaming ingest
  * ([[graft.streaming.DedupStream]]/[[graft.streaming.TextStream]]/
  * [[graft.streaming.VectorStream]]) grows them batch by batch; this
  * job is everything a deployment runs BETWEEN ingests to keep them
  * healthy, in dependency order per store family:
  *
  *   - dedup: advance the cluster labels over every complete appended
  *     batch ([[DedupLayout.refreshLabels]]), then fold the batch log
  *     ([[DedupLayout.compact]] — which re-bounds the refresh to its
  *     own watermark, so running both is safe and idempotent);
  *   - text: fold the token/partials logs ([[TextLayout.compact]]);
  *   - substr: fold the fingerprint/count logs ([[SubstrLayout.compact]];
  *     roots built before the substr family report a skip);
  *   - vectors (only when the layout exists — a root whose vector
  *     family was never built reports a skip instead of crashing):
  *     fold the cell/batch log ([[VectorLayout.compact]]), read the
  *     drift report, and when it demands a retrain, ACT —
  *     [[VectorLayout.retrainAndSwap]]; on every versioned run, GC
  *     retired versions. Reclaim is WALL-CLOCK gated: a retired
  *     version survives every run until [[VectorLayout.VersionGraceMs]]
  *     (conf [[VectorLayout.GcMinAgeKey]]) has elapsed since it was
  *     superseded, so the reader-drain grace holds even when runs
  *     collapse in time; the swap run additionally keeps the version
  *     it just retired (keep=2) regardless of age.
  *
  * The four family blocks (dedup, text, substr, vectors) touch
  * disjoint store roots, so they run side by side on driver threads
  * ([[Families.all]]); the store root conf is set once, before they
  * fork, and no block writes session conf (the exception is a retrain
  * under `ncells=auto`, which pins K inside the vector block — only
  * vector code reads that key). The outcome lines keep family order.
  *
  * Every step is idempotent and watermark-gated, so the job can run on
  * any schedule, after any crash, with nothing to hand it but the
  * root. Deployments running [[graft.streaming.VectorStream
  * .probeLayoutSink]] should also run [[graft.streaming.VectorStream
  * .pruneWatermarks]] per stream alongside this job — the pin sidecar
  * is keyed by each stream's OUTPUT dir, which only the stream owner
  * knows, so it cannot be reached from the store root alone. Quiescence contract: run between ingest drains (or bound
  * compaction with `upToBatch`/`sweepNow=false` — see
  * [[graft.sources.LogCompaction.run]]); this main assumes the
  * scheduled-slot deployment and takes the defaults.
  *
  * Usage: `runMain graft.StoreMaintain <storeRoot>`
  */
object StoreMaintain {

  /** Run every maintenance action; returns (action, outcome) lines in
    * family order (dedup, text, substr, sim). The four family blocks
    * run side by side ([[Families.all]]); the store root is set once,
    * before they fork.
    */
  def maintainAll(spark: SparkSession, root: String): Seq[(String, String)] = {
    spark.conf.set(CacheLife.RootKey, root)
    Families.all(Seq(
      () => dedup(spark, StoreBuild.dedupLayoutDir(root)),
      () => Seq("text.compact" ->
        s"watermark=${TextLayout.compact(spark, StoreBuild.textLayoutDir(root))}"),
      () => substr(spark, StoreBuild.substrLayoutDir(root)),
      () => vectors(spark, StoreBuild.vectorLayoutDir(root)))).flatten
  }

  private def dedup(spark: SparkSession, dedupRoot: String): Seq[(String, String)] = {
    DedupLayout.refreshLabels(spark, dedupRoot)
    Seq("dedup.refresh_labels" -> "refreshed",
      "dedup.compact" -> s"watermark=${DedupLayout.compact(spark, dedupRoot)}")
  }

  private def substr(spark: SparkSession, substrRoot: String): Seq[(String, String)] =
    Seq("substr.compact" ->
      (if (SubstrLayout.exists(spark, substrRoot))
        s"watermark=${SubstrLayout.compact(spark, substrRoot)}"
      else "skipped: no layout")) // roots built before the substr family

  private def vectors(spark: SparkSession, vecRoot: String): Seq[(String, String)] = {
    // the dedup/text steps no-op gracefully on an absent store, but
    // every vector action below starts from a layout read — on a root
    // whose vector family was never built, report the skip instead of
    // crashing with a bare path error (round-9 advice)
    if (!VectorLayout.exists(spark, vecRoot))
      return Seq("sim.layout_drift" -> "skipped: no layout")
    val out = Seq.newBuilder[(String, String)]
    out += "sim.layout_compact" ->
      s"watermark=${VectorLayout.compact(spark, vecRoot)}"

    val drift = VectorLayout.occupancyDrift(spark, vecRoot).head()
    val retrain = drift.getAs[Boolean]("retrain")
    out += "sim.layout_drift" -> s"retrain=$retrain"
    val versioned = VectorLayout.currentVersion(spark, vecRoot).isDefined
    var swapped = false
    if (retrain) {
      // only actionable on a VERSIONED root; a plain layout dir
      // (StoreBuild's default) reports the drift and leaves the swap to
      // a versioned deployment
      if (versioned) {
        val v = VectorLayout.retrainAndSwap(spark, vecRoot)
        swapped = true
        out += "sim.layout_retrain" -> s"swapped=v$v"
      } else {
        out += "sim.layout_retrain" -> "skipped: unversioned root (run materializeVersioned to enable swaps)"
      }
    }
    if (versioned) {
      // GC runs EVERY versioned cycle (round-8 review: inside the
      // retrain branch, a quiet-after-swap deployment would retain the
      // retired version forever). keep=2 on the swap run holds the
      // just-retired version regardless of age; after that the
      // wall-clock grace ([[VectorLayout.gcVersions]]) is the gate.
      val gcd = VectorLayout.gcVersions(spark, vecRoot,
        keep = if (swapped) 2 else 1)
      out += "sim.layout_gc" ->
        (if (gcd.isEmpty) "none" else gcd.map("v" + _).mkString(","))
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    maintainAll(spark, args(0)).foreach { case (name, outcome) =>
      println(s"[maintain] $name: $outcome")
    }
    CacheLife.release(spark)
    spark.stop()
  }
}
