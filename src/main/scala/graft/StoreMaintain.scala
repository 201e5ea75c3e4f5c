package graft

import org.apache.spark.sql.SparkSession

/** The scheduled MAINTENANCE job — [[StoreBuild]]'s operational twin.
  * StoreBuild lays the artifacts down once; streaming ingest (each
  * family's `ingest`, [[graft.streaming.IngestSink]]) grows them batch
  * by batch; this job is everything a deployment runs BETWEEN ingests
  * to keep them healthy: each family's `maintain` of
  * [[Families.registry]], in dependency order within the family:
  *
  *   - dedup: advance the cluster labels over every complete appended
  *     batch ([[graft.sources.DedupLayout.refreshLabels]], which reads
  *     only the new pairs and the stored labels), then fold the batch
  *     log ([[graft.sources.DocumentLog.compact]] — which re-bounds the
  *     refresh to its own watermark, so running both is safe and
  *     idempotent, and deletes the `edges` store a root from an earlier
  *     layout holds);
  *   - text: fold the token/partials logs;
  *   - substr: fold the fingerprint/count logs (roots built before the
  *     substr family report a skip);
  *   - vectors (only when the layout exists): fold the cell/batch log,
  *     read the drift report, retrain-and-swap on a versioned root when
  *     it demands one, and GC retired versions past their wall-clock
  *     grace (see `Families.maintainVectors`).
  *
  * The family blocks touch disjoint store roots, so they run side by
  * side on driver threads ([[Families.all]]); the store root conf is
  * set once, before they fork, and no block writes session conf (the
  * exception is a retrain under `ncells=auto`, which pins K inside the
  * vector block — only vector code reads that key). The outcome lines
  * keep registry order.
  *
  * Every step is idempotent and watermark-gated, so the job can run on
  * any schedule, after any crash, with nothing to hand it but the
  * root. Deployments running [[graft.streaming.VectorStream
  * .probeLayoutSink]] should also run [[graft.streaming.VectorStream
  * .pruneWatermarks]] per stream alongside this job — the pin sidecar
  * is keyed by each stream's OUTPUT dir, which only the stream owner
  * knows, so it cannot be reached from the store root alone.
  * Quiescence contract: run between ingest drains (or bound compaction
  * with `upToBatch`/`sweepNow=false` — see
  * [[graft.sources.LogCompaction.run]]); this main assumes the
  * scheduled-slot deployment and takes the defaults.
  *
  * Usage: `runMain graft.StoreMaintain <storeRoot>`
  */
object StoreMaintain {

  /** Run every maintenance action; returns (action, outcome) lines in
    * registry order (dedup, text, substr, sim).
    */
  def maintainAll(spark: SparkSession, root: String): Seq[(String, String)] = {
    spark.conf.set(CacheLife.RootKey, root)
    Families.all(Families.registry.map(f => () => f.maintain(spark, f.dir(root)))).flatten
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
