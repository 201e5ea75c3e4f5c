package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{DedupLayout, TextLayout, VectorLayout}

/** The maintenance job: after streaming growth, one parameterless run
  * must advance the cluster labels, fold every batch log, read the
  * drift report, and — on a versioned root — act on it. Everything
  * idempotent: a second run changes nothing.
  */
class StoreMaintainSpec extends SparkSpec {

  private def batchDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filter(_.startsWith("__batch_id=")).sorted

  test("maintain after growth: labels advance, logs fold, drift quiet; unversioned retrain is reported not forced") {
    val root = Files.createTempDirectory("graft-maintain").toString
    val s = spark.newSession()
    StoreBuild.buildAll(s, Sf, root)

    // streaming-shaped growth: one appended batch per store, NEW ids
    // (copies of a corpus slice — near-dups of their originals)
    val off = 10000000L
    val docs = Tables.documents(s, Sf)
      .filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    DedupLayout.append(s, docs, StoreBuild.dedupLayoutDir(root), batchId = 0L)
    TextLayout.append(s, docs, StoreBuild.textLayoutDir(root), batchId = 0L)
    VectorLayout.append(s, Sf, StoreBuild.vectorLayoutDir(root),
      Tables.embeddings(s, Sf).filter(col("vec_id") % 3 === 0)
        .select((col("vec_id") + off).as("vec_id"), col("embedding")),
      batchId = 0L)

    val lines = StoreMaintain.maintainAll(s, root)
    assert(lines.map(_._1) === Seq("dedup.refresh_labels", "dedup.compact",
      "text.compact", "substr.compact", "sim.layout_compact", "sim.layout_drift"),
      s"outcome lines must come in family order (dedup, text, substr, sim): $lines")
    val outcomes = lines.toMap
    assert(outcomes("dedup.compact") === "watermark=0", outcomes.toString)
    assert(outcomes("text.compact") === "watermark=0", outcomes.toString)
    assert(outcomes("sim.layout_compact") === "watermark=0", outcomes.toString)
    assert(outcomes("sim.layout_drift") === "retrain=false",
      s"1.33x balanced growth must stay under the drift factor: $outcomes")

    // labels advanced over the appended batch: the copies pair with
    // their originals, so the appended ids are clustered
    assert(DedupLayout.labels(s, StoreBuild.dedupLayoutDir(root))
      .filter(col("doc_id") >= off).count() > 0,
      "refresh must label the appended near-dup copies")
    // every log folded to its generation partition
    assert(batchDirs(StoreBuild.dedupLayoutDir(root) + "/pairs")
      === Seq("__batch_id=-2"))
    assert(batchDirs(StoreBuild.textLayoutDir(root) + "/tokens")
      === Seq("__batch_id=-2"))

    // idempotence: a second maintenance run re-reports and changes nothing
    val again = StoreMaintain.maintainAll(s, root).toMap
    assert(again("dedup.compact") === "watermark=0" &&
      again("sim.layout_drift") === "retrain=false", again.toString)

    // hot growth on the UNVERSIONED root: the job reports the retrain
    // demand and the missing lever, never half-acts
    val hot = Tables.embeddings(s, Sf)
      .filter(col("vec_id") === graft.operators.SimilarityQueries.QueryVecId)
      .select(explode(sequence(lit(2000000L), lit(2000400L))).as("vec_id"),
        col("embedding"))
    VectorLayout.append(s, Sf, StoreBuild.vectorLayoutDir(root), hot, batchId = 1L)
    val third = StoreMaintain.maintainAll(s, root).toMap
    assert(third("sim.layout_drift") === "retrain=true", third.toString)
    assert(third("sim.layout_retrain").startsWith("skipped: unversioned"),
      third.toString)
    assert(!third.contains("sim.layout_gc"),
      s"GC is a versioned-root action: $third")
    CacheLife.release(spark)
  }

  test("maintain on a root whose vector family was never built skips, not crashes") {
    val root = Files.createTempDirectory("graft-maintain-novec").toString
    val s = spark.newSession()
    // a text-only deployment: dedup + text layouts exist, vectors never built
    val docs = Tables.documents(s, Sf).select(col("doc_id"), col("text"))
    DedupLayout.materialize(s, docs, StoreBuild.dedupLayoutDir(root))
    TextLayout.materialize(s, docs, StoreBuild.textLayoutDir(root))

    val lines = StoreMaintain.maintainAll(s, root)
    assert(lines.map(_._1) === Seq("dedup.refresh_labels", "dedup.compact",
      "text.compact", "substr.compact", "sim.layout_drift"), lines.toString)
    val outcomes = lines.toMap
    assert(outcomes("dedup.refresh_labels") === "refreshed", outcomes.toString)
    assert(outcomes("sim.layout_drift") === "skipped: no layout",
      s"an absent vector layout must report a skip, not crash: $outcomes")
    assert(!outcomes.contains("sim.layout_compact") &&
      !outcomes.contains("sim.layout_retrain") &&
      !outcomes.contains("sim.layout_gc"),
      s"no vector action may run without a layout: $outcomes")
    CacheLife.release(spark)
  }

  test("maintain on a versioned root acts on drift: swap, fresh baseline, GC grace") {
    val root = Files.createTempDirectory("graft-maintain-v").toString
    val s = spark.newSession()
    val vecRoot = StoreBuild.vectorLayoutDir(root)
    VectorLayout.materializeVersioned(s, Sf, vecRoot)
    val hot = Tables.embeddings(s, Sf)
      .filter(col("vec_id") === graft.operators.SimilarityQueries.QueryVecId)
      .select(explode(sequence(lit(3000000L), lit(3000400L))).as("vec_id"),
        col("embedding"))
    VectorLayout.append(s, Sf, vecRoot, hot, batchId = 0L)

    val actedLines = StoreMaintain.maintainAll(s, root)
    assert(actedLines.map(_._1) === Seq("dedup.refresh_labels", "dedup.compact",
      "text.compact", "substr.compact", "sim.layout_compact", "sim.layout_drift",
      "sim.layout_retrain", "sim.layout_gc"), actedLines.toString)
    val acted = actedLines.toMap
    assert(acted("sim.layout_drift") === "retrain=true", acted.toString)
    assert(acted("sim.layout_retrain") === "swapped=v2", acted.toString)
    assert(acted("sim.layout_gc") === "none",
      s"the swap run must hold the retired version for its grace window: $acted")
    assert(VectorLayout.currentVersion(s, vecRoot) === Some(2))

    // under the DEFAULT wall-clock grace, quiet runs — even two in
    // rapid succession, the exact cadence collapse the round-9 grace
    // exists for — reclaim NOTHING: v1's drain clock is a day of
    // wall-clock, not a count of maintenance runs
    val quiet1 = StoreMaintain.maintainAll(s, root).toMap
    assert(quiet1("sim.layout_drift") === "retrain=false", quiet1.toString)
    val quiet2 = StoreMaintain.maintainAll(s, root).toMap
    assert(quiet1("sim.layout_gc") === "none" &&
      quiet2("sim.layout_gc") === "none",
      s"back-to-back quiet runs must hold the retired version: $quiet1 / $quiet2")
    assert(new java.io.File(vecRoot, "v1").exists(),
      "v1 must survive quiet maintenance inside its drain grace")

    // a deployment with a tighter reader-drain bound opts in via conf;
    // the QUIET run then reclaims — grace (zero) elapsed, keep=1
    // (round-8 review: GC inside the retrain branch would retain v1
    // until the next drift event)
    s.conf.set(VectorLayout.GcMinAgeKey, "0")
    val calm = StoreMaintain.maintainAll(s, root).toMap
    assert(calm("sim.layout_drift") === "retrain=false", calm.toString)
    assert(!calm.contains("sim.layout_retrain"), calm.toString)
    assert(calm("sim.layout_gc") === "v1",
      s"the quiet run must reclaim the retired version: $calm")
    assert(!new java.io.File(vecRoot, "v1").exists() &&
      VectorLayout.currentVersion(s, vecRoot) === Some(2))
    assert(VectorLayout.vectors(s, vecRoot).count() > 0,
      "the current version must keep answering after GC")
    CacheLife.release(spark)
  }
}
