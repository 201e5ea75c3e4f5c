package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.SimilarityQueries

/** The corpus-wide kNN OUTPUT memo contract (round-17 verdict #1: the
  * pqres recall row was reported re-deriving a graph its main row had
  * cached moments earlier — whatever the record artifact was, THIS is
  * the spec that makes any variant's silent memo miss a test failure,
  * not a bench forensic): a second derivation of a cached kNN variant
  * performs ZERO rebuilds — [[CacheLife.buildCount]] stays at 1 and the
  * recall row is served the exact frame its main row materialized.
  */
class KnnMemoSpec extends SparkSpec {

  private val variants: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ivf" -> (SimilarityQueries.knnAnn _),
    "pq" -> (SimilarityQueries.knnAnnPq _),
    "pqres" -> (SimilarityQueries.knnAnnPqRes _),
    "kmeans" -> (SimilarityQueries.knnAnnKmeans _),
    "hier" -> (SimilarityQueries.knnAnnHier _),
    "hierpq" -> (SimilarityQueries.knnAnnHierPq _),
    "hierpqres" -> (SimilarityQueries.knnAnnHierPqRes _),
  )

  private val recalls: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ivf" -> (SimilarityQueries.knnAnnRecall _),
    "pq" -> (SimilarityQueries.knnAnnPqRecall _),
    "pqres" -> (SimilarityQueries.knnAnnPqResRecall _),
    "hier" -> (SimilarityQueries.knnAnnHierRecall _),
    "hierpq" -> (SimilarityQueries.knnAnnHierPqRecall _),
    "hierpqres" -> (SimilarityQueries.knnAnnHierPqResRecall _),
  )

  test("second derivation of every cached kNN variant performs zero rebuilds") {
    CacheLife.release(spark)
    variants.foreach { case (v, fn) =>
      val key = SimilarityQueries.knnOutKeyFor(spark, Sf, v)
      val before = CacheLife.buildCount(spark, key)
      val first = fn(spark, Sf)
      first.count()
      assert(CacheLife.buildCount(spark, key) === before + 1,
        s"variant $v: main derivation must register exactly one build")
      val second = fn(spark, Sf)
      assert(second eq first,
        s"variant $v: second derivation must be served the memoized frame")
      assert(CacheLife.buildCount(spark, key) === before + 1,
        s"variant $v: second derivation must not rebuild")
    }
    CacheLife.release(spark)
  }

  test("every recall row rides its main row's memo — zero kNN rebuilds") {
    CacheLife.release(spark)
    recalls.foreach { case (v, recall) =>
      val key = SimilarityQueries.knnOutKeyFor(spark, Sf, v)
      val before = CacheLife.buildCount(spark, key)
      variants.toMap.apply(v)(spark, Sf).count() // the bench's main row
      recall(spark, Sf).count() // the eval row, moments later
      assert(CacheLife.buildCount(spark, key) === before + 1,
        s"variant $v: the recall row re-derived the graph its main row cached")
    }
    CacheLife.release(spark)
  }

  test("ncells=auto resolves on first corpus touch of a memoized kNN query") {
    // round-17 advice: knnOutKey is computed EAGERLY, so the key itself
    // must pin auto — the dir-less nCellsOf(s) there threw
    // unresolved-auto for any direct knobbed call with no prior pin
    CacheLife.release(spark)
    withConf(SimilarityQueries.NCellsKey -> SimilarityQueries.AutoNCells) {
      SimilarityQueries.knnAnnKmeans(spark, Sf).count() // must not throw
      val pinned = spark.conf.get(SimilarityQueries.NCellsKey)
      assert(pinned != SimilarityQueries.AutoNCells && pinned.toInt >= 2,
        s"first touch must pin auto to a concrete K, got '$pinned'")
    }
    CacheLife.release(spark)
  }

  test("kNN output memos are session-only: no on-disk store, drop() means re-execution") {
    // round-17 advice: under a store root, cached() round-tripped the
    // kNN outputs through parquet, so a post-drop "rebuild" silently
    // became a store read (KSweep/cold-leg timings would measure scans)
    val root = java.nio.file.Files.createTempDirectory("graft-knnmemo").toString
    CacheLife.release(spark)
    withConf(CacheLife.RootKey -> root) {
      SimilarityQueries.knnAnnKmeans(spark, Sf).count()
      val key = SimilarityQueries.knnOutKeyFor(spark, Sf, "kmeans")
      assert(CacheLife.buildCount(spark, key) >= 1)
      val knnStores = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith(CacheLife.encodeKey("sim.knn-out")))
      assert(knnStores.isEmpty,
        s"kNN output memos must never persist under the store root, " +
          s"found: ${knnStores.map(_.getName).mkString(", ")}")
      val before = CacheLife.buildCount(spark, key)
      CacheLife.drop(spark, "sim.knn-out")
      SimilarityQueries.knnAnnKmeans(spark, Sf).count()
      assert(CacheLife.buildCount(spark, key) === before + 1,
        "post-drop derivation must re-execute the probe, not read a store")
    }
    CacheLife.release(spark)
  }

  test("dropOutputMemos makes a warmed sim_ann_* row re-execute its probe") {
    // a steady leg (Profile.coldSteady) that dropped only the kNN
    // outputs re-read the ANN probe memo instead of re-running it.
    // Collecting a memoized row still runs the one job that reads
    // the memo; a re-executed probe runs its broadcast and scan jobs too
    val row = SparkEntry.queries("sim_ann_ivf")
    CacheLife.release(spark)
    try {
      row(spark, Sf).collect()
      val memoRead = jobsDuring(row(spark, Sf).collect())
      CacheLife.drop(spark, "sim.knn-out")
      assert(jobsDuring(row(spark, Sf).collect()) === memoRead,
        "dropping the kNN outputs alone must leave the probe memo in place")
      SimilarityQueries.dropOutputMemos(spark)
      val rebuilt = jobsDuring(row(spark, Sf).collect())
      assert(rebuilt > memoRead,
        s"after dropOutputMemos the row ran $rebuilt jobs, a memo read runs $memoRead")
    } finally CacheLife.release(spark)
  }

  test("KSweep's probe_auto adjudication is the engine's own crossover function") {
    // round-17 advice: the formula lived twice; now one definition
    val n = 20000L
    val autoK = SimilarityQueries.autoKFor(n)
    assert(SimilarityQueries.sessionProbeModeFor(autoK, n) === "flat")
    assert(SimilarityQueries.sessionProbeModeFor(
      SimilarityQueries.HierProbeSessionMinKFactor * autoK, n) === "hier")
    assert(SimilarityQueries.sessionProbeModeFor(
      SimilarityQueries.HierProbeSessionMinKFactor * autoK - 1, n) === "flat")
  }
}
