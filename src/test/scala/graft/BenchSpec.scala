package graft

import java.nio.file.{Files, Paths}

/** Bench harness contracts: the up-corpus default resolution (a stray
  * `testdata_up` in an arbitrary CWD must not silently win), the
  * contention-telemetry sampler and its `host_quiet` gate, and the
  * cold/steady legs the record's `cold` section and graft.Profile share.
  * Only the last needs the (lazy) SparkSession.
  */
class BenchSpec extends SparkSpec {

  test("a CWD that is not a repo root offers ONLY the canonical absolute corpus") {
    val cwd = Files.createTempDirectory("graft-bench-cwd")
    // a stray testdata_up/sf1 in this non-repo CWD must NOT be offered
    Files.createDirectories(cwd.resolve("testdata_up").resolve("sf1"))
    assert(Bench.upCorpusCandidates("sf1", cwd) === Seq("/root/repo/testdata_up/sf1"))
  }

  test("a repo-root CWD (build.sbt present) offers its own corpus first, fallback second") {
    val cwd = Files.createTempDirectory("graft-bench-repo")
    Files.writeString(cwd.resolve("build.sbt"), "// marker")
    assert(Bench.upCorpusCandidates("sf10", cwd) === Seq(
      cwd.resolve("testdata_up").resolve("sf10").toString,
      "/root/repo/testdata_up/sf10"))
  }

  test("the real repo root resolves to its own testdata_up ONCE (no duplicate candidate)") {
    val repo = Paths.get("/root/repo")
    assert(Bench.upCorpusCandidates("sf1", repo) ===
      Seq("/root/repo/testdata_up/sf1"))
  }

  test("loadAvg returns a finite non-negative sample on this host") {
    val l = Bench.loadAvg()
    assert(!l.isNaN && l >= 0.0 && l < 100000.0, s"implausible loadavg $l")
  }

  test("host_quiet admits a start load up to a tenth of the CPUs, and no more") {
    assert(Bench.hostQuiet(0.0, 10))
    assert(Bench.hostQuiet(1.0, 10))
    assert(!Bench.hostQuiet(1.01, 10))
    // the former half-the-CPUs bound called a 10-CPU host at load 5 quiet
    assert(!Bench.hostQuiet(5.0, 10))
  }

  test("cpuCanary measures positive fixed work and is roughly stable on an idle host") {
    Bench.cpuCanary() // JIT warm-up, discarded
    val a = Bench.cpuCanary(); val b = Bench.cpuCanary()
    assert(a > 0.001 && a < 30.0, s"implausible canary $a s")
    assert(math.max(a, b) / math.min(a, b) < 5.0,
      s"back-to-back canaries should be the same order: $a vs $b")
  }

  test("forked-pass records round-trip errors_detail (the adjudication field)") {
    // round-18 verdict "what's missing" #2: a failed bench row recorded
    // only -1.0 — 7 rotation failures shipped with their cause
    // discarded. The exception text now rides the record; this pins the
    // serialize→parse identity INCLUDING the empty map (detail absent
    // must parse as absent, and the n_errors_detail loud-drop count
    // must hold on both shapes).
    val withErr = Bench.PassResult(
      builds = Seq("b.one" -> 1.5),
      queries = Seq("q_ok" -> 0.25, "q_bad" -> -1.0),
      errors = Seq("q_bad"), rows = Map("q_ok" -> 10L),
      resolvedNCells = "633", resolvedProbe = "flat",
      errorsDetail = Seq(
        "q_bad" -> "java.lang.OutOfMemoryError: Java heap space"))
    val rt = Bench.parsePassJson(Bench.passJson(withErr))
    assert(rt.errors === Seq("q_bad"))
    assert(rt.errorsDetail ===
      Seq("q_bad" -> "java.lang.OutOfMemoryError: Java heap space"))
    assert(rt.queries.toMap.apply("q_bad") === -1.0)
    val clean = withErr.copy(errors = Seq.empty, errorsDetail = Seq.empty,
      queries = Seq("q_ok" -> 0.25))
    assert(Bench.parsePassJson(Bench.passJson(clean)).errorsDetail.isEmpty)
  }

  test("errorBrief keeps the LAST embedded error class, not just the head") {
    // the r19 rotation adjudication: Spark wraps the root cause
    // mid-message, so a plain head-truncation ends right before the
    // part that matters
    val wrapped = new RuntimeException(
      "Job aborted due to stage failure: Task 16 in stage 773.0 failed " +
        "1 times, most recent failure: Lost task 16.0 in stage 773.0 " +
        "(TID 5740) (localhost executor driver): " +
        "org.apache.spark.memory.SparkOutOfMemoryError: SPILL_OUT_OF_MEMORY " +
        "Error while calling spill() : No space left on device SQLSTATE: 82003")
    val brief = Bench.errorBrief(wrapped)
    assert(brief.contains("SparkOutOfMemoryError"))
    assert(brief.contains("No space left on device"))
    assert(brief.length <= 330)
    // short exceptions pass through whole (sanitized)
    assert(Bench.errorBrief(new IllegalStateException("tiny {\"x\"}")) ===
      "java.lang.IllegalStateException: tiny   x  ")
  }

  test("every VerifyStream store-backed query has a registered oracle under the same name") {
    // the stream-path gate dumps under REGISTERED names and reuses the
    // registered oracle subset — a rename on either side would silently
    // shrink CORRECTNESS_STREAM to fewer rows instead of failing
    val names = VerifyStream.storeQueries("/nonexistent", "/nonexistent").keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(names.nonEmpty && names.subsetOf(oracles),
      s"stream queries without a registered oracle: ${names -- oracles}")
    val registered = SparkEntry.queries.keySet
    assert(names.subsetOf(registered),
      s"stream queries not in the registry: ${names -- registered}")
  }

  test("KnnFull100x derives the memoized corpus-wide kNN rows plus the dispatcher") {
    assert(Bench.KnnFull100x === Set("sim_knn_ann", "sim_knn_ann_auto",
      "sim_knn_ann_kmeans", "sim_knn_ann_hier", "sim_knn_ann_pq",
      "sim_knn_ann_pq_res", "sim_knn_ann_hier_pq", "sim_knn_ann_hier_pq_res"))
    assert(Bench.KnnFull100x === graft.operators.SimilarityQueries.knnMemoNames + "sim_knn_ann_auto")
    assert(Bench.KnnFull100x.subsetOf(SparkEntry.queries.keySet))
  }

  test("coldSteady's steady leg re-executes sim_knn_ann instead of counting its memo") {
    // each leg is a count(); the steady leg's jobs are the difference
    // between one steady leg and none (both start from a release)
    def legJobs(steady: Int) =
      jobsDuring(Profile.coldSteady(spark, Sf, "sim_knn_ann", steady))
    try {
      val steadyLeg = legJobs(1) - legJobs(0)
      val memoRead = jobsDuring(SparkEntry.queries("sim_knn_ann")(spark, Sf).count())
      assert(steadyLeg > memoRead,
        s"the steady leg ran $steadyLeg jobs, counting the memo runs $memoRead")
    } finally CacheLife.release(spark)
  }

  test("Profile names a stage after its SQL execution's call site") {
    val future = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
    assert(Profile.stageLabel(future, Some("count at Profile.scala:42")) ===
      "count at Profile.scala:42")
    assert(Profile.stageLabel("parquet at LogCompaction.scala:88", None) ===
      "parquet at LogCompaction.scala:88")
  }

  test("Profile appends the stage's operation scopes, so one query's stages differ") {
    val site = Some("count at Profile.scala:48")
    val labels = Seq(Seq("Exchange", "WholeStageCodegen (3)", "Scan parquet"),
      Seq("BroadcastExchange"), Seq("WholeStageCodegen (5)"))
      .map(Profile.stageLabel("ignored", site, _))
    assert(labels === Seq(
      "count at Profile.scala:48 [Exchange < WholeStageCodegen (3) < Scan parquet]",
      "count at Profile.scala:48 [BroadcastExchange]",
      "count at Profile.scala:48 [WholeStageCodegen (5)]"))
    assert(Profile.stageLabel("ignored", site, Nil) === "count at Profile.scala:48")
  }
}
