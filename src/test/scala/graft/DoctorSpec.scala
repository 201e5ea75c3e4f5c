package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{DedupLayout, VectorLayout}

/** The store fsck's contract: a freshly built root is clean, every
  * tolerated-debris state reads as `warn` with its reclaimer named,
  * and each view- or guard-breaking corruption reads as `fail` — in
  * particular the stale-sidecar and lost-fold states that would
  * otherwise corrupt silently.
  */
class DoctorSpec extends SparkSpec {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-doctor").toString
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    DedupLayout.materialize(spark, docs, StoreBuild.dedupLayoutDir(r))
    sources.TextLayout.materialize(spark, docs, StoreBuild.textLayoutDir(r))
    VectorLayout.materialize(spark, Sf, StoreBuild.vectorLayoutDir(r))
    r
  }

  private def fails(rows: Seq[(String, String, String, String)]) =
    rows.filter(_._3 == "fail")

  test("a freshly built root reports zero failures across all families") {
    val rows = Doctor.check(spark, root)
    assert(fails(rows).isEmpty, s"unexpected failures: ${fails(rows)}")
    for (fam <- Seq("dedup", "text", "vectors"))
      assert(rows.exists(_._1 == fam), s"family $fam missing from the report")
    assert(rows.exists(r => r._1 == "dedup" && r._2 == "authority" && r._3 == "ok"))
    assert(rows.exists(r => r._1 == "dedup" && r._2 == "labels" && r._3 == "ok"))
  }

  test("a crashed compaction stage dir is a warn naming its reclaimer") {
    val junk = new java.io.File(
      StoreBuild.textLayoutDir(root) + "/tokens/.compact-junk")
    assert(junk.mkdirs())
    // a YOUNG stage dir may be a live fold (ok, not warn) — age it
    // past the liveness grace so it reads as crashed debris
    assert(junk.setLastModified(System.currentTimeMillis() -
      2 * sources.Sidecar.StageGraceMs))
    try {
      val rows = Doctor.check(spark, root)
      val w = rows.find(r => r._1 == "text" && r._2 == "tokens.stage")
      assert(w.exists(_._3 == "warn"), s"expected a stage warn, got $rows")
      assert(w.exists(_._4.contains("sweep")), "the warn must name the reclaimer")
      assert(fails(rows).isEmpty, "debris must not read as corruption")
    } finally { junk.delete(); () }
  }

  test("ONE record ahead of the log is the in-flight append window: warn, not fail") {
    // the append protocol publishes bloom-<b> before batch b's log
    // partitions land, so a single ahead record is routine — copy the
    // base record so the planted one parses cleanly
    val side = StoreBuild.dedupLayoutDir(root) + "/_id_bloom"
    val ahead = new java.io.File(s"$side/bloom-5")
    Files.copy(new java.io.File(s"$side/bloom-m1").toPath, ahead.toPath)
    try {
      val rows = Doctor.check(spark, root)
      val auth = rows.filter(r => r._1 == "dedup" && r._2 == "authority")
      assert(auth.exists(r => r._3 == "warn" && r._4.contains("ahead of the log")),
        s"in-flight window must warn: $auth")
      assert(!auth.exists(_._3 == "fail"),
        s"the routine crash window must NOT read as corruption: $auth")
    } finally { ahead.delete(); () }
  }

  test("TWO records ahead of the log is a stale sidecar: FAILURE") {
    val side = StoreBuild.dedupLayoutDir(root) + "/_id_bloom"
    val a = new java.io.File(s"$side/bloom-98")
    val b = new java.io.File(s"$side/bloom-99")
    Files.copy(new java.io.File(s"$side/bloom-m1").toPath, a.toPath)
    Files.copy(new java.io.File(s"$side/bloom-m1").toPath, b.toPath)
    try {
      val rows = Doctor.check(spark, root)
      assert(rows.exists(r => r._1 == "dedup" && r._2 == "authority" &&
        r._3 == "fail" && r._4.contains("AHEAD")),
        s"a sidecar that outlived its log must fail: ${rows.filter(_._1 == "dedup")}")
    } finally { a.delete(); b.delete(); () }
  }

  test("versioned lifecycle: orphan version warns, dangling pointer fails") {
    val vroot = Files.createTempDirectory("graft-doctor-v").toString
    assert(new java.io.File(vroot + "/v1").mkdirs())
    assert(new java.io.File(vroot + "/_CURRENT_v1").createNewFile())
    assert(VectorLayout.fsck(spark, vroot).forall(_._2 != "fail"),
      "a pointer naming a present dir is healthy")
    // a crash between rename and pointer leaves v2 unpublished: warn
    assert(new java.io.File(vroot + "/v2").mkdirs())
    val warned = VectorLayout.fsck(spark, vroot)
    assert(warned.exists(r => r._1 == "version" && r._2 == "warn" &&
      r._3.contains("unpublished")))
    assert(!warned.exists(_._2 == "fail"))
    // a pointer naming a missing dir breaks every probe: fail
    assert(new java.io.File(vroot + "/_CURRENT_v3").createNewFile())
    val broken = VectorLayout.fsck(spark, vroot)
    assert(broken.exists(r => r._1 == "version" && r._2 == "fail" &&
      r._3.contains("missing dir")))
    // losing every pointer strands the version dirs: the root would
    // resolve as an EMPTY plain layout — fail, not "plain ok"
    assert(new java.io.File(vroot + "/_CURRENT_v1").delete())
    assert(new java.io.File(vroot + "/_CURRENT_v3").delete())
    val stranded = VectorLayout.fsck(spark, vroot)
    assert(stranded.exists(r => r._1 == "version" && r._2 == "fail" &&
      r._3.contains("comes back empty")),
      s"lost pointers must not read as a healthy plain root: $stranded")
  }

  test("CLI contract: one line per check, remediation on every fail, exit iff fail") {
    // healthy root: exit 0, one line per check row + one summary line
    val lines = scala.collection.mutable.Buffer[String]()
    assert(Doctor.run(spark, Seq(root), lines += _) === 0)
    val rows = Doctor.check(spark, root)
    assert(lines.length === rows.length + 1,
      s"expected one line per check + summary, got ${lines.length} for ${rows.length}")
    assert(lines.forall(_.startsWith("[doctor] ")))
    assert(lines.last.endsWith("0 failed"))
    // broken root (the TWO-records-ahead stale sidecar): exit 1, and
    // every fail line carries remediation text, not just the diagnosis
    val side = StoreBuild.dedupLayoutDir(root) + "/_id_bloom"
    val a = new java.io.File(s"$side/bloom-98")
    val b = new java.io.File(s"$side/bloom-99")
    Files.copy(new java.io.File(s"$side/bloom-m1").toPath, a.toPath)
    Files.copy(new java.io.File(s"$side/bloom-m1").toPath, b.toPath)
    try {
      val bad = scala.collection.mutable.Buffer[String]()
      assert(Doctor.run(spark, Seq(root), bad += _) === 1,
        "a failing check must surface as a non-zero exit code")
      val failLines = bad.filter(_.startsWith("[doctor] fail"))
      assert(failLines.nonEmpty)
      assert(failLines.forall(l => l.contains("wipe") || l.contains("re-seed") ||
        l.contains("rebuild") || l.contains("restore")),
        s"every fail line must name its remediation: $failLines")
      assert(bad.last.endsWith(s"${failLines.length} failed"))
    } finally { a.delete(); b.delete(); () }
    // malformed usage refuses loudly rather than checking the wrong thing
    intercept[IllegalArgumentException](Doctor.run(spark, Seq.empty, _ => ()))
    intercept[IllegalArgumentException](
      Doctor.run(spark, Seq(root, "streamOutWithoutCheckpoint"), _ => ()))
  }

  test("a legitimately EMPTY fold under a live tail is receipted ok, not a loss") {
    import spark.implicits._
    // the round-10 advice false-positive: a dup-free corpus mines no
    // pairs, so its fold covers zero rows and writes no
    // generation partition; when LATER batches mine pairs (live tail
    // above the watermark), the missing generation used to read as
    // "history unreadable" — Doctor exiting non-zero on a healthy
    // root. The fold now leaves an _empty-gen-<g> receipt, making the
    // empty fold PROVABLE rather than ambiguous.
    val r3 = Files.createTempDirectory("graft-doctor3").toString
    val dedupRoot = StoreBuild.dedupLayoutDir(r3)
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    DedupLayout.materialize(spark, docs(
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      2L -> "kilo lima mike november oscar papa quebec romeo sierra tango",
      3L -> "uniform victor whiskey xray yankee zulu one two three four"),
      dedupRoot)
    DedupLayout.append(spark, docs(
      4L -> "five six seven eight nine ten eleven twelve thirteen fourteen"),
      dedupRoot, batchId = 1L)
    DedupLayout.compact(spark, dedupRoot) // the pairs fold is empty
    // a later arrival DUPLICATES batch 1's text: pairs gains a live
    // partition above the watermark — the exact ambiguous shape
    DedupLayout.append(spark, docs(
      5L -> "five six seven eight nine ten eleven twelve thirteen fourteen"),
      dedupRoot, batchId = 2L)
    val rows = Doctor.check(spark, r3)
    assert(fails(rows).isEmpty,
      s"empty fold must not read as corruption: ${fails(rows)}")
    assert(rows.exists(r => r._1 == "dedup" && r._2 == "pairs.generation" &&
      r._3 == "ok" && r._4.contains("zero rows")),
      s"the receipt must prove the empty fold: ${rows.filter(_._1 == "dedup")}")
  }

  test("a published marker whose folded partition is lost is a failure") {
    import spark.implicits._
    // own root: this test mutates destructively, and the shared root
    // must stay healthy for any test that runs after (or is filtered
    // to run without) the earlier ones
    val r2 = Files.createTempDirectory("graft-doctor2").toString
    val dedupRoot = StoreBuild.dedupLayoutDir(r2)
    DedupLayout.materialize(spark,
      Tables.documents(spark, Sf).select(col("doc_id"), col("text")), dedupRoot)
    // a base-only store folds nothing (by design) — append one real
    // batch so the compact below publishes a marker + generation
    DedupLayout.append(spark,
      Seq((900001L, "doctor spec arrival one"),
        (900002L, "doctor spec arrival two")).toDF("doc_id", "text"),
      dedupRoot, batchId = 1L)
    DedupLayout.compact(spark, dedupRoot)
    // a live tail after the fold: with partitions still present, a
    // missing generation is provably a LOSS (an always-empty store —
    // zero partitions total — is only ever a warn: indistinguishable
    // from a legitimate empty fold by metadata alone)
    // the arrival duplicates batch 1's text so the append MINES a pair
    // and the pairs store gains a live __batch_id=2 partition
    DedupLayout.append(spark,
      Seq((900003L, "doctor spec arrival one")).toDF("doc_id", "text"),
      dedupRoot, batchId = 2L)
    val clean = Doctor.check(spark, r2)
    assert(fails(clean).isEmpty, s"compacted store must be clean: ${fails(clean)}")
    // destroy the folded generation partition under pairs (gen 1 = -2)
    val gen = new java.io.File(dedupRoot + "/pairs/__batch_id=-2")
    assert(gen.isDirectory, "expected the generation partition on disk")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(gen)
    val rows = Doctor.check(spark, r2)
    assert(rows.exists(r => r._1 == "dedup" && r._2 == "pairs.generation" &&
      r._3 == "fail" && r._4.contains("unreadable")),
      s"lost fold must fail: ${rows.filter(_._1 == "dedup")}")
  }

  test("an earlier layout's edges store is ignored, then deleted by compact") {
    import spark.implicits._
    val r4 = Files.createTempDirectory("graft-doctor4").toString
    val dedupRoot = StoreBuild.dedupLayoutDir(r4)
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    DedupLayout.materialize(spark, docs.filter(col("doc_id") % 4 =!= 0), dedupRoot)
    DedupLayout.append(spark, docs.filter(col("doc_id") % 4 === 0), dedupRoot, batchId = 0L)
    // the symmetric, src-bucketed pair copy an earlier layout kept,
    // partitioned by batch and bucket
    val edges = dedupRoot + "/edges"
    DedupLayout.pairs(spark, dedupRoot)
      .select(explode(array(struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .withColumn("src_bucket", pmod(hash(col("src")), lit(32)))
      .withColumn("__batch_id", lit(-1L))
      .write.partitionBy("__batch_id", "src_bucket").parquet(edges)
    val scratch = Files.createTempDirectory("graft-doctor4-full").toString
    DedupLayout.materialize(spark, docs, scratch)
    def labelSet(r: String) = DedupLayout.labels(spark, r).as[(Long, Long)].collect().toSet

    DedupLayout.refreshLabels(spark, dedupRoot)
    assert(labelSet(dedupRoot) === labelSet(scratch),
      "labels over a root with an edges store drifted from the cold build")
    DedupLayout.compact(spark, dedupRoot)
    assert(!new java.io.File(edges).exists(), "compact must delete the edges store")
    assert(Doctor.run(spark, Seq(r4), _ => ()) === 0)
    assert(labelSet(dedupRoot) === labelSet(scratch))
  }
}
