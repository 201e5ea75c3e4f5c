package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SubstrDedup
import graft.sources.{IdAuthority, Sidecar, SubstrLayout, VectorLayout}

/** Negative-path drain (round-11 verdict stretch #8): StreamDrain
  * always succeeds, so the fsck severity contract — warn for states
  * the protocols self-heal, fail only for view/guard-breaking ones —
  * was prose backed by healthy-root runs plus per-check DoctorSpec
  * fixtures. This suite manufactures the EXACT crash the append
  * protocol documents (process death between the id-authority record
  * publish and the log writes — the window the writer lease exists
  * for), drives `Doctor.check` over the sick root, and asserts the
  * report row-for-row: one crash = warn + self-heals on redelivery;
  * two crashes = the two-records-ahead FAIL naming the wipe
  * remediation.
  */
class ChaosDrainSpec extends SparkSpec {

  private def docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))

  private def substrOf(work: String) = StoreBuild.substrLayoutDir(work)

  private def leaseFile(root: String) =
    new java.io.File(root, "_id_bloom/_writer-lease")

  private def ageLease(root: String): Unit =
    assert(leaseFile(root).setLastModified(
      System.currentTimeMillis() - 2 * Sidecar.StageGraceMs))

  /** The crash: record published, lease held, NEITHER log written —
    * exactly what a process kill inside [[SubstrLayout.append]]'s try
    * block (before the fp write lands) leaves behind.
    */
  private def crashMidAppend(root: String, batchId: Long,
                             arrivals: org.apache.spark.sql.DataFrame): Unit =
    IdAuthority.guardAndRecord(spark, root, batchId,
      arrivals.select(col("doc_id")),
      priorIds = docs.limit(0).select(col("doc_id")),
      who = "chaos-spec", what = "fingerprint-log prefix")

  test("one mid-append crash: Doctor warns (never fails), the batch's redelivery self-heals") {
    val work = Files.createTempDirectory("graft-chaos1").toString
    val root = substrOf(work)
    val m = col("doc_id") % 4
    SubstrLayout.materialize(spark, docs.filter(m < 2), root)
    SubstrLayout.append(spark, docs.filter(m === 2), root, batchId = 0L)

    crashMidAppend(root, 1L, docs.filter(m === 3))
    assert(leaseFile(root).exists(), "the crashed appender leaves its lease")

    // the sick-root report: ONE authority warn naming the ahead record
    // and the redelivery self-heal; a lease row; zero fails anywhere —
    // this state is routine (in-flight append) and must not page as
    // corruption
    val sick = Doctor.check(spark, work).filter(_._1 == "substr")
    assert(sick.exists(r => r._2 == "authority" && r._3 == "warn" &&
      r._4.contains("ahead of the log") && r._4.contains("redelivery")),
      s"expected the one-ahead warn: $sick")
    assert(sick.exists(_._2 == "authority.lease"),
      s"the held lease must be visible: $sick")
    assert(!sick.exists(_._3 == "fail"),
      s"one crashed append is warn-severity, not fail: $sick")

    // self-heal: the lease outlives the grace, the SAME batch redelivers
    ageLease(root)
    SubstrLayout.append(spark, docs.filter(m === 3), root, batchId = 1L)
    val healed = Doctor.check(spark, work).filter(_._1 == "substr")
    assert(!healed.exists(r => r._3 == "fail" || r._3 == "warn"),
      s"redelivery must fully heal the root: $healed")
    // and the healed store answers with exactly the from-scratch index
    val got = SubstrLayout.fingerprints(spark, root).count()
    val want = SubstrDedup.winnowFpOver(SubstrDedup.gramsOver(docs)).count()
    assert(got === want, s"healed store holds $got fingerprints, rebuild says $want")
    CacheLife.release(spark)
  }

  test("TWO crashed appends: Doctor FAILS with the two-ahead check naming the wipe remediation") {
    val work = Files.createTempDirectory("graft-chaos2").toString
    val root = substrOf(work)
    val m = col("doc_id") % 4
    SubstrLayout.materialize(spark, docs.filter(m < 2), root)

    crashMidAppend(root, 1L, docs.filter(m === 2))
    ageLease(root) // first crash ages out; a second appender breaks in
    crashMidAppend(root, 2L, docs.filter(m === 3))

    val rows = Doctor.check(spark, work).filter(_._1 == "substr")
    val fail = rows.filter(r => r._2 == "authority" && r._3 == "fail")
    assert(fail.size === 1, s"exactly one two-ahead fail expected: $rows")
    assert(fail.head._4.contains("AHEAD of the log") &&
      fail.head._4.contains("wipe _id_bloom"),
      s"the fail must name the remediation: ${fail.head._4}")
    // the CLI contract rides the same rows: exit code must be non-zero
    assert(Doctor.run(spark, Seq(work), _ => ()) === 1)
    CacheLife.release(spark)
  }
}
