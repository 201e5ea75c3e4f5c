package graft

import org.apache.spark.sql.SparkSession

/** Store fsck — the read-only third leg of the store lifecycle
  * tooling: [[StoreBuild]] lays the artifacts down, [[StoreMaintain]]
  * keeps them healthy between ingests, and this job tells an operator
  * whether a root is healthy WITHOUT touching it. Every check is
  * directory-metadata-sized or record-sized (a sharded id record costs
  * a few tiny parquet reads; every other record is a
  * [[sources.Sidecar]] file read on the driver), so it can
  * run against a store whose data is petabytes, on a schedule or
  * before a risky operation.
  *
  * Severity contract (shared with the per-store `fsck` methods):
  *   - `ok`/`skip` — healthy, or the component was never built;
  *   - `warn` — debris the protocols already tolerate and their own
  *     sweeps reclaim (aged crashed stage dirs, shadowed partitions,
  *     unpublished folds or versions), plus states metadata alone
  *     cannot split from a healthy one (one id-authority record ahead
  *     of its log is the routine in-flight append window; a marker
  *     over a store with zero partitions may be an always-empty fold).
  *     Nothing forced, but visible;
  *   - `fail` — a view- or guard-breaking inconsistency no protocol
  *     step self-heals: a published compaction marker whose folded
  *     partition is gone while live partitions remain (history
  *     silently unreadable), TWO or more id-authority records ahead of
  *     their log (a sequential append leaves at most one — the sidecar
  *     outlived its log and silently mis-guards re-appended ids),
  *     labels covering batches the band store does not hold, a version
  *     pointer naming a missing dir, version dirs stranded with no
  *     pointer at all. Each `fail` detail names the remediation.
  *
  * Usage: `runMain graft.Doctor <storeRoot> [<streamOutDir>
  * <checkpoint>]...` — prints one line per check, exits non-zero iff
  * any check failed. The optional pairs reach each probe stream's pin
  * sidecar ([[graft.streaming.VectorStream.fsckPins]]), which is keyed
  * by the stream's output dir and invisible from the store root.
  */
object Doctor {

  /** (family, check, status, detail) for every check of every store
    * family under `root` (the same root [[StoreBuild]]/[[StoreMaintain]]
    * take): each [[Families.registry]] entry's `fsck`, tagged with the
    * family's name, in registry order.
    */
  def check(spark: SparkSession, root: String): Seq[(String, String, String, String)] = {
    // per-family isolation: a diagnostic tool is run precisely when a
    // store is broken, so one family's fsck crashing (torn parquet the
    // checks could not anticipate) must cost that family one fail row,
    // not the whole report
    def tag(family: String, rows: => Seq[(String, String, String)]) =
      scala.util.Try(rows) match {
        case scala.util.Success(rs) => rs.map { case (c, s, d) => (family, c, s, d) }
        case scala.util.Failure(e) =>
          Seq((family, "fsck", "fail",
            s"fsck itself crashed (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
              "the store is damaged in a shape the checks could not read"))
      }
    Families.registry.flatMap(f => tag(f.name, f.fsck(spark, f.dir(root))))
  }

  /** The one leg [[check]] cannot reach from the root: a streaming
    * probe's pin sidecar is keyed by the stream's OUTPUT dir, which
    * only the stream owner knows — pass each stream's (outDir,
    * checkpoint) pair explicitly.
    */
  def checkStream(spark: SparkSession, outDir: String,
                  checkpoint: String): Seq[(String, String, String, String)] =
    scala.util.Try(
      graft.streaming.VectorStream.fsckPins(spark, outDir, checkpoint)) match {
      case scala.util.Success(rs) =>
        rs.map { case (c, s, d) => ("stream", c, s, d) }
      case scala.util.Failure(e) =>
        Seq(("stream", "fsck", "fail",
          s"pin fsck crashed (${e.getClass.getSimpleName}: ${e.getMessage})"))
    }

  /** The CLI body, separated from [[main]] so the operator-facing
    * contract is spec-driven end to end (DoctorSpec): exactly one
    * printed line per check plus a summary line, and the returned
    * process exit code is non-zero iff any check failed. `out` is the
    * line sink ([[main]] passes println).
    */
  def run(spark: SparkSession, args: Seq[String],
          out: String => Unit = println): Int = {
    require(args.length >= 1 && args.length % 2 == 1,
      "usage: Doctor <storeRoot> [<streamOutDir> <checkpoint>]...")
    val rows = check(spark, args(0)) ++
      args.drop(1).grouped(2).collect { case Seq(o, c) =>
        checkStream(spark, o, c)
      }.flatten
    rows.foreach { case (family, c, status, detail) =>
      out(f"[doctor] $status%-4s $family%-8s $c%-22s $detail")
    }
    val fails = rows.count(_._3 == "fail")
    out(s"[doctor] ${rows.size} checks, $fails failed")
    if (fails > 0) 1 else 0
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
