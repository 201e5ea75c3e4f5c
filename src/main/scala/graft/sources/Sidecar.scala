package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The small-file protocol: how the engine writes, names and sweeps the
  * small state beside its tables and stores, on the Hadoop `FileSystem`
  * so that a driver reads and writes it directly and neither side costs
  * a Spark job (a one-row parquet store costs one per write and one per
  * read). It owns:
  *   - replaced values: a table's `_sequence` ([[Warehouse]]), a dedup
  *     root's `_labels_covered`, a substring root's `_substr_w`, a vector
  *     layout's `_pin`, and each `_id_bloom/bloom-<b>` record, file or
  *     `.d` directory ([[IdAuthority]]);
  *   - published stages: a store under the [[graft.CacheLife]] root, a
  *     vector version dir `v<N>`, and a streaming probe's
  *     `<out>__watermarks/wm-<b>` pin record;
  *   - create-once markers: the id authority's `_writer-lease`, the
  *     vector pointer `_CURRENT_v<N>`, the compaction marker
  *     `_compaction/gen-<g>-wm-<W>` and its `_empty-gen-<g>` receipt,
  *     the pin floor `_pruned-<W>`, and a new table's `_SUCCESS`.
  *
  * Three write policies, each named for what it guarantees:
  *   - [[replace]] (last writer wins): stage, delete the old value,
  *     rename. HDFS-like stores refuse a rename onto an existing file,
  *     and the empty window between delete and rename reads as a
  *     missing value, which every caller already handles. A failed
  *     publish raises.
  *   - [[publish]] (first writer wins): stage, rename, then delete the
  *     loser's stage wherever it landed. A rename onto an existing
  *     directory does not fail: HDFS moves the source INTO it and the
  *     local file system nests it too, so the loser cannot tell from the
  *     return value and sweeps instead.
  *   - [[createOnce]]: one atomic create that says whether it made the
  *     file. Markers are immutable, so a reader never sees a
  *     delete-and-rename window.
  *
  * A read returns `None` for a missing, torn or unparsable file, so each
  * caller chooses between recovery and a refusal that names the file.
  * Text values end in a newline, and a text read requires it: a
  * truncated file loses it and reads as torn. A stage is named
  * `.<name>.tmp-<uuid>` unless its caller names it, and a name holding
  * `.tmp-` is a temp to every sweep and fsck ([[isTemp]]).
  */
object Sidecar {

  /** A stage or lease younger than this is presumed to belong to a LIVE
    * writer and is left alone by every sweep; only one this stale is
    * presumed crashed. Generous on purpose: deleting a live stage fails
    * its writer, while a crashed one only costs storage for a day.
    */
  val StageGraceMs: Long = 24L * 3600 * 1000

  private[sources] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Delete `path`, a file or a whole directory; false when nothing was there. */
  def delete(spark: SparkSession, path: String): Boolean =
    fs(spark, path).delete(new Path(path), true)

  def status(spark: SparkSession, path: String): Option[FileStatus] =
    try Some(fs(spark, path).getFileStatus(new Path(path)))
    catch { case _: FileNotFoundException => None }

  /** The entries of `dir`; empty when it does not exist. */
  private[graft] def list(spark: SparkSession, dir: String): Seq[FileStatus] =
    try fs(spark, dir).listStatus(new Path(dir)).toSeq
    catch { case _: FileNotFoundException => Nil }

  private def temp(path: String): String = {
    val p = new Path(path)
    new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}").toString
  }

  def isTemp(name: String): Boolean = name.contains(".tmp-")

  private def writeFile(spark: SparkSession, path: String, bytes: Array[Byte]): Unit = {
    val out = fs(spark, path).create(new Path(path), true)
    try out.write(bytes) finally out.close()
  }

  /** Run `write` at `stage`; a throwing write deletes what it staged. */
  private def staged(spark: SparkSession, stage: String)(write: String => Unit): Unit =
    try write(stage)
    catch { case e: Throwable => fs(spark, stage).delete(new Path(stage), true); throw e }

  /** Replace the value at `path` (a file or a directory) with what
    * `write` stages: stage, delete, rename; a failed publish raises.
    */
  def replaceStaged(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (p, tmp) = (new Path(path), temp(path))
    val f = fs(spark, path)
    staged(spark, tmp)(write)
    // delete and rename both signal failure by RETURNING FALSE; a
    // swallowed false would leave the old value authoritative
    if ((f.exists(p) && !f.delete(p, true) && f.exists(p)) || !f.rename(new Path(tmp), p)) {
      f.delete(new Path(tmp), true)
      throw new IOException(s"Sidecar: failed to publish $p")
    }
  }

  def replace(spark: SparkSession, path: String, bytes: Array[Byte]): Unit =
    replaceStaged(spark, path)(writeFile(spark, _, bytes))

  /** Publish what `write` stages at `stage` as `path`, unless another
    * writer got there first: one rename, then the loser's stage is
    * swept from wherever it landed — nested inside the winner's
    * directory, or still at its own path.
    */
  def publishStaged(spark: SparkSession, path: String, stage: String)(
      write: String => Unit): Unit = {
    val (p, sp) = (new Path(path), new Path(stage))
    val f = fs(spark, path)
    staged(spark, stage)(write)
    f.rename(sp, p)
    val nested = new Path(p, sp.getName)
    if (f.exists(nested)) f.delete(nested, true)
    if (f.exists(sp)) f.delete(sp, true)
  }

  def publish(spark: SparkSession, path: String, bytes: Array[Byte]): Unit =
    publishStaged(spark, path, temp(path))(writeFile(spark, _, bytes))

  /** Create the empty file `path` (and its parents) atomically; false when
    * it already exists. Only "already exists" means false: any other
    * IOException is a real fault and surfaces as itself. The local file
    * system raises a plain IOException for an existing path, HDFS the
    * typed subclass, and "Parent directory does not exist" contains
    * 'exist' too — so a matching message is believed only when the file
    * is actually there; otherwise the create is retried once (a holder
    * may have deleted it in between), and a repeat failure rethrows.
    */
  def createOnce(spark: SparkSession, path: String): Boolean = {
    val (p, f) = (new Path(path), fs(spark, path))
    def attempt(retries: Int): Boolean =
      try { f.create(p, false).close(); true }
      catch {
        case _: FileAlreadyExistsException => false
        case e: IOException
            if e.getMessage != null && e.getMessage.toLowerCase.contains("exist") =>
          if (f.exists(p)) false
          else if (retries > 0) attempt(retries - 1)
          else throw e
      }
    attempt(1)
  }

  /** The non-negative number `s` spells: ASCII digits only, at most 18
    * of them, so it always fits a Long. Anything else is None: a name
    * that does not parse is ignored, never a crash in a read path.
    */
  def number(s: String): Option[Long] =
    if (s.nonEmpty && s.length <= 18 && s.forall(c => c >= '0' && c <= '9')) Some(s.toLong)
    else None

  /** [[number]] after `prefix`; None when `name` lacks it. */
  def numbered(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) number(name.substring(prefix.length)) else None

  /** A signed number in a file name: a negative value is spelled with a
    * leading `m` (`m1` is -1), since names must not start with '-'.
    */
  def encodeSigned(v: Long): String = if (v < 0) s"m${-v}" else v.toString

  def signed(s: String): Option[Long] =
    if (s.startsWith("m")) number(s.drop(1)).map(-_) else number(s)

  /** Whether `s` was last modified more than [[StageGraceMs]] ago. */
  def stale(s: FileStatus): Boolean =
    s.getModificationTime < System.currentTimeMillis() - StageGraceMs

  /** Delete the stale entries of `dir` that `isStage` names. */
  def sweepStale(spark: SparkSession, dir: String)(isStage: String => Boolean): Unit =
    list(spark, dir).filter(s => isStage(s.getPath.getName) && stale(s))
      .foreach(s => delete(spark, s.getPath.toString))

  /** The bytes at `path` through `parse`; None when missing, unreadable
    * (a checksum mismatch included) or when `parse` throws.
    */
  def readBytes[A](spark: SparkSession, path: String)(parse: Array[Byte] => A): Option[A] =
    Try {
      val in = fs(spark, path).open(new Path(path))
      try in.readAllBytes() finally in.close()
    }.toOption.flatMap(b => Try(parse(b)).toOption)

  /** A bare text value (no trailing newline, like a table's `_sequence`),
    * read trimmed through `parse`.
    */
  def readTrimmed[A](spark: SparkSession, path: String)(parse: String => A): Option[A] =
    readBytes(spark, path)(b => parse(new String(b, UTF_8).trim))

  def write(spark: SparkSession, path: String, text: String): Unit =
    replace(spark, path, (text + "\n").getBytes(UTF_8))

  def read[A](spark: SparkSession, path: String)(parse: String => A): Option[A] =
    readBytes(spark, path) { b =>
      val s = new String(b, UTF_8)
      require(s.endsWith("\n"), s"torn sidecar $path")
      parse(s.dropRight(1))
    }
}
