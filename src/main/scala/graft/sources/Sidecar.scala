package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The small-file protocol of the stores' bookkeeping values: a dedup
  * root's label watermark, a vector layout's model pin, an id-authority
  * record. Each is a few bytes a driver reads and writes directly on
  * the Hadoop `FileSystem`, so neither side costs a Spark job (a
  * one-row parquet store costs one per write and one per read).
  *
  * A write publishes a temp file, deletes the old one, then renames:
  * HDFS-like stores refuse a rename onto an existing file, and the
  * empty window between delete and rename reads as a missing value,
  * which every caller already handles. A read returns `None` for a
  * missing, torn or unparsable file, so each caller chooses between
  * recovery and a refusal that names the file.
  *
  * Text values end in a newline, and a text read requires it: a
  * truncated file loses it and reads as torn.
  */
object Sidecar {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  /** Publish `bytes` at `path` (temp, delete, rename); a failed publish raises. */
  def writeBytes(spark: SparkSession, path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(path)
    val f = fs(spark, p)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    // delete and rename both signal failure by RETURNING FALSE; a
    // swallowed false would leave the old value authoritative
    if ((f.exists(p) && !f.delete(p, true) && f.exists(p)) || !f.rename(tmp, p)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"Sidecar: failed to publish $p")
    }
  }

  /** The bytes at `path` through `parse`; None when missing, unreadable
    * (a checksum mismatch included) or when `parse` throws.
    */
  def readBytes[A](spark: SparkSession, path: String)(parse: Array[Byte] => A): Option[A] = {
    val p = new Path(path)
    Try {
      val in = fs(spark, p).open(p)
      try in.readAllBytes() finally in.close()
    }.toOption.flatMap(b => Try(parse(b)).toOption)
  }

  def write(spark: SparkSession, path: String, text: String): Unit =
    writeBytes(spark, path, (text + "\n").getBytes(UTF_8))

  def read[A](spark: SparkSession, path: String)(parse: String => A): Option[A] =
    readBytes(spark, path) { b =>
      val s = new String(b, UTF_8)
      require(s.endsWith("\n"), s"torn sidecar $path")
      parse(s.dropRight(1))
    }
}
