package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.{Pipeline, SparkSpec}
import graft.streaming.IngestSink

/** The session's `file:` file system ([[NioLocalFileSystem]], wired by
  * `Sessions.builder`): the same files, modes and link statuses as
  * Hadoop's stock local file system, and no process started per file.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** Full mode bits, sticky included (`java.nio`'s permission set drops it). */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** `fs` initialized under `umask`, outside Hadoop's FileSystem cache. */
  private def init[F <: FileSystem](fs: F, umask: String = "022"): F = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  test("the session's file: FileSystem and FileContext are the engine's classes") {
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem],
      s"file: resolves to ${fs.getClass.getName}. Hadoop caches one FileSystem per " +
        "scheme for the whole JVM: a stock one was cached before the session started")
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], s"FileContext file: is ${afs.getClass.getName}")
  }

  test("created files and dirs carry the stock modes, checksums included") {
    Seq("022", "077", "002").foreach { umask =>
      val stockAndEngine = Seq(init(new LocalFileSystem, umask), init(new NioLocalFileSystem, umask))
      val modes = stockAndEngine.map { fs =>
        val d = tmp("graft-lfs-mode")
        val file = new Path(d.toString, "a/b/part-0.parquet")
        val out = fs.create(file)
        out.write(Array[Byte](1, 2, 3))
        out.close()
        fs.mkdirs(new Path(d.toString, "c/d"))
        Seq("a", "a/b", "a/b/part-0.parquet", "a/b/.part-0.parquet.crc", "c", "c/d")
          .map(rel => rel -> mode(d.resolve(rel)))
      }
      assert(modes(1) === modes(0), s"umask $umask: engine ${modes(1)} vs stock ${modes(0)}")
    }
  }

  test("setPermission round-trips plain and sticky modes without a process") {
    val fs = init(new NioLocalFileSystem)
    val d = tmp("graft-lfs-chmod")
    val f = d.resolve("f")
    Files.write(f, Array[Byte](1))
    val starts = processStartsDuring {
      Seq(0x180, 0x1a4, 0x1c0, 0x1ed).foreach { m => // 0600, 0644, 0700, 0755
        fs.setPermission(new Path(f.toString), new FsPermission(m.toShort))
        assert(mode(f) === m, f"set 0$m%o, read 0${mode(f)}%o")
      }
      fs.setPermission(new Path(d.toString), new FsPermission(0x3ed.toShort)) // 01755
      assert(mode(d) === 0x3ed, f"sticky dir reads 0${mode(d)}%o")
    }
    assert(starts.isEmpty, starts.mkString("\n"))
    intercept[IOException](fs.setPermission(new Path(d.toString, "missing"),
      new FsPermission(0x1a4.toShort)))
  }

  test("link status matches the stock one for a file, a link, a dangling link and a missing path") {
    val d = tmp("graft-lfs-link")
    val file = Files.write(d.resolve("file"), Array[Byte](1, 2, 3, 4))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    val (stockRaw, engineRaw) = (init(new RawLocalFileSystem), init(new NioRawLocalFileSystem))
    def view(fs: FileSystem, p: JPath) = {
      val s = fs.getFileLinkStatus(new Path(p.toString))
      (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "", s.getLen,
        s.isDirectory, s.getPath.toString)
    }
    Seq(file, link, dangling).foreach { p =>
      assert(view(engineRaw, p) === view(stockRaw, p), s"status of $p")
    }
    assert(view(engineRaw, link)._1 && view(engineRaw, dangling)._1)
    assert(view(engineRaw, link)._2 === s"file:$file")
    assert(engineRaw.getLinkTarget(new Path(link.toString)) === new Path(file.toString))
    intercept[FileNotFoundException](engineRaw.getFileLinkStatus(new Path(d.toString, "missing")))
    intercept[FileNotFoundException](stockRaw.getFileLinkStatus(new Path(d.toString, "missing")))
    // and through FileContext, against the stock LocalFs
    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val targets = Seq(conf, stockConf).map(c => FileContext.getFileContext(URI.create("file:///"), c)
      .getFileLinkStatus(new Path(link.toString)).getSymlink)
    assert(targets(0) === targets(1))
  }

  /** The OS processes Hadoop's file system code starts while `body`
    * runs, each as its command line and the first caller outside
    * `java.*` and Hadoop's shell helpers. Spark's own once-per-JVM
    * probes (its metrics poller's `getconf PAGESIZE`, on a heartbeat
    * thread at a time of its choosing) pass no Hadoop frame.
    */
  private def processStartsDuring(body: => Unit): Seq[String] = {
    // Hadoop's Shell probes `setsid` once per JVM, at class init: keep
    // that one-time start out of the window
    locally(org.apache.hadoop.util.Shell.WINDOWS)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => e.getString("command") -> Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName))
        .collect { case (cmd, frames) if frames.exists(_.startsWith("org.apache.hadoop.")) =>
          val at = frames.find(c => !c.startsWith("java.") && !c.startsWith("org.apache.hadoop.util."))
          s"$cmd (from ${at.getOrElse("?")})"
        }
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  private val payload =
    """[{"time_period_start": "2023-04-26T04:30:00.0000000Z",
      |  "time_period_end":   "2023-04-26T04:35:00.0000000Z",
      |  "time_open":         "2023-04-26T04:30:09.8120000Z",
      |  "time_close":        "2023-04-26T04:34:14.6860000Z",
      |  "price_open": 28370.4, "price_high": 28379.2,
      |  "price_low": 28360.0,  "price_close": 28360.8,
      |  "volume_traded": 0.61511822, "trades_count": 14}]""".stripMargin

  test("log writes start no process") {
    val dir = tmp("graft-lfs-log").resolve("log").toString
    val rows = spark.range(0, 300).selectExpr("id AS doc_id", "cast(id % 7 AS int) AS v")
    val starts = processStartsDuring {
      LogCompaction.writeBase(rows, dir)
      LogCompaction.writeBatch(rows, 3L, dir)
    }
    assert(starts.isEmpty, starts.mkString("\n"))
    assert(spark.read.parquet(dir).count() === 600)
  }

  test("an ingest tick into an existing table and a daily close-out start no process") {
    val root = tmp("graft-lfs-tick").toString
    Pipeline.ingestTick(spark, root, "Bitcoin", Seq(payload))
    val tick = processStartsDuring(Pipeline.ingestTick(spark, root, "Bitcoin",
      Seq(payload.replace("04:30:00", "04:35:00"))))
    assert(tick.isEmpty, tick.mkString("\n"))
    val closeout = processStartsDuring(
      Pipeline.dailyCloseout(spark, root, "Bitcoin", "2023-04-26", "20230427T000000"))
    assert(closeout.isEmpty, closeout.mkString("\n"))
    assert(spark.read.parquet(s"$root/warehouse/Bitcoin").count() === 2)
  }

  test("a one-batch ingest stream and its checkpoint commit start no process") {
    val d = tmp("graft-lfs-stream")
    val in = d.resolve("in").toString
    Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text").coalesce(1).write.parquet(in)
    val out = d.resolve("out").toString
    val starts = processStartsDuring {
      val q = IngestSink.start(IngestSink.read(spark, in), d.resolve("ck").toString) {
        (_, batch, batchId) => batch.write.mode("append").parquet(s"$out/b=$batchId")
      }
      try q.processAllAvailable() finally q.stop()
    }
    assert(starts.isEmpty, starts.mkString("\n"))
    assert(spark.read.parquet(out).count() === 2)
    assert(Files.exists(d.resolve("ck/commits/0")), "the batch committed its checkpoint")
  }
}
