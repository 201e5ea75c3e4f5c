package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{DedupLayout, SubstrLayout, TextLayout, VectorLayout}

/** The scripted drain end to end: bases on 80% of the corpus, the
  * held-out 20% through all four ingest streams, maintenance, the
  * Doctor gate. The families run side by side, so the drained stores
  * must still equal a from-scratch build over the whole corpus, and a
  * failing family must surface only after its siblings have finished,
  * with no stream and no family thread left behind.
  */
class StreamDrainSpec extends SparkSpec {

  private def docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def familyThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.startsWith(Families.ThreadPrefix) && t.isAlive)

  private def assertNothingLeft(): Unit = {
    assert(spark.streams.active.isEmpty,
      s"streams left active: ${spark.streams.active.map(_.name).toSeq}")
    assert(familyThreads.isEmpty, s"family threads left alive: $familyThreads")
  }

  /** A root whose `family` store path is a plain file, so that family's
    * first write fails while every sibling can run. */
  private def rootWithFileAt(path: String => String): (String, String) = {
    val root = Files.createTempDirectory("graft-drain-bad").toString
    val blocked = path(root)
    new java.io.File(blocked).getParentFile.mkdirs()
    Files.write(new java.io.File(blocked).toPath, "not a directory".getBytes)
    (root, blocked)
  }

  test("a 2-batch drain exits 0 and its stores equal a from-scratch build of the whole corpus") {
    val root = Files.createTempDirectory("graft-drain").toString
    assert(StreamDrain.run(spark, Sf, root, nBatches = 2) === 0)
    assertNothingLeft()

    val full = Files.createTempDirectory("graft-drain-full").toString
    val (dFull, tFull, sFull, vFull) = (StoreBuild.dedupLayoutDir(full),
      StoreBuild.textLayoutDir(full), StoreBuild.substrLayoutDir(full),
      StoreBuild.vectorLayoutDir(full))
    DedupLayout.materialize(spark, docs, dFull)
    TextLayout.materialize(spark, docs, tFull)
    SubstrLayout.materialize(spark, docs, sFull)
    VectorLayout.materialize(spark, Sf, vFull)

    val (d, t, s, v) = (StoreBuild.dedupLayoutDir(root), StoreBuild.textLayoutDir(root),
      StoreBuild.substrLayoutDir(root), StoreBuild.vectorLayoutDir(root))
    assert(DedupLayout.pairs(spark, d).count() === rows(DedupLayout.pairs(spark, d)).size,
      "duplicate pairs in the drained store")
    assert(rows(DedupLayout.pairs(spark, d)) === rows(DedupLayout.pairs(spark, dFull)),
      "drained dedup pairs drifted from the full build")
    assert(rows(DedupLayout.labels(spark, d)) === rows(DedupLayout.labels(spark, dFull)),
      "maintained cluster labels drifted from the full build")
    assert(rows(TextLayout.tokenCounts(spark, t)) === rows(TextLayout.tokenCounts(spark, tFull)),
      "drained token counts drifted from the full build")
    def hashTotals(root: String) =
      rows(SubstrLayout.hashCounts(spark, root).groupBy("h").agg(sum("n")))
    assert(hashTotals(s) === hashTotals(sFull),
      "drained substring hash counts drifted from the full build")
    def vecIds(dir: String) = VectorLayout.vectors(spark, dir).select("vec_id")
    assert(vecIds(v).count() === rows(vecIds(v)).size, "duplicate vectors in the drained layout")
    assert(rows(vecIds(v)) === rows(vecIds(vFull)),
      "drained vector ids drifted from the full build")
    CacheLife.release(spark)
  }

  test("a drain prints each of the ten [drain] step names the benchmark parses exactly once") {
    // the lifecycle benchmark matches these names verbatim; a registry
    // change must not rename one
    val expected = Set("base: dedup.materialize", "base: text.materialize",
      "base: substr.materialize", "base: vectors.materialize", "land: held-out slices",
      "drain: dedup ingest", "drain: text ingest", "drain: substr ingest",
      "drain: vector ingest", "maintain: all families")
    val root = Files.createTempDirectory("graft-drain-steps").toString
    val out = new java.io.ByteArrayOutputStream
    assert(Console.withOut(out)(StreamDrain.run(spark, Sf, root, nBatches = 1)) === 0)
    val Step = """\[drain\] (.+?)\s+([0-9.]+) s""".r
    val steps = out.toString("UTF-8").linesIterator.map(_.trim).collect {
      case Step(name, _) => name.trim }.toSeq
    assert(steps.sorted === expected.toSeq.sorted, steps.toString)
    assertNothingLeft()
    CacheLife.release(spark)
  }

  test("a family failing in the base phase is rethrown after its siblings finish, leaving nothing running") {
    // the FIRST family fails at once, while its siblings still have
    // seconds of work ahead
    val (root, blocked) = rootWithFileAt(StoreBuild.dedupLayoutDir)
    val err = intercept[Exception](StreamDrain.run(spark, Sf, root, nBatches = 1))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(blocked)),
      s"expected the dedup family's error: $err")
    assertNothingLeft()
    // the siblings ran to completion before the rethrow
    val held = Tables.embeddings(spark, Sf).filter(pmod(col("vec_id"), lit(5)) === 4).count()
    assert(VectorLayout.vectors(spark, StoreBuild.vectorLayoutDir(root)).count() ===
      Tables.embeddings(spark, Sf).count() - held)
    assert(TextLayout.tokenCounts(spark, StoreBuild.textLayoutDir(root)).count() > 0)
    assert(SubstrLayout.exists(spark, StoreBuild.substrLayoutDir(root)))
    assert(spark.read.parquet(s"$root/_landing/vecs").count() === held)
    CacheLife.release(spark)
  }

  test("a stream that cannot start fails the drain only after the other three drain and stop") {
    val (root, blocked) = rootWithFileAt(r => s"$r/_ckpt/text")
    val err = intercept[Exception](StreamDrain.run(spark, Sf, root, nBatches = 1))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("_ckpt/text")),
      s"expected the text stream's error: $err")
    assertNothingLeft()
    // the other streams drained the held-out slice into their stores
    val held = Tables.embeddings(spark, Sf).count()
    assert(VectorLayout.vectors(spark, StoreBuild.vectorLayoutDir(root)).count() === held)
    assert(new java.io.File(blocked).isFile)
    CacheLife.release(spark)
  }
}
