package graft

import java.io.{ByteArrayOutputStream, DataInputStream, FileInputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.{DedupQueries, SimilarityQueries}
import graft.sources.{DedupLayout, IdAuthority, SubstrLayout, TextLayout, VectorLayout}

/** A store's bookkeeping costs no Spark job beyond one pass over a
  * batch's ids: the id guard and the base record each run one exchange
  * and one action, and the label watermark, the vector model pin and
  * every family's fsck are small-file reads. Roots whose watermark and
  * pin are still the earlier one-row parquet stores keep working.
  */
class BookkeepingSpec extends SparkSpec {

  private def ids(lo: Long, hi: Long) = {
    import spark.implicits._
    (lo until hi).toDF("doc_id")
  }

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-book-$tag").toString

  private def bloomBytes(b: BloomFilter): Seq[Byte] = {
    val out = new ByteArrayOutputStream()
    b.writeTo(out)
    out.toByteArray.toSeq
  }

  /** (capacity, count, filter) of a single-file id-authority record. */
  private def record(root: String, name: String): (Long, Long, BloomFilter) = {
    val in = new DataInputStream(new FileInputStream(s"$root/_id_bloom/$name"))
    try (in.readLong(), in.readLong(), BloomFilter.readFrom(in)) finally in.close()
  }

  private def sequential(capacity: Long, ids: Seq[Range]): BloomFilter = {
    val b = BloomFilter.create(capacity, IdAuthority.Fpp)
    ids.foreach(_.foreach(i => b.putLong(i.toLong)))
    b
  }

  /** A store root with all four families built (dedup, text, substr, vectors). */
  private lazy val root: String = {
    val r = tmp("root")
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    DedupLayout.materialize(spark, docs, StoreBuild.dedupLayoutDir(r))
    TextLayout.materialize(spark, docs, StoreBuild.textLayoutDir(r))
    SubstrLayout.materialize(spark, docs, StoreBuild.substrLayoutDir(r))
    VectorLayout.materialize(spark, Sf, StoreBuild.vectorLayoutDir(r))
    r
  }

  test("recordBase and a clean guard each run at most 2 jobs; the guard's filter equals a sequential build") {
    IdAuthority.recordBase(spark, tmp("warm"), ids(0, 10), baseBatch = -1L) // warm the session
    val r = tmp("ida")
    val base = jobsDuring(IdAuthority.recordBase(spark, r, ids(0, 1000), baseBatch = -1L))
    val guard = jobsDuring {
      IdAuthority.guardAndRecord(spark, r, batchId = 0L, arrivalIds = ids(5000, 5100),
        priorIds = sys.error("a clean batch must not evaluate the exact prefix"),
        who = "spec", what = "spec prefix")
      IdAuthority.completeAppend(spark, r)
    }
    assert(base <= 2 && guard <= 2, s"recordBase ran $base jobs, the clean guard $guard")
    val (cap, n, got) = record(r, "bloom-0")
    assert((cap, n) === ((IdAuthority.MinCapacity, 1100L)))
    assert(bloomBytes(got) === bloomBytes(sequential(cap, Seq(0 until 1000, 5000 until 5100))))
  }

  test("a base past MinCapacity/2 ids is recorded at 2n, bit-identical to a sequential build") {
    val r = tmp("ida-2n")
    IdAuthority.recordBase(spark, r, ids(0, 40000), baseBatch = -1L)
    val (cap, n, got) = record(r, "bloom-m1")
    assert((cap, n) === ((80000L, 40000L)))
    assert(bloomBytes(got) === bloomBytes(sequential(cap, Seq(0 until 40000))))
  }

  test("refreshLabels with nothing new, readMeta and every family's fsck run 0 jobs") {
    val r = root
    val dedup = StoreBuild.dedupLayoutDir(r)
    val vec = StoreBuild.vectorLayoutDir(r)
    val counts = Seq(
      "refreshLabels" -> jobsDuring(DedupLayout.refreshLabels(spark, dedup)),
      "readMeta" -> jobsDuring(assert(VectorLayout.readMeta(spark, vec).isDefined))) ++
      Families.registry.map(f => s"${f.name}.fsck" -> jobsDuring {
        val rows = f.fsck(spark, f.dir(r))
        assert(!rows.exists(_._2 == "fail"), s"${f.name}: $rows")
      })
    assert(counts.forall(_._2 == 0), s"bookkeeping ran jobs: $counts")
  }

  test("a root with the earlier parquet watermark and pin still opens") {
    import spark.implicits._
    val r = tmp("old")
    val dedup = StoreBuild.dedupLayoutDir(r)
    val vec = StoreBuild.vectorLayoutDir(r)
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val m = col("doc_id") % 4
    DedupLayout.materialize(spark, docs.filter(m < 3), dedup)
    DedupLayout.append(spark, docs.filter(m === 3), dedup, batchId = 0L)
    VectorLayout.materialize(spark, Sf, vec)
    val pin = VectorLayout.readMeta(spark, vec).get
    // what the earlier layout wrote: one-row parquet stores
    Files.delete(Paths.get(dedup, "_labels_covered"))
    Files.deleteIfExists(Paths.get(dedup, "._labels_covered.crc"))
    Seq(-1L).toDF("covered_batch").coalesce(1) // the base batch
      .write.parquet(s"$dedup/labels__covered")
    Files.delete(Paths.get(vec, "_pin"))
    Files.deleteIfExists(Paths.get(vec, "._pin.crc"))
    Seq(pin).toDF("ncells", "assign").coalesce(1).write.parquet(s"$vec/_meta")

    val lines = Seq.newBuilder[String]
    assert(Doctor.run(spark, Seq(r), lines += _) === 0, lines.result().mkString("\n"))
    assert(Doctor.check(spark, r).exists(c => c._1 == "dedup" && c._2 == "labels" && c._3 == "warn"))

    // the earlier pin still holds: a session resolving another K refuses
    assert(VectorLayout.readMeta(spark, vec) === Some(pin))
    val e = intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.NCellsKey -> (pin._1 + 1).toString) {
        VectorLayout.knn(spark, Sf, vec).collect()
      }
    }
    assert(e.getMessage.contains(s"ncells=${pin._1}"), e.getMessage)

    // the next refresh rebuilds the labels and moves the watermark to its sidecar
    DedupLayout.refreshLabels(spark, dedup)
    val cold = DedupQueries.components(DedupLayout.pairs(spark, dedup))
    val labels = DedupLayout.labels(spark, dedup)
    assert(labels.collect().toSet === cold.collect().toSet)
    assert(Files.exists(Paths.get(dedup, "_labels_covered")))
    assert(!Files.exists(Paths.get(dedup, "labels__covered")))
    assert(Doctor.check(spark, r).exists(c => c._1 == "dedup" && c._2 == "labels" && c._3 == "ok"))
    CacheLife.release(spark)
  }

  test("a torn vector model pin refuses, naming the file") {
    val vec = StoreBuild.vectorLayoutDir(tmp("torn-pin"))
    VectorLayout.materialize(spark, Sf, vec)
    val pin = Paths.get(vec, "_pin")
    Files.deleteIfExists(pin.resolveSibling("._pin.crc"))
    Files.write(pin, "ncells=".getBytes)
    val e = intercept[IllegalStateException](VectorLayout.readMeta(spark, vec))
    assert(e.getMessage.contains(pin.toString), e.getMessage)
    CacheLife.release(spark)
  }
}
