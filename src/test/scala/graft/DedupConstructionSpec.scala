package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{DedupLayout, TextLayout, VectorLayout}

/** Building a store's DataFrame runs no Spark job: every dedup, text
  * and vector log read declares its schema, so no parquet footer is
  * read (in a job) to infer one. The declared schemas must still read
  * the stores exactly as inference would, and the label meta read
  * keeps `fsck`'s torn-meta diagnosis.
  */
class DedupConstructionSpec extends SparkSpec {

  private lazy val root = {
    val r = Files.createTempDirectory("graft-dedup-construct").toString
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    DedupLayout.materialize(spark, docs.filter(col("doc_id") % 4 =!= 0), r)
    DedupLayout.append(spark, docs.filter(col("doc_id") % 4 === 0), r, batchId = 0L)
    DedupLayout.refreshLabels(spark, r)
    r
  }

  private lazy val textRoot = {
    val r = Files.createTempDirectory("graft-text-construct").toString
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    TextLayout.materialize(spark, docs.filter(col("doc_id") % 4 =!= 0), r)
    TextLayout.append(spark, docs.filter(col("doc_id") % 4 === 0), r, batchId = 0L)
    r
  }

  private lazy val vecRoot = {
    val r = Files.createTempDirectory("graft-vec-construct").toString
    val hold = col("vec_id") % 4 === 0
    VectorLayout.materializeWhere(spark, Sf, r, !hold)
    VectorLayout.append(spark, Sf, r,
      Tables.embeddings(spark, Sf).filter(hold).select("vec_id", "embedding"), batchId = 0L)
    r
  }

  private def dataColumns(df: org.apache.spark.sql.DataFrame) = df.drop("__batch_id").schema

  test("the declared text and vector log schemas read each log exactly as inference does") {
    Seq(s"$textRoot/tokens" -> TextLayout.TokensSchema,
      s"$textRoot/token_counts" -> TextLayout.CountsSchema,
      vecRoot -> VectorLayout.LayoutSchema,
      s"$vecRoot/_trained_hist" -> VectorLayout.HistSchema).foreach { case (dir, declared) =>
      assert(dataColumns(spark.read.schema(declared).parquet(dir)) ===
        dataColumns(spark.read.parquet(dir)), s"$dir: declared schema drifted")
    }
  }

  test("building TextLayout.tokens, .tokenCounts, .vocab and VectorLayout.vectors runs 0 jobs") {
    val (t, v) = (textRoot, vecRoot) // materialized outside the counted windows
    val perRead = Seq(
      "tokens" -> jobsDuring(TextLayout.tokens(spark, t)),
      "tokenCounts" -> jobsDuring(TextLayout.tokenCounts(spark, t)),
      "vocab" -> jobsDuring(TextLayout.vocab(spark, t)),
      "vectors" -> jobsDuring(VectorLayout.vectors(spark, v)))
    assert(perRead.forall(_._2 == 0), s"construction ran jobs: $perRead")
    CacheLife.release(spark)
  }

  test("the declared store schemas read each store exactly as inference does") {
    // partition discovery types `__batch_id` by the values it lists
    // (int on this root); every store declares it long, and every store
    // read drops it
    def dataColumns(df: org.apache.spark.sql.DataFrame) = df.drop("__batch_id").schema
    Seq("shingles" -> DedupLayout.ShinglesSchema, "bands" -> DedupLayout.BandsSchema,
      "pairs" -> DedupLayout.PairsSchema,
      "labels" -> DedupLayout.LabelsSchema).foreach { case (store, declared) =>
      val dir = s"$root/$store"
      assert(dataColumns(spark.read.schema(declared).parquet(dir)) ===
        dataColumns(spark.read.parquet(dir)), s"$store: declared schema drifted")
    }
  }

  test("building DedupLayout.labels, .shingles and .bands on a materialized root runs 0 jobs") {
    val r = root // materialized outside the counted windows
    val perStore = Seq(
      "labels" -> jobsDuring(DedupLayout.labels(spark, r)),
      "shingles" -> jobsDuring(DedupLayout.shingles(spark, r)),
      "bands" -> jobsDuring(DedupLayout.bands(spark, r)))
    assert(perStore.forall(_._2 == 0), s"construction ran jobs: $perStore")
  }

  test("fsck reads a torn covered-batch meta as fail, not a crash") {
    val meta = Paths.get(root, "_labels_covered")
    def labelRow() = DedupLayout.fsck(spark, root).filter(_._1 == "labels")
    assert(labelRow().map(_._2) === Seq("ok"))
    val saved = Files.readAllBytes(meta)
    val crc = meta.resolveSibling("._labels_covered.crc")
    try {
      // garbled text, a value torn short of its newline, then no file
      Files.deleteIfExists(crc)
      Seq("torn\n", saved.init.map(_.toChar).mkString).foreach { t =>
        Files.write(meta, t.getBytes)
        assert(labelRow().map(_._2) === Seq("fail"), labelRow().toString)
      }
      Files.delete(meta)
      assert(labelRow().map(_._2) === Seq("fail"), labelRow().toString)
    } finally Files.write(meta, saved)
    assert(labelRow().map(_._2) === Seq("ok"))
  }
}
