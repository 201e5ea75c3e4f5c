package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.DedupLayout

/** Building a dedup store's DataFrame runs no Spark job: every store
  * read declares its schema, so no parquet footer is read (in a job)
  * to infer one. The declared schemas must still read the stores
  * exactly as inference would, and the label meta read keeps `fsck`'s
  * torn-meta diagnosis.
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

  test("the declared store schemas read each store exactly as inference does") {
    // partition discovery types `__batch_id` by the values it lists
    // (int on this root); every store declares it long, and every store
    // read drops it
    def dataColumns(df: org.apache.spark.sql.DataFrame) = df.drop("__batch_id").schema
    Seq("shingles" -> DedupLayout.ShinglesSchema, "bands" -> DedupLayout.BandsSchema,
      "pairs" -> DedupLayout.PairsSchema,
      "labels" -> DedupLayout.LabelsSchema,
      "labels__covered" -> DedupLayout.LabelsMetaSchema).foreach { case (store, declared) =>
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
    val meta = Paths.get(root, "labels__covered")
    def labelRow() = DedupLayout.fsck(spark, root).filter(_._1 == "labels")
    assert(labelRow().map(_._2) === Seq("ok"))
    val parts = meta.toFile.listFiles().filter(f => f.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    val saved = parts.map(f => f -> Files.readAllBytes(f.toPath))
    try {
      // a corrupt data file, then no data file at all
      parts.foreach(f => Files.write(f.toPath, "torn".getBytes))
      meta.toFile.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
      assert(labelRow().map(_._2) === Seq("fail"), labelRow().toString)
      parts.foreach(_.delete())
      assert(labelRow().map(_._2) === Seq("fail"), labelRow().toString)
    } finally saved.foreach { case (f, b) => Files.write(f.toPath, b) }
    assert(labelRow().map(_._2) === Seq("ok"))
  }
}
