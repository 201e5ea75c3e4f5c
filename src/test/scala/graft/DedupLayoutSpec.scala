package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.DedupQueries
import graft.sources.DedupLayout

/** The incremental near-dup index: growing the on-disk candidate store
  * batch by batch must land on EXACTLY the pair set a from-scratch
  * build mines — and the from-scratch build must equal the registered
  * (oracle-checked) `dedup_minhash_pairs` candidates.
  */
class DedupLayoutSpec extends SparkSpec {

  private object PlanScans extends AdaptiveSparkPlanHelper

  private def pairSet(root: String): Set[(Long, Long)] =
    DedupLayout.pairs(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("two appended batches converge to the from-scratch index and the registered candidates") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val inc = Files.createTempDirectory("graft-dl-inc").toString
    val scratch = Files.createTempDirectory("graft-dl-full").toString

    // base 3/5 of the corpus, then two arrival batches — a cross-batch
    // near-dup pair (batch1 doc ~ batch2 doc) must still be found,
    // because batch2 joins bands that already include batch1
    val m = col("doc_id") % 5
    DedupLayout.materialize(spark, docs.filter(m < 3), inc)
    DedupLayout.append(spark, docs.filter(m === 3), inc, batchId = 0L)
    DedupLayout.append(spark, docs.filter(m === 4), inc, batchId = 1L)
    // ONE refresh covering BOTH appended batches (the round-7 review
    // trap: a frontier built from only the last batch's pairs would
    // silently mislabel batch-0 docs) — the watermark derives the full
    // delta structurally
    DedupLayout.refreshLabels(spark, inc)

    DedupLayout.materialize(spark, docs, scratch)

    val grown = pairSet(inc)
    val rebuilt = pairSet(scratch)
    assert(grown === rebuilt,
      s"incremental index drifted: ${grown.size} vs ${rebuilt.size} pairs; " +
        s"missing=${(rebuilt -- grown).take(5)} extra=${(grown -- rebuilt).take(5)}")

    val registered = DedupQueries.minhashPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rebuilt === registered,
      "the layout's from-scratch pairs must equal the oracle-checked candidates")

    // store invariants: id-ordered, duplicate-free
    assert(grown.forall { case (a, b) => a < b })
    val n = DedupLayout.pairs(spark, inc).count()
    assert(n === grown.size.toLong, s"pair store holds $n rows for ${grown.size} pairs")

    // the extended band/shingle stores cover the whole corpus
    assert(DedupLayout.shingles(spark, inc).select("doc_id").distinct().count()
      === docs.count())

    // warm-started labels equal the cold fixpoint AND the registered
    // oracle-checked clusters over the full corpus
    def labelSet(root: String) = DedupLayout.labels(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val warm = labelSet(inc)
    assert(warm === labelSet(scratch),
      "warm-started incremental labels drifted from the cold fixpoint")
    val regLabels = DedupQueries.clusters(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(warm === regLabels,
      "incremental labels must equal the registered dedup_clusters")

    // a refresh with nothing new is a watermark no-op
    DedupLayout.refreshLabels(spark, inc)
    assert(labelSet(inc) === warm)
    CacheLife.release(spark)
  }

  test("a warm refresh reads only the delta's pair partitions and the labels") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-dl-delta").toString
    val m = col("doc_id") % 5
    DedupLayout.materialize(spark, docs.filter(m < 3), root)
    DedupLayout.append(spark, docs.filter(m === 3), root, batchId = 0L)
    DedupLayout.refreshLabels(spark, root)
    DedupLayout.append(spark, docs.filter(m === 4), root, batchId = 1L)

    // every file scan of the refresh, with the partitions it lists
    val scans = new ConcurrentLinkedQueue[(String, Seq[Long], Boolean)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        PlanScans.collect(qe.executedPlan) { case x: FileSourceScanExec => x }.foreach { x =>
          val parts = x.relation.location.listFiles(x.partitionFilters, Nil)
            .flatMap(d => if (d.values.numFields > 0) Seq(d.values.getLong(0)) else Nil)
          scans.add((x.relation.location.rootPaths.head.getName, parts,
            x.partitionFilters.exists(_.references.exists(_.name == "__batch_id"))))
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try DedupLayout.refreshLabels(spark, root)
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val read = scans.asScala.toSeq
    assert(read.map(_._1).toSet === Set("pairs", "labels"),
      s"the refresh must read the pairs and the labels only: $read")
    val pairScans = read.filter(_._1 == "pairs")
    assert(pairScans.forall(_._3), s"pair scans without __batch_id PartitionFilters: $read")
    assert(pairScans.flatMap(_._2).toSet === Set(1L),
      s"the refresh must list only the delta batch's pair partition: $pairScans")
    CacheLife.release(spark)
  }

  test("append guard: same-id replay succeeds, new-id replay raises") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-dl-guard2").toString
    val m = col("doc_id") % 5
    DedupLayout.materialize(spark, docs.filter(m < 4), root)
    DedupLayout.append(spark, docs.filter(m === 4), root, batchId = 0L)
    val before = DedupLayout.pairs(spark, root).count()

    DedupLayout.append(spark, docs.filter(m === 4), root, batchId = 0L)
    assert(DedupLayout.pairs(spark, root).count() === before,
      "same-batch-id replay must leave the store unchanged")

    val e = intercept[Exception] {
      DedupLayout.append(spark, docs.filter(m === 4), root, batchId = 1L)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("already exists in the index prefix")),
      s"expected the replay refusal, got: ${messages(e).mkString(" | ")}")
    CacheLife.release(spark)
  }

  test("pure-streaming bootstrap: appends onto an EMPTY root converge to the rebuild") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val root = Files.createTempDirectory("graft-dl-boot").toString
    val scratch = Files.createTempDirectory("graft-dl-boot-full").toString
    val m = col("doc_id") % 3

    // NO materialize: the first append is the base the next batches join
    DedupLayout.append(spark, docs.filter(m === 0), root, batchId = 0L)
    DedupLayout.append(spark, docs.filter(m === 1), root, batchId = 1L)
    DedupLayout.append(spark, docs.filter(m === 2), root, batchId = 2L)
    // no labels store yet either: refresh must cold-build, not die
    DedupLayout.refreshLabels(spark, root)

    DedupLayout.materialize(spark, docs, scratch)
    assert(pairSet(root) === pairSet(scratch),
      "bootstrap-grown pairs drifted from the from-scratch build")
    def labelSet(r: String) = DedupLayout.labels(spark, r).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(labelSet(root) === labelSet(scratch),
      "bootstrap labels drifted from the cold fixpoint")

    // a second refresh is a watermark no-op; a later append + refresh
    // takes the WARM path over the bootstrapped state
    DedupLayout.refreshLabels(spark, root)
    assert(labelSet(root) === labelSet(scratch))
    CacheLife.release(spark)
  }

  test("warm-start propagation merges two stored clusters across a bridge edge") {
    import spark.implicits._
    // stored state: components {1,2} (label 1) and {10,11} (label 10);
    // a new pair 2—10 must relabel the whole second cluster to 1, from
    // the stored labels and the bridge pair alone
    val old = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    val bridge = Seq((2L, 10L)).toDF("doc_a", "doc_b")
    val labels = DedupLayout.relabel(old, bridge)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L),
      s"the bridge must merge both clusters to label 1, got $labels")
  }

  // ---- warm refresh = cold build over the whole corpus ----

  private def labelSet(root: String): Set[(Long, Long)] =
    DedupLayout.labels(spark, root).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def cold(docs: DataFrame): Set[(Long, Long)] = {
    val root = Files.createTempDirectory("graft-dl-cold").toString
    DedupLayout.materialize(spark, docs, root)
    labelSet(root)
  }

  /** Materialize every doc of `docs` outside `batches`, then append each
    * batch and refresh after it. Returns the labels before the last
    * refresh and after it.
    */
  private def grow(docs: DataFrame, batches: Seq[Set[Long]])
      : (Set[(Long, Long)], Set[(Long, Long)]) = {
    val root = Files.createTempDirectory("graft-dl-grow").toString
    DedupLayout.materialize(spark, docs.filter(!col("doc_id").isin(batches.flatten: _*)), root)
    var before = labelSet(root)
    batches.zipWithIndex.foreach { case (b, i) =>
      before = labelSet(root)
      DedupLayout.append(spark, docs.filter(col("doc_id").isin(b.toSeq: _*)), root, i.toLong)
      DedupLayout.refreshLabels(spark, root)
    }
    (before, labelSet(root))
  }

  private lazy val fixtureDocs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))

  /** The fixture's candidate graph: adjacency of every clustered doc. */
  private lazy val graph: Map[Long, Set[Long]] =
    DedupQueries.minhashPairs(spark, Sf).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

  private lazy val fixtureCold = cold(fixtureDocs)

  test("a warm refresh merges two stored clusters that one new doc bridges") {
    import spark.implicits._
    // twelve words each; the bridge text is A followed by B, and its
    // band keys meet one band of A's and one of B's (A and B share none)
    def words(p: String) = (0 until 12).map(w => s"${p}x$w").mkString(" ")
    val (a, b) = (words("ka2"), words("lb5"))
    val docs = Seq(1L -> a, 2L -> a, 10L -> b, 11L -> b, 5L -> s"$a $b").toDF("doc_id", "text")
    val (before, after) = grow(docs, Seq(Set(5L)))
    assert(before === Set(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(after === cold(docs), "the bridge refresh drifted from the cold build")
    assert(after === Set(1L, 2L, 5L, 10L, 11L).map(_ -> 1L))
    CacheLife.release(spark)
  }

  test("a warm refresh relabels a stored cluster that a lower-id doc joins") {
    // the minimum of a component, arriving after a cluster of its
    // neighbours was already labelled with a higher id
    val joiner = graph.keys.toSeq.sorted.find { d =>
      graph(d).forall(_ > d) && graph(d).exists(n => (graph(n) - d).nonEmpty)
    }.getOrElse(fail("the fixture graph has no component of three docs"))
    val (before, after) = grow(fixtureDocs, Seq(Set(joiner)))
    assert(graph(joiner).map(before.toMap).forall(_ > joiner))
    assert(after === fixtureCold, "the lower-id joiner drifted from the cold build")
    assert(after.toMap.apply(joiner) === joiner)
    CacheLife.release(spark)
  }

  test("a warm refresh follows a chain that runs across two appended batches") {
    // y joins a stored cluster in batch 0, z attaches to y in batch 1
    val (y, z) = graph.keys.toSeq.sorted.iterator
      .flatMap(y => graph(y).toSeq.sorted.map(y -> _))
      .find { case (y, z) => (graph(y) - z).nonEmpty }
      .getOrElse(fail("the fixture graph has no chain of three docs"))
    val (_, after) = grow(fixtureDocs, Seq(Set(y), Set(z)))
    assert(after === fixtureCold, "the two-batch chain drifted from the cold build")
    CacheLife.release(spark)
  }

  test("components runs one action per round: no job is a per-round count") {
    val pairs = DedupQueries.minhashPairs(spark, Sf).localCheckpoint()
    var labels: DataFrame = null
    val sites = jobSitesDuring { labels = DedupQueries.components(pairs) }
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === fixtureCold)
    assert(!sites.exists(_.startsWith("count at")), s"a per-round count ran: $sites")
    // the fixture's clusters are one hop wide: the edge checkpoint, the
    // round-0 aggregate and one round that changes nothing — each one
    // action, the rest are the adaptive stages of their shuffles
    assert(sites.count(_.startsWith("localCheckpoint at DedupQueries")) === 3, sites)
    assert(sites.size <= 7, s"components ran ${sites.size} jobs: $sites")
    CacheLife.release(spark)
  }
}
