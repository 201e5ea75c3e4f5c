package graft

import graft.operators._

/** Physical-plan assertions: the scale properties SURVEY §4 promises
  * must be visible in `executedPlan`, not just claimed in scaladoc.
  * (MultimodalSpec asserts payload pruning.)
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column projection prunes the parquet read schema") {
    val p = plan(CoreQueries.projection(spark, Sf))
    assert(p.contains("ReadSchema"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice") && !read.contains("l_comment"),
      s"pruned columns leaked into the scan: $read")
  }

  test("fact filters are pushed to the parquet scan") {
    val p = plan(RelationalQueries.shippingPriority(spark, Sf))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate") ||
      p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
  }

  test("top-1 plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(CoreQueries.top1ByValue(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), s"global sort should not appear:\n$p")
  }

  test("dimension joins broadcast; fact-fact joins sort-merge") {
    val p = plan(RelationalQueries.localSupplierVolume(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p) // nation/region/supplier
    assert(p.contains("SortMergeJoin"), p) // customer⋈orders, orders⋈lineitem
  }

  test("grouped aggregation is partial (map-side) before the shuffle") {
    val p = plan(CoreQueries.sumByDay(spark, Sf))
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    // final agg above the exchange, partial agg below it
    assert(p.indexOf("HashAggregate", exchange) > exchange,
      s"expected a partial aggregate below the exchange:\n$p")
  }

  test("LSH candidate join is an equi-join on band keys (never a cross product)") {
    val p = plan(DedupQueries.minhashPairs(spark, Sf))
    assert(p.contains("SortMergeJoin [band"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("trained-quantizer ANN probe is an equi-join on the cell key") {
    val p = plan(SimilarityQueries.annKmeans(spark, Sf))
    // the probe joins corpus to the broadcast query row on cell =
    // qcell — a BNLJ/cartesian would scan every cell per candidate
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    CacheLife.release(spark) // annKmeans persists the quantized corpus
  }

  test("corpus-wide kNN probes by shuffled cell equi-join with partial top-k, never a corpus broadcast") {
    val p = plan(SimilarityQueries.knnAnn(spark, Sf))
    // the probe join must shuffle both corpus-sized sides on the cell
    // key — broadcastQueries=false exists exactly so the whole-corpus
    // query set is never a build side
    assert(p.contains("SortMergeJoin [cell") || p.contains("ShuffledHashJoin [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are the model-sized centroid crosses
    // (8-row broadcast build); the per-src top-k must partial-limit
    // map-side (WindowGroupLimit) so the rank shuffle carries ≤k rows
    // per source, not the full candidate set
    assert(p.contains("WindowGroupLimit"), p)
    CacheLife.release(spark) // rides the cached cell index
  }

  test("hierarchical kNN keeps the candidate join shuffled on the cell key with partial top-k") {
    val p = plan(SimilarityQueries.knnAnnHier(spark, Sf))
    // stage 2's member ranking joins the corpus-sized (source, super)
    // set against the model-sized member table (broadcast is fine
    // THERE); the candidate join must still shuffle both corpus-sized
    // sides on the cell key, and the per-src top-k must partial-limit
    assert(p.contains("SortMergeJoin [cell") || p.contains("ShuffledHashJoin [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
    CacheLife.release(spark) // rides the cached assignment + models
  }

  test("PQ kNN shortlists by shuffled cell equi-join over codes with partial top-k, never a corpus broadcast") {
    val p = plan(SimilarityQueries.knnAnnPq(spark, Sf))
    // the candidate join shuffles the code table against the
    // corpus-sized (source, probe-cell) set on the cell key
    assert(p.contains("SortMergeJoin [cell") || p.contains("ShuffledHashJoin [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
    // both the per-src ADC shortlist and the rerank top-k must
    // partial-limit map-side
    assert(p.contains("WindowGroupLimit"), p)
    CacheLife.release(spark) // rides the cached code table + models
  }

  test("tfidf df is an aggregate + broadcast join, never a vocab-partitioned window") {
    val df = TextQueries.tfidf(spark, Sf)
    val p = plan(df)
    // a `count(*) over (partition by token)` df would buffer each
    // token's full posting list in one WindowExec task at corpus scale
    assert(!p.contains("Window"), s"df must not ride a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // the df aggregate must partial-combine map-side before its shuffle
    val exchange = p.indexOf("Exchange")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > exchange,
      s"expected a partial aggregate below the exchange:\n$p")
    // the (doc_id, token) tf shuffle must run ONCE, in the tf store
    // build — never inside the query itself, where the probe side and
    // the df aggregate would each run their own copy (ReuseExchange
    // can't merge them: pruning drops the count off the df side, so the
    // subtrees aren't canonically equal — hence the materialized store).
    // Walk the EXECUTED adaptive plan (into query stages, NOT into
    // cached relations' stored build plans, which print their own
    // exchange) and assert no live shuffle partitions by doc_id.
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def liveShuffles(pl: SparkPlan): Seq[String] = pl match {
      case a: AdaptiveSparkPlanExec => liveShuffles(a.executedPlan)
      case q: QueryStageExec => liveShuffles(q.plan)
      case sh: ShuffleExchangeExec =>
        sh.outputPartitioning.toString +: sh.children.flatMap(liveShuffles)
      case other => other.children.flatMap(liveShuffles)
    }
    val shuffles = liveShuffles(df.queryExecution.executedPlan)
    assert(!shuffles.exists(_.contains("doc_id")),
      s"the tf (doc_id, token) shuffle must happen in the store build, " +
        s"not per consumer; live shuffles: $shuffles")
    CacheLife.release(spark) // tfidf reads the cached token store
  }

  test("range join is an equi-join on the time bucket (no NLJ, no cartesian)") {
    val p = plan(TemporalQueries.rangeJoinCounts(spark, Sf))
    // the whole design point: the 5-min range predicate refines a bucket
    // EQUI-join — a BNLJ would pair every error with every click
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("bkt"), p)
  }

  test("sample-mix is a scan + filter with no exchange") {
    val p = plan(TextQueries.sampleMix(spark, Sf))
    assert(!p.contains("Exchange"), s"per-row hash sampling must not shuffle:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("dedup survivors is a doc_id equi-join over the labels (no NLJ, no window)") {
    val p = plan(DedupQueries.survivors(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    CacheLife.release(spark) // survivors rides the cached candidate store
  }

  test("corpus funnel counts all six stages in one final aggregate (no window, no NLJ)") {
    val p = plan(TextQueries.corpusFunnel(spark, Sf))
    // six cumulative counters must ride ONE partial+final aggregate
    // pass over the flagged corpus — six separate scans (or a stage
    // window) would read the corpus six times at scale
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchange = p.indexOf("Exchange")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > exchange,
      s"expected a partial aggregate below an exchange:\n$p")
    CacheLife.release(spark) // funnel rides the cached candidate store
  }

  test("batched ANN probe is a cell-key equi-join with per-query windows") {
    // materialize the cell index first (Bench attributes it as a build)
    // so the asserted plan is the PROBE, reading the index
    SimilarityQueries.ivfCells(spark, Sf).count()
    val p = plan(SimilarityQueries.annIvfBatch(spark, Sf))
    // the CORPUS-side join must be an equi-join on the cell key — the
    // only cross joins allowed are against model-sized inputs (the
    // query set × NCells centroid ranking, and the cached index's own
    // build lineage), never corpus × corpus
    assert(p.contains("BroadcastHashJoin [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan"), p) // probe reads the index
    // both the probe-cell ranking and the final top-k must partition by
    // query — a global window would serialize the whole batch
    assert(p.contains("windowspecdefinition(qid"), p)
    CacheLife.release(spark) // the probe reads the cached cell index
  }

  test("context packing windows are shard-partitioned, never global") {
    val p = plan(TextQueries.packContexts(spark, Sf))
    // a running sum with no partition spec moves the whole corpus into
    // ONE task; the design point is per-shard packing
    assert(p.contains("windowspecdefinition(shard"), p)
  }

  test("lsh pair candidates ride the band equi-join; verify joins are id equi-joins") {
    val p = plan(SimilarityQueries.pairsLsh(spark, Sf))
    // candidate generation must be the banded (band, key) join — a
    // BNLJ/cartesian would mean the lossy path degenerated to all-pairs,
    // defeating its entire reason to exist
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("band"), p)
    CacheLife.release(spark) // pairsLsh rides the cached sign-band store
  }

  test("chunking is explode + slice with no join, window, or key shuffle") {
    val p = plan(TextQueries.chunk(spark, Sf))
    assert(!p.contains("Window") && !p.contains("Join"), p)
    // the only exchange is the single-file spread (round-robin); a
    // hashpartitioning here would mean chunking acquired a key shuffle
    assert(!p.contains("hashpartitioning"), s"chunking must not shuffle by key:\n$p")
  }

  test("repetition aggregates partial-combine map-side before each shuffle") {
    val p = plan(TextQueries.repetition(spark, Sf))
    assert(!p.contains("Window"), p)
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > exchange,
      s"expected a partial aggregate below the exchange:\n$p")
  }

  test("salted aggregation is two stages: (key, salt) partials then key merge") {
    val p = plan(RelationalQueries.saltedAgg(spark, Sf))
    // stage 1 shuffles by (k, salt), stage 2 by k alone — both with
    // map-side partials; a single-stage plan would mean the salt was
    // optimized away along with the skew spreading it exists for
    assert(p.contains("hashpartitioning(k"), p)
    assert(p.contains("salt"), p)
    val s1 = p.indexOf("Exchange hashpartitioning")
    val s2 = p.indexOf("Exchange hashpartitioning", s1 + 1)
    assert(s1 >= 0 && s2 > s1, s"expected two key exchanges:\n$p")
  }

  test("label centroids partial-aggregate below the (label, dim) shuffle") {
    val p = plan(SimilarityQueries.labelCentroids(spark, Sf))
    assert(!p.contains("Window") && !p.contains("Join"), p)
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > exchange,
      s"expected a partial aggregate below the exchange:\n$p")
  }

  test("semantic dedup self-join is an equi-join on the cell key (no NLJ)") {
    val p = plan(SimilarityQueries.semanticDedup(spark, Sf))
    // the SemDeDup point: the quadratic term is confined to cells, so
    // the pair search must be a cell-keyed equi-join — a BNLJ/cartesian
    // would mean it degenerated to corpus × corpus
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cell"), p)
    CacheLife.release(spark) // rides the cached quantized corpus + model
  }

  test("PQ ADC scan is a codes scan × 1-row broadcast with top-k, no corpus shuffle") {
    val p = plan(SimilarityQueries.annPq(spark, Sf))
    // ADC must stay a linear scan over the code table: the only join is
    // the broadcast of the single query row, and the top-k must plan as
    // TakeOrderedAndProject — any hashpartitioning exchange would mean
    // the compressed corpus acquired a shuffle
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"ADC scan must not shuffle the corpus:\n$p")
    CacheLife.release(spark) // rides the cached PQ code table
  }

  test("IVF-PQ probe is a cell equi-join over the code table, no corpus shuffle") {
    val p = plan(SimilarityQueries.annIvfPq(spark, Sf))
    // prune must be the broadcast cell equi-join (at scale: partition
    // pruning over the cell-partitioned code table) and the scan must
    // stay shuffle-free with TakeOrderedAndProject on top
    assert(p.contains("BroadcastHashJoin [cell"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"IVF-PQ probe must not shuffle the corpus:\n$p")
    CacheLife.release(spark) // rides the cached PQ index
  }

  test("source matrix joins candidates on doc ids and partial-aggregates the rollup") {
    val p = plan(DedupQueries.sourceMatrix(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > exchange,
      s"expected a partial aggregate below the exchange:\n$p")
    CacheLife.release(spark) // rides the cached candidate store
  }

  test("split report is a scan + two-level aggregate: no join, no window") {
    val p = plan(TextQueries.splitReport(spark, Sf))
    assert(!p.contains("Join") && !p.contains("Window"), p)
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0 && p.indexOf("HashAggregate", exchange) > exchange,
      s"expected a partial aggregate below the exchange:\n$p")
  }

  test("pairs-threshold join is an equi-join on block-pair cells (no NLJ, no cartesian)") {
    val p = plan(SimilarityQueries.pairsThreshold(spark, Sf))
    // the pair condition must be a hash/merge EQUI-join on (bi, bj) —
    // a BNLJ would evaluate the cosine interpreted per candidate pair,
    // and a cartesian would mean the block decomposition fell apart
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") && (p.contains("bi") && p.contains("bj")), p)
  }

  test("substr spans: partial-agg'd hash count, hash-keyed hit join, doc-partitioned merge") {
    val p = plan(SubstrDedup.queries("dedup_substr_spans")(spark, Sf))
    // duplicated windows are a COUNT over the md5 key (map-side partials
    // below the exchange), never a self-join; a cartesian/BNLJ here would
    // mean the window index is comparing positions all-pairs
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val exchange = p.indexOf("Exchange hashpartitioning(h")
    assert(exchange >= 0 && p.lastIndexOf("HashAggregate", p.length) > exchange, p)
    // the interval merge must be partitioned BY DOC — a global window
    // would funnel every hit position into one task
    assert(p.contains("windowspecdefinition(doc_id"), p)
    CacheLife.release(spark) // spans ride the cached window index
  }

  test("substr clean is equi-keyed throughout: anti-join excision, no global window") {
    val p = plan(SubstrDedup.queries("dedup_substr_clean")(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p) // covered positions excised by (doc_id, pos) equi-key
    assert(!p.contains("windowspecdefinition()"), p)
    CacheLife.release(spark)
  }
}
