package graft

import graft.operators._

/** Smoke + invariant tests for every registered query at sf0.001 (the
  * driver-smoke scale). The DuckDB hash-compare at sf0.01 is the real
  * correctness gate (Verify + tools/check_oracle.py); these assert the
  * engine-level contracts that survive any data: schema names, bounds,
  * and cross-query consistency.
  */
class QueriesSpec extends SparkSpec {

  test("entry returns a single top-revenue row") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 1)
    assert(rows.head.schema.fieldNames.contains("revenue"))
  }

  test("every query runs at sf0.001 and column names are stable") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, Sf)
      val cols = df.columns
      assert(cols.nonEmpty, s"$name has no columns")
      assert(cols.distinct.length == cols.length, s"$name has duplicate column names")
      df.count() // forces execution
    }
  }

  test("every query with an oracle has matching registration") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o -- q}")
    // since the sketch evals gained oracles, EVERY query is hash-checked
    assert((q -- o).isEmpty, s"unexpected rows-only queries: ${q -- o}")
  }

  test("dedup pipeline: jaccard-verified pairs are a subset of candidates") {
    val cand = DedupQueries.minhashPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = DedupQueries.jaccardPairs(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cand))
    assert(verified.forall { case (a, b) => a < b })
  }

  test("similarity: ann results are a subset of brute-force ranking universe") {
    val exact = SimilarityQueries.topkCosine(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = SimilarityQueries.annLsh(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    // any ANN hit that also appears in exact top-k must carry the same score
    ann.foreach { case (id, c) =>
      exact.get(id).foreach(e => assert(e == c, s"score mismatch for vec $id"))
    }
    assert(ann.map(_._2).sorted.reverse.sameElements(ann.map(_._2)), "ann not sorted desc")
  }

  test("pairs threshold output respects bound and ordering contract") {
    val rows = SimilarityQueries.pairsThreshold(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= SimilarityQueries.PairThreshold)
      assert(r.getDouble(2) <= 1.0)
    }
  }

  test("block-decomposed pairs join equals the broadcast-kernel cross-check") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val blocked = SimilarityQueries.pairsThreshold(spark, Sf).collect().map(key).toSet
    val kernel = SimilarityQueries.pairsThresholdBroadcastKernel(spark, Sf).collect().map(key).toSet
    assert(blocked == kernel,
      s"only-blocked=${blocked -- kernel}, only-kernel=${kernel -- blocked}")
  }

  test("ivf multi-probe dominates single-probe rank-for-rank") {
    // multi-probe scans a SUPERSET of single-probe's candidates (q-cell
    // plus the next-nearest cells), so its k-th best cosine must be >=
    // single-probe's k-th best, and every single-probe score must be
    // matched or beaten at the same rank
    val single = SimilarityQueries.annIvf(spark, Sf).collect().map(_.getDouble(1))
    val multi = SimilarityQueries.annIvfMultiProbe(spark, Sf).collect().map(_.getDouble(1))
    assert(multi.length >= single.length)
    single.zip(multi).foreach { case (s1, m) => assert(m >= s1, s"rank dominated: $m < $s1") }
  }

  test("trained-quantizer ANN probes one learned cell with exact scores") {
    val rows = SimilarityQueries.annKmeans(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val exact = SimilarityQueries.topkCosine(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      // scores agree with the brute-force ranking where ids overlap
      exact.get(r.getLong(0)).foreach(e => assert(e == r.getDouble(1)))
      assert(r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0)
    }
    val cos = rows.map(_.getDouble(1))
    assert(cos.sorted.reverse.sameElements(cos), "not sorted desc")
  }

  test("exact dedup groups partition the corpus") {
    val total = Tables.documents(spark, Sf).count()
    val grouped = DedupQueries.exact(spark, Sf)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).collect().head.getLong(0)
    assert(grouped == total)
  }

  test("lsh pairs are a subset of the exact threshold pairs with identical scores") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val exact = SimilarityQueries.pairsThreshold(spark, Sf).collect().map(key).toSet
    val lsh = SimilarityQueries.pairsLsh(spark, Sf).collect().map(key).toSet
    // the lossy path may MISS pairs (recall < 1 by contract) but must
    // never invent one, and a surfaced pair carries the exact cosine
    assert(lsh.subsetOf(exact), s"lsh-only pairs: ${lsh -- exact}")
    assert(lsh.nonEmpty)
    CacheLife.release(spark)
  }

  test("chunks tile each document: stride-spaced starts, full token coverage") {
    import org.apache.spark.sql.functions._
    val C = TextQueries.ChunkSize
    val S = TextQueries.ChunkStride
    val perDoc = TextQueries.chunk(spark, Sf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("n_chunk_tokens").as("sum_tok"),
        max("n_chunk_tokens").as("max_tok"))
      .join(TextQueries.stats(spark, Sf).select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      val (nChunks, sumTok, maxTok, n) =
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4).toLong)
      assert(nChunks == (n + S - 1) / S, s"doc ${r.getLong(0)}: $nChunks chunks for $n tokens")
      assert(maxTok <= C)
      // each of the n tokens appears once per window covering it: full
      // windows hold C tokens; the trailing windows shrink — total =
      // n + (overlap C-S) per non-final chunk, capped by the tail
      val expected = (0L until nChunks).map(i => math.min(C.toLong, n - i * S)).sum
      assert(sumTok == expected, s"doc ${r.getLong(0)}: coverage $sumTok != $expected")
    }
  }

  test("repetition fractions are consistent with token counts") {
    import org.apache.spark.sql.functions._
    val rep = TextQueries.repetition(spark, Sf)
      .join(TextQueries.stats(spark, Sf).select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      .collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val (nb, nd) = (r.getLong(1), r.getLong(2))
      val (top, dup) = (r.getDouble(3), r.getDouble(4))
      assert(nb == r.getInt(5) - 1L, "bigram count must be n_tokens - 1")
      assert(nd >= 1 && nd <= nb)
      assert(top > 0 && top <= 1.0 + 1e-9)
      assert(dup >= 0 && dup < 1.0)
      // a doc where every bigram is distinct has zero duplication
      if (nd == nb) assert(dup == 0.0)
    }
  }

  test("salted aggregation is bit-equal to the direct aggregation") {
    import org.apache.spark.sql.functions._
    val salted = RelationalQueries.saltedAgg(spark, Sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val direct = Tables.lineitem(spark, Sf)
      .groupBy("l_returnflag")
      .agg(Exact.dsum(col("l_quantity")).as("s"), count("*").as("c"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == direct)
  }

  test("ngram overlap rows are eval-side docs with bounded ratios") {
    val rows = DedupQueries.ngramOverlap(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (doc, n, ov, ratio) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      // the eval side of the same deterministic split contamination uses
      assert(doc % 1 == 0 && n >= 1 && ov >= 0 && ov <= n)
      assert(math.abs(ratio - ov.toDouble / n) < 1e-6)
    }
    CacheLife.release(spark)
  }

  test("dsir manifest is exactly manifest ∩ selection, carrying the selection weight") {
    val man = TextQueries.exportManifest(spark, Sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getAs[Number](3).intValue()))).toMap
    val sel = TextQueries.dsirSelect(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("llr_sum").longValue()).toMap
    val comp = TextQueries.dsirManifest(spark, Sf).collect()
    assert(comp.nonEmpty, "the selected-export composition must keep rows at sf0.001")
    assert(comp.map(_.getLong(0)).toSet === man.keySet.intersect(sel.keySet),
      "composition rows must be exactly the manifest ∩ selection doc set")
    comp.foreach { r =>
      val id = r.getLong(0)
      assert((r.getString(1), r.getString(2), r.getAs[Number](3).intValue()) === man(id),
        s"doc $id manifest columns drifted through the composition")
      assert(r.getAs[Number]("llr_sum").longValue() === sel(id),
        s"doc $id selection weight drifted through the composition")
    }
    CacheLife.release(spark)
  }

  test("bucket-blocked kNN: k-bounded exact-scored lists; recall row consistent with the edge sets") {
    val approx = SimilarityQueries.knnAnn(spark, Sf).collect()
    assert(approx.nonEmpty)
    approx.groupBy(_.getLong(0)).foreach { case (src, rows) =>
      assert(rows.length <= SimilarityQueries.KnnK, s"src $src over k")
      assert(rows.forall(_.getLong(1) != src), s"src $src has a self edge")
      // ranks are dense from 1 — the probe's window really cut top-k
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
    // the source sample is an EXACT restriction of the corpus-wide
    // result (the probe is per-source independent) — the property that
    // makes it a valid scale-decade oracle stand-in. Expected sources
    // are recomputed in-process from the same md5-bucket rule.
    def bucketOf(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 10)
      java.lang.Long.parseLong(hex, 16) % SimilarityQueries.KnnSampleBuckets
    }
    val expectedSrcs = approx.map(_.getLong(0)).toSet.filter(bucketOf(_) == 0)
    val sample = SimilarityQueries.knnAnnSample(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val fullRestricted = approx
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .filter(t => expectedSrcs.contains(t._1)).toSet
    assert(sample.nonEmpty && sample === fullRestricted,
      "knn sample must be exactly the corpus-wide result restricted to the bucket-0 sources")
    // the recall row reports exactly the edge-set intersection
    val exact = SimilarityQueries.knnJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = approx.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    val rr = SimilarityQueries.knnAnnRecall(spark, Sf).collect().head
    assert(rr.getLong(0) == hits && rr.getLong(1) == exact.size)
    assert(rr.getDouble(2) > 0 && rr.getDouble(2) <= 1.0)
    CacheLife.release(spark)
  }

  test("PQ kNN: k-bounded rerank lists; sample is an exact restriction; recall row consistent") {
    val approx = SimilarityQueries.knnAnnPq(spark, Sf).collect()
    assert(approx.nonEmpty)
    approx.groupBy(_.getLong(0)).foreach { case (src, rows) =>
      assert(rows.length <= SimilarityQueries.KnnK, s"src $src over k")
      assert(rows.forall(_.getLong(1) != src), s"src $src has a self edge")
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
    // same restriction property as knnAnnSample: the probe, shortlist,
    // and rerank are all per-source independent
    def bucketOf(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 10)
      java.lang.Long.parseLong(hex, 16) % SimilarityQueries.KnnSampleBuckets
    }
    val expectedSrcs = approx.map(_.getLong(0)).toSet.filter(bucketOf(_) == 0)
    val sample = SimilarityQueries.knnAnnPqSample(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val fullRestricted = approx
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .filter(t => expectedSrcs.contains(t._1)).toSet
    assert(sample.nonEmpty && sample === fullRestricted,
      "PQ knn sample must be exactly the corpus-wide result restricted to the bucket-0 sources")
    val exact = SimilarityQueries.knnJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = approx.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    val rr = SimilarityQueries.knnAnnPqRecall(spark, Sf).collect().head
    assert(rr.getLong(0) == hits && rr.getLong(1) == exact.size)
    assert(rr.getDouble(2) > 0 && rr.getDouble(2) <= 1.0)
    CacheLife.release(spark)
  }

  test("residual (IVFADC) kNN: k-bounded rerank lists; recall row consistent with the graph") {
    val approx = SimilarityQueries.knnAnnPqRes(spark, Sf).collect()
    assert(approx.nonEmpty)
    approx.groupBy(_.getLong(0)).foreach { case (src, rows) =>
      assert(rows.length <= SimilarityQueries.KnnK, s"src $src over k")
      assert(rows.forall(_.getLong(1) != src), s"src $src has a self edge")
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
    val exact = SimilarityQueries.knnJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = approx.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    val rr = SimilarityQueries.knnAnnPqResRecall(spark, Sf).collect().head
    assert(rr.getLong(0) == hits && rr.getLong(1) == exact.size)
    assert(rr.getDouble(2) > 0 && rr.getDouble(2) <= 1.0)
    CacheLife.release(spark)
  }

  test("PQ lever tradeoff: base row matches the recall row; deeper rerank never loses recall") {
    val rows = SimilarityQueries.knnAnnPqTradeoff(spark, Sf).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rows.keySet == Set("base", "shortlist2x", "codebook2x"))
    // the base variant IS sim_knn_ann_pq — its recall must equal the
    // standalone recall row's
    val rr = SimilarityQueries.knnAnnPqRecall(spark, Sf).collect().head
    assert(rows("base") == rr.getDouble(2))
    // a deeper rerank re-scores a SUPERSET of candidates with the exact
    // metric, so its top-k can only gain true edges
    assert(rows("shortlist2x") >= rows("base"),
      s"shortlist2x ${rows("shortlist2x")} < base ${rows("base")}")
    CacheLife.release(spark)
  }

  test("sim.ncells knob: a knobbed session trains its own model and refuses a degenerate K") {
    intercept[IllegalArgumentException] {
      spark.conf.set(SimilarityQueries.NCellsKey, "1")
      try SimilarityQueries.nCellsOf(spark)
      finally spark.conf.unset(SimilarityQueries.NCellsKey)
    }
    // cells under a non-default K: every assignment lands in 1..K, all
    // K' cache keys are distinct from the default's (no reuse)
    spark.conf.set(SimilarityQueries.NCellsKey, "5")
    try {
      val cells = SimilarityQueries.ivfCells(spark, Sf).collect()
      assert(cells.map(_.getLong(0)).forall(c => c >= 1 && c <= 5),
        "a K=5 session must assign into cells 1..5 only")
      val hist = SimilarityQueries.kmeansHistogram(spark, Sf).collect()
      assert(hist.map(_.getLong(0)).forall(c => c >= 1 && c <= 5),
        "a K=5 trained model must hold cells 1..5 only")
    } finally {
      spark.conf.unset(SimilarityQueries.NCellsKey)
      CacheLife.release(spark)
    }
    // back at the default, the same queries see the default-K world
    val cellsD = SimilarityQueries.ivfCells(spark, Sf).collect()
    assert(cellsD.map(_.getLong(0)).max > 5 ||
      cellsD.map(_.getLong(0)).distinct.length > 5 ||
      cellsD.map(_.getLong(0)).forall(c => c >= 1 && c <= SimilarityQueries.NCells))
    CacheLife.release(spark)
  }

  test("sim.ncells=auto derives K from the corpus and pins the resolved value") {
    withConf(SimilarityQueries.NCellsKey -> SimilarityQueries.AutoNCells) {
      // unresolved auto refuses a dir-less read LOUDLY — cache keys and
      // oracle strings must never embed the literal "auto"
      intercept[IllegalArgumentException] { SimilarityQueries.nCellsOf(spark) }
      val n = Tables.embeddings(spark, Sf).count()
      val k = SimilarityQueries.nCellsOf(spark, Sf)
      assert(k == math.max(SimilarityQueries.NCells,
        math.ceil(math.sqrt(2.0 * n)).toInt),
        s"auto must resolve the balanced optimum ceil(sqrt(2n)): got $k for n=$n")
      // pinned: the conf now holds the concrete int, so every later
      // read (incl. the oracle generator's activeNCells) sees one value
      assert(spark.conf.get(SimilarityQueries.NCellsKey) == k.toString)
      assert(SimilarityQueries.nCellsOf(spark) == k)
    }
    CacheLife.release(spark)
  }

  test("sim.knnsamplebucket knob: the 20 bucket samples PARTITION the full kNN") {
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.KnnSampleBucketKey ->
        SimilarityQueries.KnnSampleBuckets.toString) {
        SimilarityQueries.knnSampleBucketOf(spark)
      }
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val full = SimilarityQueries.knnAnn(spark, Sf).collect().map(key).toSet
    // each bucket's sample is the exact per-source restriction of the
    // full result, the buckets are source-disjoint, and their union is
    // the WHOLE graph — the property that lets the 100× full-corpus
    // oracle run as 20 DuckDB-feasible chunks (checked here on 3
    // buckets + the union law on all 20 source sets)
    val seen = scala.collection.mutable.Set.empty[(Long, Long, Double, Int)]
    for (b <- Seq(0, 7, 19)) {
      val s = withConf(SimilarityQueries.KnnSampleBucketKey -> b.toString) {
        SimilarityQueries.knnAnnSample(spark, Sf).collect().map(key).toSet
      }
      val srcs = s.map(_._1)
      assert(s == full.filter(e => srcs.contains(e._1)),
        s"bucket $b sample must be an exact source restriction")
      assert(s.intersect(seen.toSet).isEmpty, s"bucket $b overlaps another bucket")
      seen ++= s
    }
    val allSrcs = (0 until SimilarityQueries.KnnSampleBuckets).flatMap { b =>
      withConf(SimilarityQueries.KnnSampleBucketKey -> b.toString) {
        SimilarityQueries.knnAnnSample(spark, Sf).select("src")
          .distinct().collect().map(_.getLong(0))
      }
    }
    assert(allSrcs.distinct.length == allSrcs.length, "buckets must be disjoint")
    assert(allSrcs.toSet == full.map(_._1),
      "the 20 buckets must cover every source in the full kNN")
    CacheLife.release(spark)
  }

  test("sim.knnbucket knob: bucket restrictions PARTITION the trained-model kNN rows") {
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.KnnBucketKey ->
        SimilarityQueries.KnnSampleBuckets.toString) {
        SimilarityQueries.knnBucketOf(spark)
      }
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    // the laws that let the 100× STREAM-DRAIN oracle rows run as 20
    // DuckDB-feasible chunks (round-16 verdict #2): each bucket is the
    // exact per-source restriction of the full row, buckets are
    // source-disjoint, and the 20 source sets cover the full row's —
    // checked for BOTH chunked families (kmeans + hier; 3 buckets for
    // restriction/disjointness, all 20 for the cover law)
    for (fn <- Seq(SimilarityQueries.knnAnnKmeans _,
                   SimilarityQueries.knnAnnHier _)) {
      val full = fn(spark, Sf).collect().map(key).toSet
      val seen = scala.collection.mutable.Set.empty[(Long, Long, Double, Int)]
      for (b <- Seq(0, 7, 19)) {
        val s = withConf(SimilarityQueries.KnnBucketKey -> b.toString) {
          fn(spark, Sf).collect().map(key).toSet
        }
        val srcs = s.map(_._1)
        assert(s == full.filter(e => srcs.contains(e._1)),
          s"bucket $b must be an exact source restriction")
        assert(s.intersect(seen.toSet).isEmpty, s"bucket $b overlaps another bucket")
        seen ++= s
      }
      val allSrcs = (0 until SimilarityQueries.KnnSampleBuckets).flatMap { b =>
        withConf(SimilarityQueries.KnnBucketKey -> b.toString) {
          fn(spark, Sf).select("src").distinct().collect().map(_.getLong(0))
        }
      }
      assert(allSrcs.distinct.length == allSrcs.length, "buckets must be disjoint")
      assert(allSrcs.toSet == full.map(_._1),
        "the 20 buckets must cover every source in the full kNN")
    }
    // the b:w RANGE form (the chunk-width lever that amortizes the
    // oracle's bucket-independent Lloyd chain): 4 disjoint width-5
    // chunks union to EXACTLY the full row
    val fullK = SimilarityQueries.knnAnnKmeans(spark, Sf).collect().map(key).toSet
    val chunks = Seq(0, 5, 10, 15).map { b =>
      withConf(SimilarityQueries.KnnBucketKey -> s"$b:5") {
        SimilarityQueries.knnAnnKmeans(spark, Sf).collect().map(key).toSet
      }
    }
    assert(chunks.map(_.size).sum == fullK.size, "width-5 chunks must be disjoint")
    assert(chunks.reduce(_ ++ _) == fullK,
      "the 4 width-5 chunks must union to the full kNN")
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.KnnBucketKey -> "16:5") {
        SimilarityQueries.knnBucketOf(spark)
      }
    }
    CacheLife.release(spark)
  }

  test("sim.probe knob: auto resolves the measured crossover and the dispatcher row follows it") {
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.ProbeKey -> "bogus") {
        SimilarityQueries.probeModeOf(spark)
      }
    }
    // unresolved auto refuses loudly (the nCellsOf discipline): reading
    // the mode without a corpus pin would silently default a policy
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.ProbeKey -> SimilarityQueries.AutoProbe) {
        SimilarityQueries.probeModeOf(spark)
      }
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val km = SimilarityQueries.knnAnnKmeans(spark, Sf).collect().map(key).toSet
    // compiled default (flat) is bit-identical to the kmeans row
    assert(SimilarityQueries.knnAnnAuto(spark, Sf).collect().map(key).toSet == km)
    // explicit hier dispatches the two-level row
    withConf(SimilarityQueries.ProbeKey -> "hier") {
      val hier = SimilarityQueries.knnAnnHier(spark, Sf).collect().map(key).toSet
      assert(SimilarityQueries.knnAnnAuto(spark, Sf).collect().map(key).toSet == hier)
    }
    // auto at the spec corpus (n=500, autoK=32): K=8 < 2*autoK resolves
    // FLAT and PINS the conf to the concrete mode (pinAutoNCells
    // discipline — one value for the query, its oracle, and the record)
    withConf(SimilarityQueries.ProbeKey -> SimilarityQueries.AutoProbe) {
      val got = SimilarityQueries.knnAnnAuto(spark, Sf).collect().map(key).toSet
      assert(spark.conf.get(SimilarityQueries.ProbeKey) == "flat",
        "auto at K=8 must pin flat")
      assert(got == km)
    }
    // auto at K >= 2*autoK resolves HIER — the KSWEEP-measured win side
    withConf(SimilarityQueries.NCellsKey -> "64",
             SimilarityQueries.ProbeKey -> SimilarityQueries.AutoProbe) {
      val got = SimilarityQueries.knnAnnAuto(spark, Sf).collect().map(key).toSet
      assert(spark.conf.get(SimilarityQueries.ProbeKey) == "hier",
        "auto at K=64=2*autoK must pin hier")
      val hier = SimilarityQueries.knnAnnHier(spark, Sf).collect().map(key).toSet
      assert(got == hier)
    }
    CacheLife.release(spark)
  }

  test("the kNN oracles follow the live nprobe and knnbucket knobs (strings only, no job)") {
    val flat = Seq("sim_knn_ann", "sim_knn_ann_kmeans", "sim_knn_ann_pq", "sim_knn_ann_pq_res")
    val hier = Seq("sim_knn_ann_hier", "sim_knn_ann_hier_pq", "sim_knn_ann_hier_pq_res")
    def cuts(sql: String) = """rn <= 6\b""".r.findAllMatchIn(sql).size
    val bucket = graft.functions.Buckets.sqlBucket("q.vec_id::VARCHAR",
      SimilarityQueries.KnnSampleBuckets) + " BETWEEN 5 AND 9"
    val jobs = jobsDuring {
      assert((flat ++ hier).forall(n => cuts(SimilarityQueries.oracle(n)) == 0))
      val np6 = withConf(SimilarityQueries.NProbeKey -> "6")(SimilarityQueries.oracle)
      // one probe cut per source; the hier probe cuts supers, then members
      flat.foreach(n => assert(cuts(np6(n)) == 1, s"$n: ${cuts(np6(n))} probe cuts"))
      hier.foreach(n => assert(cuts(np6(n)) == 2, s"$n: ${cuts(np6(n))} probe cuts"))
      val b55 = withConf(SimilarityQueries.KnnBucketKey -> "5:5")(SimilarityQueries.oracle)
      // only the trained raw rows honour the bucket chunks, as knnMemo does
      Seq("sim_knn_ann_kmeans", "sim_knn_ann_hier").foreach(n =>
        assert(b55(n).contains(bucket), s"$n must restrict its sources to buckets 5..9"))
      Seq("sim_knn_ann_pq", "sim_knn_ann_pq_res", "sim_knn_ann_hier_pq",
        "sim_knn_ann_hier_pq_res").foreach(n =>
        assert(!b55(n).contains("BETWEEN 5 AND 9"), s"$n must stay corpus-wide"))
    }
    assert(jobs == 0, s"generating oracle SQL ran $jobs Spark job(s)")
  }

  test("sim.nprobe knob: probing every cell makes the kNN join exact; nprobe=0 refuses") {
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.NProbeKey -> "0") {
        SimilarityQueries.nProbeOf(spark)
      }
    }
    // the exactness law the knob is graded by: at nprobe = ncells the
    // probe set covers every cell, so candidate generation is total and
    // the lossy-by-contract kNN must EQUAL the exact kernel's kNN —
    // same edges, same cosines, same ranks
    val exact = SimilarityQueries.knnJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val full = withConf(
      SimilarityQueries.NProbeKey -> SimilarityQueries.nCellsOf(spark).toString) {
      SimilarityQueries.knnAnn(spark, Sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    }
    assert(full == exact,
      s"full-probe kNN (${full.size} edges) must equal the exact kNN (${exact.size})")
    // and the default (nprobe=3) run is a SUBSET relation only on true
    // edges — recall ≤ 1 by construction, already measured by
    // sim_knn_ann_recall; here we just pin that the knob changes the
    // candidate set (a wider probe can only gain edges)
    CacheLife.release(spark)
  }

  test("probe-width tradeoff: recall is monotone in nprobe and consistent with the sampled exact set") {
    val rows = SimilarityQueries.knnAnnProbeTradeoff(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("np1", s"np${SimilarityQueries.NProbeIvf}",
      s"np${SimilarityQueries.ProbeTradeoffWide}"))
    // one shared denominator: the exact kNN restricted to the sampled sources
    assert(rows.values.map(_._2).toSet.size == 1, "n_exact must be shared")
    // a wider probe proposes a SUPERSET of candidates; a true edge in the
    // candidate set always survives the exact top-k (at most k-1 others
    // beat it globally), so recall can only rise with nprobe
    val r1 = rows("np1")._3
    val r3 = rows(s"np${SimilarityQueries.NProbeIvf}")._3
    val r6 = rows(s"np${SimilarityQueries.ProbeTradeoffWide}")._3
    assert(r1 <= r3 && r3 <= r6, s"recall must be monotone: $r1 / $r3 / $r6")
    assert(r6 > 0 && r6 <= 1.0)
    CacheLife.release(spark)
  }

  test("two-level probe: equals the flat trained-quantizer kNN when the supers cover everything") {
    // at the compiled default K=8, K2=ceil(sqrt(8))=3 = nprobe — the
    // probed supers cover every super, so the hierarchy's member
    // ranking sees ALL K centroids and the output must be bit-equal to
    // the flat probe's (the lossy level only bites once K2 > nprobe)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val hier = SimilarityQueries.knnAnnHier(spark, Sf).collect().map(key).toSet
    val flat = SimilarityQueries.knnAnnKmeans(spark, Sf).collect().map(key).toSet
    assert(hier == flat, s"hier ${hier.size} edges vs flat ${flat.size}")
    // and the recall row is consistent with the shared denominator
    val r = SimilarityQueries.knnAnnHierRecall(spark, Sf).collect().head
    assert(r.getDouble(2) > 0 && r.getDouble(2) <= 1.0)
    // the sample twin is an EXACT source restriction (per-source
    // independence) — the decade-portable oracle idiom
    val sample = SimilarityQueries.knnAnnHierSample(spark, Sf).collect().map(key).toSet
    val sampledSrcs = sample.map(_._1)
    val expected = hier.filter(e => sampledSrcs.contains(e._1))
    assert(sample == expected, s"sample ${sample.size} vs restriction ${expected.size}")
    CacheLife.release(spark)
  }

  test("composed hier+PQ kNN: equals flat PQ when supers cover everything; sample is exact") {
    // the two-level rung of the composition is lossless at the compiled
    // default (K=8, K2=3 = nprobe — every super probed, so the member
    // ranking sees all K cells and the probe set equals the flat PQ
    // form's); the ADC+rerank rungs are shared code, so the composed
    // output must be bit-equal to knnAnnPq. The lossy super level only
    // bites once K2 > nprobe (the recall row prices it there).
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val composed = SimilarityQueries.knnAnnHierPq(spark, Sf).collect().map(key).toSet
    val flatPq = SimilarityQueries.knnAnnPq(spark, Sf).collect().map(key).toSet
    assert(composed == flatPq, s"hier+PQ ${composed.size} edges vs PQ ${flatPq.size}")
    val r = SimilarityQueries.knnAnnHierPqRecall(spark, Sf).collect().head
    assert(r.getDouble(2) > 0 && r.getDouble(2) <= 1.0)
    // sample twin is an exact source restriction (per-source
    // independence — the decade-portable oracle idiom)
    val sample = SimilarityQueries.knnAnnHierPqSample(spark, Sf).collect().map(key).toSet
    val sampledSrcs = sample.map(_._1)
    val expected = composed.filter(e => sampledSrcs.contains(e._1))
    assert(sample == expected, s"sample ${sample.size} vs restriction ${expected.size}")
    CacheLife.release(spark)
  }

  test("composed hier+residual-PQ kNN: equals flat residual PQ when supers cover everything") {
    // same lossless-composition law as the raw-codebook twin: at the
    // compiled default (K=8, K2=3 = nprobe) every super is probed, so
    // the two-level probe set equals the flat form's, and the residual
    // ADC + rerank rungs are shared code paths — the composed output
    // must be bit-equal to knnAnnPqRes. The recall row prices the
    // composition where the super level actually prunes.
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val composed = SimilarityQueries.knnAnnHierPqRes(spark, Sf).collect().map(key).toSet
    val flatRes = SimilarityQueries.knnAnnPqRes(spark, Sf).collect().map(key).toSet
    assert(composed == flatRes, s"hier+PQres ${composed.size} edges vs PQres ${flatRes.size}")
    val r = SimilarityQueries.knnAnnHierPqResRecall(spark, Sf).collect().head
    assert(r.getDouble(2) > 0 && r.getDouble(2) <= 1.0)
    CacheLife.release(spark)
  }

  test("sim.trainbuckets knob: bounded trainer still assigns the whole corpus; keys isolate") {
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.TrainBucketsKey -> "0") {
        SimilarityQueries.trainBucketsOf(spark)
      }
    }
    val n = Tables.embeddings(spark, Sf).count()
    val defaultHist = SimilarityQueries.kmeansHistogram(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val knobHist = withConf(SimilarityQueries.TrainBucketsKey -> "2") {
      SimilarityQueries.kmeansHistogram(spark, Sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    // the TRAINER samples; the ASSIGNMENT never does — every vector
    // lands in a cell under the bounded model too
    assert(knobHist.map(_._2).sum == n,
      "bounded-trainer assignment must still cover the whole corpus")
    assert(knobHist.map(_._1).forall(c => c >= 1 && c <= SimilarityQueries.NCells))
    // cache isolation: the knobbed session trained its OWN model (keys
    // embed tb) — back at the default the original histogram reappears
    // bit-for-bit instead of a sampled-model leftover
    val back = SimilarityQueries.kmeansHistogram(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(back == defaultHist, "default-session model must be untouched by a tb session")
    CacheLife.release(spark)
  }

  test("sim.assign knob: two-level assignment covers the corpus; refuses junk; keys isolate") {
    intercept[IllegalArgumentException] {
      withConf(SimilarityQueries.AssignKey -> "both") {
        SimilarityQueries.assignModeOf(spark)
      }
    }
    val n = Tables.embeddings(spark, Sf).count()
    val flatHist = SimilarityQueries.kmeansHistogram(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val hierHist = withConf(SimilarityQueries.AssignKey -> "hier") {
      SimilarityQueries.kmeansHistogram(spark, Sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    // two-level assignment is a TOTAL function into the same cell set —
    // every vector lands exactly once, cells stay 1..K
    assert(hierHist.map(_._2).sum == n)
    assert(hierHist.map(_._1).forall(c => c >= 1 && c <= SimilarityQueries.NCells))
    // back at the default, the flat assignment reappears bit-for-bit
    val back = SimilarityQueries.kmeansHistogram(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(back == flatHist, "flat assignment must be untouched by a hier session")
    // totality at KNOBBED Ks where trained cells can die (round-15
    // advice: a super that ends the final membership memberless used to
    // null-cell every vector whose top-1 super it was — silently
    // dropping them from the histogram sum; and K2 used to derive from
    // the SURVIVING count, diverging from the oracle's configured-K)
    for (k <- Seq("13", "29")) {
      val h = withConf(SimilarityQueries.AssignKey -> "hier",
        SimilarityQueries.NCellsKey -> k) {
        SimilarityQueries.kmeansHistogram(spark, Sf).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(h.map(_._2).sum == n,
        s"hier assignment at K=$k must cover the whole corpus (no NULL cells)")
      assert(h.map(_._1).forall(c => c >= 1 && c <= k.toInt))
      CacheLife.release(spark)
    }
    CacheLife.release(spark)
  }

  test("sim.assign=auto escalates to hier at HierAssignMinK and not below") {
    // auto is flat at the compiled default K (bit-identical world) ...
    val flatHist = SimilarityQueries.kmeansHistogram(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val autoHist = withConf(SimilarityQueries.AssignKey -> "auto") {
      assert(SimilarityQueries.assignModeOf(spark) == "flat")
      SimilarityQueries.kmeansHistogram(spark, Sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(autoHist == flatHist, "auto below the threshold must BE flat")
    // ... and resolves to hier at/above the measured threshold
    withConf(SimilarityQueries.AssignKey -> "auto",
      SimilarityQueries.NCellsKey -> SimilarityQueries.HierAssignMinK.toString) {
      assert(SimilarityQueries.assignModeOf(spark) == "hier")
    }
    CacheLife.release(spark)
  }

  test("sim.assign reads the resolved K only under auto") {
    withConf(SimilarityQueries.NCellsKey -> SimilarityQueries.AutoNCells) {
      withConf(SimilarityQueries.AssignKey -> "flat") {
        assert(SimilarityQueries.assignModeOf(spark) == "flat")
      }
      // the default mode is auto, which needs the pinned K
      intercept[IllegalArgumentException](SimilarityQueries.assignModeOf(spark))
    }
  }

  test("sign-band geometry: auto thresholds, wider-rows monotonicity, knobbed subset") {
    // rows(n) resolution boundaries: occupancy n/2^rows ≤ 64
    assert(SimilarityQueries.signRowsFor(64L << 8) === 8)
    assert(SimilarityQueries.signRowsFor((64L << 8) + 1) === 16)
    assert(SimilarityQueries.signRowsFor(64L << 16) === 16)
    assert(SimilarityQueries.signRowsFor((64L << 16) + 1) === 32)
    // auto pins the resolved int at this corpus size (n=500 → 8)
    spark.conf.set(SimilarityQueries.SignRowsKey, SimilarityQueries.AutoSignRows)
    SimilarityQueries.pinSignRows(spark, Sf)
    assert(spark.conf.get(SimilarityQueries.SignRowsKey) === "8")
    spark.conf.unset(SimilarityQueries.SignRowsKey)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val exact = SimilarityQueries.pairsThreshold(spark, Sf).collect().map(key).toSet
    val lsh8 = SimilarityQueries.pairsLsh(spark, Sf).collect().map(key).toSet
    spark.conf.set(SimilarityQueries.SignRowsKey, "16")
    try {
      val lsh16 = SimilarityQueries.pairsLsh(spark, Sf).collect().map(key).toSet
      // a 16-row band match means BOTH its 8-row halves match, so wider
      // rows can only LOSE candidates — never invent one: lsh16 ⊆ lsh8
      // ⊆ exact, with identical exact-cosine scores throughout
      assert(lsh16.subsetOf(lsh8), s"16-row-only pairs: ${lsh16 -- lsh8}")
      assert(lsh8.subsetOf(exact))
    } finally {
      spark.conf.unset(SimilarityQueries.SignRowsKey)
      CacheLife.release(spark)
    }
  }

  test("pair recall consistent with the two pair sets") {
    val nExact = SimilarityQueries.pairsThreshold(spark, Sf).count()
    val nLsh = SimilarityQueries.pairsLsh(spark, Sf).count()
    val r = SimilarityQueries.pairsRecall(spark, Sf).collect().head
    assert(r.getLong(0) == nLsh && r.getLong(1) == nExact)
    assert(r.getDouble(2) > 0 && r.getDouble(2) <= 1.0)
    CacheLife.release(spark)
  }

  test("label centroids cover every (label, dim) cell with per-label counts") {
    val rows = SimilarityQueries.labelCentroids(spark, Sf).collect()
    val byLabel = rows.groupBy(_.getInt(0))
    val dim = rows.map(_.getInt(1)).max + 1
    byLabel.foreach { case (label, cells) =>
      assert(cells.length == dim, s"label $label has ${cells.length} dims")
      // one vector count per label, constant across dims
      assert(cells.map(_.getLong(2)).distinct.length == 1, s"label $label counts vary")
    }
    val total = Tables.embeddings(spark, Sf).count()
    assert(byLabel.map { case (_, cells) => cells.head.getLong(2) }.sum == total)
  }

  test("PQ code histogram covers every vector in every subspace with in-range codes") {
    val rows = SimilarityQueries.pqCellHistogram(spark, Sf).collect()
    val n = Tables.embeddings(spark, Sf).count()
    val bySub = rows.groupBy(_.getInt(0))
    assert(bySub.keySet == (0 until SimilarityQueries.PqM).toSet)
    bySub.foreach { case (sub, cells) =>
      assert(cells.map(_.getLong(2)).sum == n, s"subspace $sub does not cover the corpus")
      cells.foreach(c => assert(c.getLong(1) >= 1 && c.getLong(1) <= SimilarityQueries.PqK))
    }
    CacheLife.release(spark)
  }

  test("PQ ADC returns k ascending non-negative distances excluding the query") {
    val rows = SimilarityQueries.annPq(spark, Sf).collect()
    assert(rows.length == 10)
    val dists = rows.map(_.getLong(1))
    assert(dists.forall(_ >= 0L))
    assert(dists.sameElements(dists.sorted), "ADC results not ascending")
    assert(!rows.map(_.getLong(0)).contains(SimilarityQueries.QueryVecId))
    CacheLife.release(spark)
  }

  test("IVF-PQ distances agree with the flat ADC scan on shared hits") {
    val flat = SimilarityQueries.annPq(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pruned = SimilarityQueries.annIvfPq(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // pruning restricts the candidate set; it must never change a
    // vector's ADC distance
    pruned.foreach { case (id, d) =>
      flat.get(id).foreach(fd => assert(fd == d, s"ADC distance drifted for vec $id"))
    }
    val ds = pruned.map(_._2)
    assert(ds.sameElements(ds.sorted), "pruned ADC results not ascending")
    CacheLife.release(spark)
  }

  test("export manifest rows are exactly the survivors, each with a valid split and phase") {
    val manifest = TextQueries.exportManifest(spark, Sf).collect()
    val survivors = DedupQueries.survivors(spark, Sf).collect()
      .map(_.getLong(0)).toSet
    assert(manifest.map(_.getLong(0)).toSet === survivors,
      "the manifest must export every survivor exactly once, and nothing else")
    assert(manifest.length === survivors.size)
    manifest.foreach { r =>
      assert(Set("unique", "representative")(r.getString(1)), r.toString)
      assert(Set("train", "val", "test")(r.getString(2)), r.toString)
      assert(r.getInt(3) >= 0 && r.getInt(3) <= 3, r.toString)
    }
    CacheLife.release(spark)
  }

  test("fixed-point log2 tracks the real log within quantization error") {
    import spark.implicits._
    val xs = Seq(1L, 2L, 3L, 7L, 100L, 1023L, 1024L, 123456789L,
      (1L << 40) - 1, (1L << 52) + 12345L, Long.MaxValue / 3)
    val rows = TextQueries.log2FixedCol(xs.toDF("x"), "x", "l").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (x, l) =>
      val want = math.log(x.toDouble) / math.log(2.0)
      val got = l.toDouble / (1L << TextQueries.DsirFracBits)
      // repeated squaring truncates downward: got <= log2(x), within
      // the 2^-F quantum plus accumulated truncation
      assert(got <= want + 1e-9 && want - got < 0.01,
        s"log2fp($x) = $got, real ${"%.6f".format(want)}")
    }
  }

  test("DSIR weights: target-source docs score measurably above the rest; deterministic") {
    val src = Tables.documents(spark, Sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = TextQueries.dsirWeights(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall(_._2 > 0))
    val (t, rest) = rows.partition(r => src(r._1) == TextQueries.DsirTargetDefault)
    assert(t.nonEmpty && rest.nonEmpty)
    def meanPerTok(g: Array[(Long, Long, Long)]) =
      g.map(r => r._3.toDouble / r._2).sum / g.length
    assert(meanPerTok(t) > meanPerTok(rest),
      s"selection pressure inverted: target ${meanPerTok(t)} vs rest ${meanPerTok(rest)}")
    val again = TextQueries.dsirWeights(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
  }

  test("DSIR selection keeps exactly the per-shard weight-ranked top 20%") {
    val sel = TextQueries.dsirSelect(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wts = TextQueries.dsirWeights(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def shardOf(id: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(10),
      16) % TextQueries.DsirSelectShards
    // reference cut: per shard, sort by (weight desc, id) and keep rk
    // while (rk-1)*1000 < n*keep — the same pure-integer predicate
    val want = wts.keys.groupBy(shardOf).flatMap { case (_, ids) =>
      val n = ids.size
      ids.toSeq.sortBy(id => (-wts(id), id))
        .zipWithIndex
        .takeWhile { case (_, i) => i.toLong * 1000 < n.toLong * TextQueries.DsirKeepPerMille }
        .map(_._1)
    }.toSet
    assert(sel.map(_._1).toSet === want, "selection drifted from the reference cut")
    sel.foreach { case (id, sh, w) =>
      assert(sh === shardOf(id) && w === wts(id)) }
    // roughly a fifth survives (per-shard ceil rounding adds a little)
    assert(sel.length >= wts.size / 5 && sel.length <= wts.size / 5 + TextQueries.DsirSelectShards)
    CacheLife.release(spark)
  }

  test("DSIR target and shuffle seed are conf knobs: non-default values re-weight and re-deal deterministically") {
    // round-11 verdict #4: both were compile-time constants. Under a
    // NON-default conf the registered queries must change output (a
    // different target feed re-weights; a different epoch re-deals),
    // deterministically (two runs identical), and the ORACLE SQL must
    // embed the same resolved values the Spark side used.
    def dsir() = TextQueries.dsirWeights(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    def shuffle() = TextQueries.globalShuffle(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val dsirDefault = dsir()
    val shufDefault = shuffle()
    try {
      spark.conf.set(TextQueries.DsirTargetKey, "src1")
      spark.conf.set(TextQueries.ShuffleSeedKey, "ep2")
      val dsir2 = dsir()
      val shuf2 = shuffle()
      assert(dsir2 !== dsirDefault, "a different target feed must re-weight")
      assert(dsir2 === dsir(), "second-target weights must be deterministic")
      // n_feats is target-independent (the feature stream is the whole
      // corpus); only the weights move
      assert(dsir2.map(r => (r._1, r._2)) === dsirDefault.map(r => (r._1, r._2)))
      assert(shuf2 !== shufDefault, "a new epoch seed must re-deal the order")
      assert(shuf2 === shuffle(), "the re-deal must be deterministic")
      assert(shuf2.map(_._1).toSet === shufDefault.map(_._1).toSet,
        "membership is epoch-independent: same train survivors, new order")
      // oracle strings regenerate from the live conf
      assert(TextQueries.oracle("text_dsir_weights").contains("'src1'"))
      assert(TextQueries.oracle("text_global_shuffle").contains("'ep2'"))
    } finally {
      spark.conf.unset(TextQueries.DsirTargetKey)
      spark.conf.unset(TextQueries.ShuffleSeedKey)
    }
    assert(TextQueries.oracle("text_dsir_weights").contains(
      s"'${TextQueries.DsirTargetDefault}'"))
    assert(dsir() === dsirDefault, "unsetting the knob must restore the default weights")
    CacheLife.release(spark)
  }

  test("global shuffle: dense per-shard order over exactly the train survivors, scrambled") {
    val rows = TextQueries.globalShuffle(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // membership: exactly the train side (md5 bucket < 80) of the survivors
    val want = DedupQueries.survivors(spark, Sf).collect().map(_.getLong(0))
      .filter(id => java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(10), 16) % 100 < 80)
      .toSet
    assert(rows.map(_._1).toSet == want)
    // each shard's ords are dense 1..n (a materializer can write shard
    // files by ord with no gaps), and shards partition the doc set
    rows.groupBy(_._2).foreach { case (shard, sr) =>
      assert(shard >= 0 && shard < TextQueries.ShuffleShards)
      assert(sr.map(_._3).sorted.toSeq == (1 to sr.length).toSeq, s"shard $shard ords not dense")
    }
    // the order must be UNCORRELATED with doc_id order: within some
    // shard, consecutive ords must invert doc_id at least once
    val inverted = rows.groupBy(_._2).values.exists { sr =>
      sr.sortBy(_._3).sliding(2).exists { case Array(a, b) => b._1 < a._1; case _ => false }
    }
    assert(inverted, "hash order degenerated to doc_id order")
    // determinism: a second run is byte-identical
    val again = TextQueries.globalShuffle(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    CacheLife.release(spark)
  }

  test("filtered ANN: only FilterLabel vectors, ranked, deterministic") {
    val rows = SimilarityQueries.annFiltered(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length === 10,
      "five probed cells at ~10% selectivity must still fill the shortlist")
    val labels = Tables.embeddings(spark, Sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { case (id, _) =>
      assert(labels(id) === SimilarityQueries.FilterLabel,
        s"vec $id leaked through the metadata pre-filter") }
    assert(rows.sortBy(r => (-r._2, r._1)).toSeq === rows.toSeq,
      "results must rank by (cos desc, vec_id)")
    val again = SimilarityQueries.annFiltered(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(again.toSeq === rows.toSeq)
    CacheLife.release(spark)
  }

  test("semantic dedup keeps each cell's min id and drops only documented vectors") {
    val rows = SimilarityQueries.semanticDedup(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val n = Tables.embeddings(spark, Sf).count()
    assert(rows.length == n, "every vector must carry a verdict")
    // a cell's smallest id has no lower-id neighbor, so it is always kept
    rows.groupBy(_._2).foreach { case (cell, vs) =>
      val minId = vs.map(_._1).min
      assert(vs.find(_._1 == minId).get._3, s"cell $cell dropped its min id")
    }
    CacheLife.release(spark)
  }

  test("source matrix pair counts sum to the candidate-pair count") {
    val nPairs = DedupQueries.minhashPairs(spark, Sf).count()
    val m = DedupQueries.sourceMatrix(spark, Sf).collect()
    assert(m.map(_.getLong(2)).sum == nPairs)
    m.foreach(r => assert(r.getString(0) <= r.getString(1), "matrix cells must be source-sorted"))
    CacheLife.release(spark)
  }

  test("zipf histogram partitions the vocabulary and totals the corpus tokens") {
    val rows = TextQueries.zipfHistogram(spark, Sf).collect()
    val vocab = TextQueries.queries("text_token_freq")(spark, Sf).count() // ≤100 cut
    val hist = rows.map(_.getLong(1)).sum
    // histogram counts EVERY distinct token (no top-100 cut), so it is ≥ the cut
    assert(hist >= vocab, s"histogram vocab $hist < top-k vocab $vocab")
    rows.foreach { r =>
      // bucket b holds counts in [2^b, 2^(b+1))
      assert(r.getInt(0) >= 0 && r.getLong(2) >= r.getLong(1) * (1L << r.getInt(0)))
    }
    CacheLife.release(spark)
  }

  test("pack stats and split report partition the corpus exactly") {
    val n = Tables.documents(spark, Sf).count()
    assert(TextQueries.packStats(spark, Sf).collect().map(_.getLong(2)).sum == n)
    assert(TextQueries.splitReport(spark, Sf).collect().map(_.getLong(2)).sum == n)
  }

  test("token estimate: BPE-ish pieces never undercount whitespace words") {
    // every whitespace word is at least one piece (digits/punct inside a
    // word split it further), so fertility >= 1 for any corpus
    val rows = TextQueries.tokenEstimate(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), s"doc ${r.getLong(0)} pieces < words")
      if (r.getLong(1) > 0) assert(r.getDouble(3) >= 1.0)
    }
  }

  test("curriculum phases partition the corpus monotonically in quality") {
    val rows = TextQueries.curriculum(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(rows.length == Tables.documents(spark, Sf).count())
    assert(rows.forall(r => r._3 >= 0 && r._3 <= 3))
    // sorted by quality, phase must never decrease (quartile thresholds)
    val byQ = rows.sortBy(_._2).map(_._3)
    assert(byQ.zip(byQ.tail).forall { case (a, b) => a <= b }, "phase not monotone in quality")
    // every quartile threshold is reachable: the top quarter is phase 3
    assert(byQ.last == 3 && byQ.head == 0)
  }

  test("source scorecard covers the corpus with bounded ratios") {
    val rows = TextQueries.sourceScorecard(spark, Sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0, "quality out of range")
      assert(r.getDouble(3) > 0.0, "mean tokens must be positive")
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0, "pct_en out of range")
    }
  }

  test("audio features: container-decoded fields match the catalog arithmetic") {
    val rows = MultimodalQueries.audioFeatures(spark, Sf).collect()
    // one row per audio doc (id % 3 == 1)
    val nAudio = Tables.documents(spark, Sf)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(3L)) === 1L).count()
    assert(rows.length.toLong == nAudio)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 16000, "sample_rate must come from the fmt chunk")
      assert(r.getInt(2) == 256 + (id % 64).toInt,
        "n_samples must equal the data chunk's sample count")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 255.0)
    }
  }
}
