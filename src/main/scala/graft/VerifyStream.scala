package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.{DedupLayout, SubstrLayout, TextLayout, VectorLayout}

/** Stream-path correctness dump (round-11 verdict #5): the four ingest
  * streams are spec-checked for batch parity, but no CORRECTNESS row
  * ever read a STREAM-BUILT store — the DuckDB hash gate only ever saw
  * from-scratch session builds. This main drains the corpus through
  * [[StreamDrain]] (80% bases, held-out 20% as micro-batches through
  * all four ingest streams, scheduled maintenance, Doctor fsck gate),
  * then dumps the STORE-BACKED spelling of registered queries — each
  * held ≡ its registered twin by DedupLayoutSpec / TextLayoutSpec /
  * SubstrLayoutSpec / VectorStreamSpec — under the registered names
  * with the registered oracle subset, so `tools/check_oracle.py`
  * hash-compares the streamed path end-to-end
  * (`CORRECTNESS_STREAM.json`).
  *
  * The oracles run over the raw corpus tables: a green row therefore
  * proves base-materialize + N streamed appends + compaction/label
  * maintenance reconstructed EXACTLY the state a single batch
  * derivation reaches — the strongest equivalence the engine claims
  * about its incremental stores, now checked by an engine that shares
  * no code with them.
  *
  * Usage: `runMain graft.VerifyStream <sfDir> <workRoot> <outDir> [nBatches]`
  */
object VerifyStream {

  /** Store-backed spellings of registered queries over a drained root,
    * one-plus per family. Column selections pin the registered output
    * schema (the stores may carry bookkeeping columns beside it).
    * `sfDir` feeds the two composition rows (round-12 verdict #5) that
    * join corpus docs against store-derived state — the outputs a
    * training run actually exports: the winnow excision over the
    * drained substr store's spans, and the survivor set over the
    * drained dedup store's labels. Both ride the exact shared
    * definitions their registered twins use
    * ([[graft.operators.SubstrDedup.cleanTokensOver]],
    * [[graft.operators.DedupQueries.survivorsOver]]).
    */
  def storeQueries(root: String,
                   sfDir: String): Map[String, SparkSession => DataFrame] = Map(
    "dedup_minhash_pairs" -> (s =>
      DedupLayout.pairs(s, StoreBuild.dedupLayoutDir(root))
        .select("doc_a", "doc_b")),
    "dedup_clusters" -> (s =>
      DedupLayout.labels(s, StoreBuild.dedupLayoutDir(root))
        .select("doc_id", "cluster_id")),
    "dedup_survivors" -> (s =>
      graft.operators.DedupQueries.survivorsOver(
        Tables.documents(s, sfDir),
        DedupLayout.labels(s, StoreBuild.dedupLayoutDir(root)))),
    "text_token_freq" -> (s =>
      TextLayout.vocab(s, StoreBuild.textLayoutDir(root))),
    "dedup_substr_winnow_spans" -> (s =>
      SubstrLayout.spans(s, StoreBuild.substrLayoutDir(root))),
    "dedup_substr_winnow_clean_tokens" -> (s =>
      graft.operators.SubstrDedup.cleanTokensOver(
        Tables.documents(s, sfDir),
        SubstrLayout.spans(s, StoreBuild.substrLayoutDir(root)))),
    "sim_ann_kmeans" -> (s =>
      VectorLayout.probe(s, StoreBuild.vectorLayoutDir(root))),
    "sim_knn_ann_kmeans" -> (s =>
      VectorLayout.knn(s, sfDir, StoreBuild.vectorLayoutDir(root),
        nprobe = graft.operators.SimilarityQueries.nProbeOf(s))
        .select(col("qid").as("src"), col("vec_id").as("dst"),
          col("cos"), col("rn"))),
    "sim_knn_ann_hier" -> (s =>
      VectorLayout.knnHier(s, sfDir, StoreBuild.vectorLayoutDir(root))
        .select(col("qid").as("src"), col("vec_id").as("dst"),
          col("cos"), col("rn"))),
    // the store-context probe=auto DISPATCHER (round-17 verdict
    // stretch #8's untested corner): an unset ProbeKey here IS the
    // auto policy — at trained K<HierProbeStoreMinK (sf0.01: K=8,
    // 10x: K=200) it must resolve flat and hash-match the same
    // registered oracle the session dispatcher verifies through
    "sim_knn_ann_auto" -> (s =>
      VectorLayout.knnAuto(s, sfDir, StoreBuild.vectorLayoutDir(root))
        .select(col("qid").as("src"), col("vec_id").as("dst"),
          col("cos"), col("rn"))))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: VerifyStream <sfDir> <workRoot> <outDir> [nBatches] " +
        "[conf:k=v,k=v] [only:prefix]")
    val (sfDir, root, outDir) = (args(0), args(1), args(2))
    // nBatches=0 = REUSE: the root was drained by a prior run (the
    // bucket-chunked oracle sweeps re-dump a handful of store-served
    // queries 20 times over ONE drained root — re-draining the 100×
    // corpus per bucket would dominate the sweep); the Doctor fsck
    // still gates every dump, so a reused root gets the same
    // sick-store refusal a fresh drain does.
    val nBatches = args.lift(3).map(_.toInt).getOrElse(6)
    // optional tail args, any order — the Verify discipline verbatim:
    // `conf:k=v,k=v` applies session confs BEFORE the drain, so the
    // stores build under the knobbed configuration AND the oracle
    // strings resolve the live value (e.g. spark.graft.sim.ncells=200
    // drains + serves + oracles the up-decade corpus under the
    // deployment-scaled quantizer); `only:prefix` restricts which
    // store-served queries dump (the bucket sweeps re-dump only the
    // kNN family). A malformed token refuses loudly rather than
    // silently verifying the default configuration.
    args.drop(4).foreach(a => require(
      a.startsWith("conf:") || a.startsWith("only:"),
      s"tail args must be conf:k=v,k=v or only:prefix — got '$a', " +
        "which would silently verify the DEFAULT configuration instead"))
    val confs = args.drop(4).filter(_.startsWith("conf:")).toSeq
      .flatMap(Sessions.confPairs)
    // comma-list of prefixes (round 18: `only:sim_knn_ann` would now
    // also match the sim_knn_ann_auto dispatcher row, so the chunk
    // sweeps name their two rows exactly)
    val onlyPrefixes = args.drop(4).find(_.startsWith("only:"))
      .map(_.stripPrefix("only:").split(',').toSeq)
    val spark = Sessions.local()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // ncells=auto / probe=auto resolve against THIS corpus before the
    // drain builds any store or the oracle strings read the knobs
    // (Verify discipline)
    operators.SimilarityQueries.pinAutoNCells(spark, sfDir)
    operators.SimilarityQueries.pinProbeMode(spark, sfDir)
    operators.SimilarityQueries.pinSignRows(spark, sfDir)
    try {
      val code =
        if (nBatches == 0) Doctor.run(spark, Seq(root))
        else StreamDrain.run(spark, sfDir, root, nBatches)
      require(code == 0,
        s"drain fsck exited $code — refusing to dump from a sick root")
      new java.io.File(outDir).mkdirs()
      val qs = storeQueries(root, sfDir)
        .filter(kv => onlyPrefixes.forall(_.exists(kv._1.startsWith)))
      // The store-served dispatcher row and its registered oracle must
      // read ONE probe resolution (round-18 advice): the oracle string
      // resolves the SESSION policy (unset ProbeKey → flat), but the
      // store context resolves unset → auto → probeModeForStore(trained
      // K), so at trained K ≥ HierProbeStoreMinK (the 100× deployment)
      // the dump would be hier against a flat oracle. Pin the STORE
      // resolution into ProbeKey before anything dumps or generates
      // SQL — the dispatcher rereads the pinned concrete mode and
      // returns the identical arm, so this changes which oracle is
      // WRITTEN, never what the engine serves.
      if (qs.contains("sim_knn_ann_auto")) {
        val mode = VectorLayout.storeProbeMode(
          spark, sfDir, StoreBuild.vectorLayoutDir(root))
        spark.conf.set(operators.SimilarityQueries.ProbeKey, mode)
        println(s"[verify-stream] pinned $mode into " +
          s"${operators.SimilarityQueries.ProbeKey} for the auto row's oracle")
      }
      qs.foreach { case (name, fn) =>
        fn(spark).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        println(s"[verify-stream] dumped $name")
      }
      Verify.writeOracleJson(s"$outDir/oracle_sql.json",
        SparkEntry.oracleSql.filter(kv => qs.contains(kv._1)))
    } finally { CacheLife.release(spark); spark.stop() }
  }
}
