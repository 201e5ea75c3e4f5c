package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Formatted physical plans of registered queries — the human-readable
  * companion to PlanQualitySpec's assertions.
  *
  *   - `runMain graft.DumpPlans [sfDir]` regenerates docs/PLANS.md from
  *     the flagship set below; rerun it after plan-affecting changes.
  *   - `runMain graft.DumpPlans <outDir> <tag> <name,name,...> [sfDir] [warm]`
  *     writes `<outDir>/<name>_<tag>.txt` per query: the before/after plan
  *     evidence. `warm` runs the shared index builders first, so memoized
  *     stores plan as InMemoryTableScan (what the bench times) instead of
  *     their build lineage.
  */
object DumpPlans {

  /** docs/PLANS.md, in order: (registered name, what the plan shows). */
  private val Flagship: Seq[(String, String)] = Seq(
    "core_top1_by_value" -> "O1 top-k",
    "rel_shipping_priority" -> "TPC-H Q3 shape",
    "rel_local_supplier_volume" -> "TPC-H Q5 shape",
    "dedup_minhash_pairs" -> "LSH band equi-join, skew-capped cells",
    "dedup_jaccard_pairs" -> "exact verify over CacheLife-cached LSH candidates",
    "sim_topk_cosine" -> "brute-force ANN baseline",
    "sim_pairs_threshold" -> "block-decomposed triangle equi-join",
    "sim_ann_ivf_multiprobe" -> "nprobe nearest cells",
    "sim_ann_filtered" -> "metadata pre-filter pushed into the nprobe cell scan",
    "sim_ann_kmeans" -> "trained-quantizer probe",
    "multi_topk_cosine" -> "multimodal embeddings through the ANN shape",
    "rel_asof_join" -> "union-window as-of join, no theta join",
    "sim_knn_join" -> "symmetrized triangle pairs + per-source rank",
    "core_sum_by_day" -> "partial aggregation",
    "rel_range_join" -> "interval-bucketed equi-join, no NLJ",
    "rel_sessionize" -> "lag + running sum, one shuffle on the session key",
    "text_tfidf" -> "aggregated df broadcast back onto tf — no vocab window",
    "text_sample_mix" -> "per-row hash sampling: scan + filter, zero exchange",
    "dedup_survivors" -> "corpus anti-pattern: labels left-joined once on doc_id",
    "text_corpus_funnel" -> "six cumulative stage counters in one aggregate pass",
    "text_pack_contexts" -> "shard-partitioned running-sum packing, no global window",
    "sim_ann_batch" -> "query set × IVF index: cell equi-join + per-query top-k",
    "sim_pairs_lsh" -> "banded sign-LSH candidates + exact cosine verify — the lossy scale path",
    "text_chunk" -> "sliding token windows: explode + slice, no key shuffle",
    "text_repetition" -> "two-level bigram aggregate, map-side partials",
    "rel_salted_agg" -> "two-stage salted aggregation: (key, salt) partials → key merge",
    "sim_label_centroids" -> "quantized per-(label, dim) centroid aggregate",
    "dedup_ngram_overlap" -> "exact-shingle decontamination: distinct per side + shingle equi-join",
    "sim_semantic_dedup" -> "SemDeDup: within-cell lower-id-neighbor drop, cell equi-join",
    "sim_ann_pq" -> "PQ ADC: code-table scan × 1-row broadcast, top-k, no corpus shuffle",
    "sim_ann_ivfpq" -> "IVF-PQ: broadcast cell prune over the code index + ADC top-k",
    "sim_ann_ivfpq_multiprobe" -> "nprobe ADC shortlist + exact-cosine rerank",
    "dedup_source_matrix" -> "verified pairs rolled up by source pair",
    "text_zipf" -> "vocabulary-sized re-aggregate of the token counts",
    "text_curriculum" -> "bounded-domain exact quantile: histogram walk + broadcast thresholds",
    "text_export_manifest" -> "survivors x split x phase: joins over memoized verdict stores",
    "multi_audio_features" -> "real WAV decode in mapPartitions; metadata stays columnar",
    "dedup_substr_spans" -> "windowed-hash ExactSubstr: partial-agg dup count + doc-partitioned merge",
    "dedup_substr_clean" -> "passage excision: (doc_id, pos) anti-join + per-doc ordered re-join",
    "dedup_substr_clean_tokens" -> "the flat kept set: same anti-join, no ordered re-agg — the 100x-verifiable spelling",
    "text_dsir_weights" -> "DSIR: B-row fixed-point-log llr broadcast onto the feature stream",
    "sim_knn_ann" -> "corpus-wide kNN: per-row probe ranking, shuffled cell equi-join, WindowGroupLimit",
    "sim_knn_ann_pq" -> "PQ-compressed kNN: per-source ADC LUT, merge-hinted code join, shortlist + exact rerank",
    "sim_knn_ann_hier" -> "two-level probe: super ranking expression, member broadcast join, shuffled cell candidates",
    "sim_knn_ann_hier_pq" -> "composed IMI+IVFADC: two-level probe, per-source ADC LUT over the code join, shortlist + exact rerank",
    "sim_knn_ann_hier_pq_res" -> "hier probe + RESIDUAL-space IVFADC: per-(source,cell) LUT on the probe rows only, code join, shortlist + exact rerank")

  def main(argv: Array[String]): Unit = {
    // named mode: <outDir> <tag> <names> then the shared [sfDir] [warm]
    val named = argv.length > 1
    val args = if (named) argv.drop(3) else argv
    val s = Sessions.local()
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    def plan(name: String): String =
      SparkEntry.queries(name)(s, d).queryExecution.explainString(FormattedMode)
    if (!named) {
      // the batch probe plans against the materialized cell index
      val body = Flagship.map { case (name, what) =>
        if (name == "sim_ann_batch") operators.SimilarityQueries.ivfCells(s, d).count()
        s"## $name ($what)\n\n```\n${plan(name)}```\n\n"
      }
      Files.writeString(Paths.get("docs/PLANS.md"),
        "# PLANS — formatted physical plans of flagship queries (sf0.01)\n\n" +
          "Generated by `sbt \"runMain graft.DumpPlans\"`; regenerate after plan-affecting changes.\n" +
          "The properties PlanQualitySpec asserts are visible here: pushed filters,\n" +
          "pruned read schemas, TakeOrderedAndProject, broadcast-vs-SMJ choices,\n" +
          "partial aggregation, and the LSH equi-join.\n\n" + body.mkString)
    } else {
      val outDir = Paths.get(argv(0))
      Files.createDirectories(outDir)
      if (args.lift(1).contains("warm"))
        SparkEntry.indexBuilders(s, d).foreach(_._2())
      argv(2).split(',').foreach { name =>
        if (!SparkEntry.queries.contains(name)) println(s"[plans] UNKNOWN query: $name")
        else {
          Files.writeString(outDir.resolve(s"${name}_${argv(1)}.txt"), plan(name))
          println(s"[plans] wrote ${name}_${argv(1)}.txt")
        }
      }
    }
    CacheLife.release(s)
    s.stop()
  }
}
