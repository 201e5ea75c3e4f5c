package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions => T, TextOracle => O}

/** Duplicate-PASSAGE dedup (the "ExactSubstr" family): find exact token
  * windows that occur more than once anywhere in the corpus, merge the
  * hits into maximal per-document spans, and emit the passage-removed
  * corpus — the substring-granularity companion to the document-level
  * MinHash pipeline in [[DedupQueries]]. Document-level dedup keeps or
  * drops whole documents; this family excises the duplicated PASSAGE
  * (boilerplate headers, licence blocks, syndicated paragraphs) while
  * keeping the unique remainder — the other standard LLM-corpus dedup
  * operation (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better", arXiv:2107.06499, which removes repeated ≥50-token
  * substrings found via a suffix array).
  *
  * Spark-first shape (a suffix array is a single-machine construction;
  * the distributed equivalent is windowed hashing):
  *   - one narrow pass emits every W-token window as (doc_id, pos, h)
  *     where h = md5 of the window text — a FIXED-width key, so shuffle
  *     bytes are independent of W (a 50-token production window would
  *     otherwise ship ~300 raw bytes per position); md5 (128-bit) rather
  *     than the 60-bit [[T.tokenHash]] idiom because here a collision
  *     MARKS A FALSE DUPLICATE SPAN: at 10¹² windows a 60-bit key
  *     expects ~10⁵ colliding pairs, md5 expects ~10⁻¹³.
  *   - duplicated windows are a count ≥ 2 over that key: a plain
  *     high-entropy groupBy with map-side partials — never a self-join,
  *     never quadratic. Count ≥ 2 is over ALL occurrences, so a window
  *     repeated WITHIN one document is duplicated too (same semantics as
  *     the suffix-array formulation, which has no document boundary).
  *   - hit positions come back via one hash-keyed equi-join, then merge
  *     into maximal spans with the sessionize idiom (running max of
  *     span end, new-span flag, running-sum span id) — windows are
  *     partitioned BY DOC and bounded by document length, never global.
  *   - the passage-removed text is an anti-join of token positions
  *     against covered positions (equi-join on (doc_id, pos) — the
  *     covered set is spans exploded, disjoint by construction) and a
  *     per-doc ordered re-join; every aggregate is bounded by one
  *     document's length.
  *
  * W here is 8 tokens (the synthetic docs average ~50 tokens; 50-token
  * windows would mark nothing). Production uses 50 — only the constant
  * changes, not the plan: the md5 key keeps every shuffle fixed-width.
  *
  * Outputs are token-granular: `span_start`/`span_end` index the
  * whitespace tokens of [[T.tokens]] (0-based, inclusive), and the clean
  * text is the kept tokens re-joined with single spaces (token-normalized,
  * the same convention the chunker and packer already use).
  */
object SubstrDedup {

  /** DEFAULT window width in tokens. Production: 50 (arXiv:2107.06499
    * §4.1) — one CONF KNOB away, not a recompile (round-12): the
    * registered queries resolve [[WKey]] from the session and the
    * oracle SQL regenerates from the same live value, so a W=50 (or
    * any) deployment verifies through the same DuckDB gate as the
    * bench default. The incremental store PINS its build-time W on
    * disk and refuses a mismatched session ([[graft.sources
    * .SubstrLayout]]) — appending W=50 windows into a W=8 log would
    * silently corrupt every count.
    */
  val W = 8
  val WKey = "spark.graft.substr.w"

  /** The session-resolved window width. Must exceed [[WinnowW]]: the
    * winnow-merge invariant ("anchors inside one duplicated region sit
    * ≤ WinnowW < W apart, so their covers always overlap") and the
    * t = W + WinnowW − 1 match guarantee both assume it — a W ≤
    * WinnowW run would silently fragment contiguous duplicated regions
    * on BOTH engines, invisible to the oracle gate (round-12 review).
    */
  def wOf(s: SparkSession): Int = {
    val w = s.conf.getOption(WKey).map(_.toInt).getOrElse(W)
    require(w > WinnowW,
      s"$WKey must exceed WinnowW=$WinnowW (the winnow-merge invariant " +
        s"needs anchor gaps <= WinnowW < W), got $w")
    w
  }

  /** The oracle generator's resolution — the SAME validated path as the
    * queries (an invalid knob must refuse on both sides, not generate
    * silently-wrong SQL while the queries throw).
    */
  private def activeW: Int =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(wOf).getOrElse(W)

  private val toks: Column = T.tokens(col("text"))
  private val oToks: String = O.tokens("text")

  /** md5 of the `w` tokens starting at 0-based `i`, space-joined. */
  private def gramHash(ts: Column, i: Column, w: Int): Column =
    md5(concat_ws(" ", (0 until w).map(k => element_at(ts, i + k + 1)): _*))

  /** (doc_id, pos, h): one row per W-token window. Docs shorter than W
    * emit nothing (guarded — Spark's `sequence(0, -1)` counts DOWN).
    * CacheLife-shared: the duplicate-count groupBy and the hit join both
    * read it, and a real pipeline materializes the window index once.
    * The cache key carries the resolved W — a mid-session knob change
    * must miss, not serve the other width's windows.
    */
  private def posGrams(s: SparkSession, dir: String): DataFrame = {
    val w = wOf(s)
    graft.CacheLife.cached(s, s"substr.grams:$dir:w$w")(
      gramsOver(Tables.spread(s, Tables.documents(s, dir)), w))
  }

  /** The window index over ANY (doc_id, text) frame. */
  private[graft] def gramsOver(docs: DataFrame, w: Int = W): DataFrame =
    docs
      .select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"),
        posexplode(
          when(size(col("ts")) >= w,
            transform(sequence(lit(0), size(col("ts")) - w), i => gramHash(col("ts"), i, w)))
            .otherwise(lit(Array.empty[String]))).as(Seq("pos", "h")))

  /** Maximal duplicated spans per document: (doc_id, span_start,
    * span_end, span_tokens), positions token-granular inclusive. Two
    * overlapping or ADJACENT duplicated windows merge (their covered
    * token ranges form one contiguous region).
    */
  def spans(s: SparkSession, dir: String): DataFrame = {
    val w = wOf(s)
    graft.CacheLife.cached(s, s"substr.spans:$dir:w$w")(
      spansOver(posGrams(s, dir), w))
  }

  /** Duplicate-count + hit join + per-doc interval merge over a
    * (doc_id, pos, h) window index — exposed for SubstrDedupSpec's
    * planted-passage tests.
    */
  private[graft] def spansOver(g: DataFrame, w: Int = W): DataFrame =
    mergeSpans(dupHits(g), w)

  /** Positions whose window recurs anywhere in the index (count ≥ 2
    * over the md5 key — map-side partials, never a self-join).
    */
  private[graft] def dupHits(g: DataFrame): DataFrame = {
    val dup = g.groupBy("h").agg(count(lit(1)).as("n")).filter(col("n") >= 2).select("h")
    g.join(dup, Seq("h")).select(col("doc_id"), col("pos"))
  }

  /** Merge hit positions (each covering [pos, pos+W-1]) into maximal
    * per-doc spans — the sessionize idiom, windows bounded by doc
    * length. Shared by the exact and winnowed span queries (winnowed
    * anchors inside one duplicated region are ≤ [[WinnowW]] < W apart,
    * so their covers always overlap and the same merge rule applies).
    */
  private[graft] def mergeSpans(hits: DataFrame, w: Int = W): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spanned = hits
      // running max END of every PRIOR window in this doc: the merge
      // frontier. null on the first row → always a new span.
      .withColumn("prev_end",
        max(col("pos") + (w - 1)).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when(col("prev_end").isNull, lit(1))
          .otherwise((col("pos") > col("prev_end") + 1).cast("int")))
      .withColumn("span_id", sum(col("new_span")).over(byDoc))
    spanned.groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"), (max("pos") + (w - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Per-document duplicated-token coverage over the WHOLE corpus
    * (docs with no duplicated span report 0): the table a curator
    * thresholds to decide excise-vs-drop. Spans are disjoint per doc by
    * construction, so coverage is a plain sum.
    */
  def stats(s: SparkSession, dir: String): DataFrame =
    statsOver(Tables.documents(s, dir), spans(s, dir))

  private[graft] def statsOver(docs: DataFrame, sp: DataFrame): DataFrame = {
    val perDoc = sp.groupBy("doc_id").agg(sum("span_tokens").as("dup_tokens"))
    docs
      .select(col("doc_id"), size(toks).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 6))
          .as("dup_fraction"))
  }

  /** The passage-removed corpus: every document with its duplicated
    * spans' tokens excised and the remainder re-joined with single
    * spaces. A document that is ENTIRELY duplicated text (e.g. a
    * byte-identical copy of W+ tokens) survives as an empty string —
    * the span accounting stays visible in `n_removed` rather than the
    * row vanishing.
    */
  def clean(s: SparkSession, dir: String): DataFrame =
    cleanOver(Tables.documents(s, dir), spans(s, dir))

  /** A deterministic ~1/[[SampleBuckets]] doc sample of [[clean]] —
    * the STRING-granularity row that stays DuckDB-feasible at every
    * scale decade (round-12 verdict #3): the full clean oracle's
    * ordered `string_agg` over ~150M token rows at 100× cannot spill
    * and dies even alone at a 100 GB cap, while the same re-join over
    * a 1% md5 bucket of doc_ids (~1.5M rows) runs fine — so the
    * string re-join itself, not just its token set, carries a
    * rows+schema+hash row at 100× instead of an oracle_infeasible
    * exclusion. Span derivation stays CORPUS-WIDE (duplicate counts
    * must see every doc); only the excision re-join restricts to the
    * sample — the rel_hash_sample idiom, engine-independent by md5.
    */
  val SampleBuckets = 100

  def cleanSample(s: SparkSession, dir: String): DataFrame =
    cleanOver(
      Tables.documents(s, dir).filter(graft.functions.Buckets
        .mdBucket(col("doc_id").cast("string"), SampleBuckets) === 0),
      spans(s, dir))

  /** FULL-corpus string-granularity verification in DuckDB-feasible
    * chunks — the round-15 kNN-bucket pattern applied to the one
    * non-pass left in the 100× matrix (round-15 verdict #2): the
    * [[CleanChunkBuckets]] md5 doc buckets PARTITION the doc_ids and
    * the per-doc ordered re-join is independent across docs, so
    * bucket-by-bucket hash equality of [[cleanChunk]] IS full-corpus
    * equality of [[clean]] — while each chunk's `string_agg` stays at
    * ~1/20 of the token rows that made the one-piece oracle die even
    * at a 100 GB cap. Span derivation stays CORPUS-WIDE (duplicate
    * counts must see every doc); only the excision re-join restricts.
    * Pure verification chunking: no cache key embeds the knob, and the
    * oracle SQL regenerates the same bucket filter from the live conf.
    * QueriesSpec pins the partition laws (disjoint, union = full).
    */
  val CleanChunkBuckets = 20
  val CleanChunkKey = "spark.graft.dedup.cleanchunk"

  def cleanChunkOf(s: SparkSession): Int = {
    val b = s.conf.getOption(CleanChunkKey).map(_.toInt).getOrElse(0)
    require(b >= 0 && b < CleanChunkBuckets,
      s"$CleanChunkKey must be in [0, $CleanChunkBuckets), got $b")
    b
  }

  private def activeCleanChunk: Int =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(cleanChunkOf).getOrElse(0)

  def cleanChunk(s: SparkSession, dir: String): DataFrame =
    cleanOver(
      Tables.documents(s, dir).filter(graft.functions.Buckets
        .mdBucket(col("doc_id").cast("string"), CleanChunkBuckets)
        === cleanChunkOf(s)),
      spans(s, dir))

  private[graft] def cleanOver(docs: DataFrame, sp: DataFrame): DataFrame = {
    // the kept set has ONE definition — [[cleanTokensOver]] — and this
    // is its per-doc ordered re-join: a span-boundary fix lands in one
    // place and `clean`/`clean_tokens` cannot drift (round-12 review;
    // SubstrDedupSpec holds the re-join equal to the token set)
    val keptAgg = cleanTokensOver(docs, sp).groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("kt"))
      .select(col("doc_id"),
        array_join(transform(col("kt"), x => x.getField("tok")), " ").as("clean_text"),
        size(col("kt")).as("n_kept"))
    docs.select(col("doc_id"), size(toks).as("n_toks"))
      .join(keptAgg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0))).as("n_removed"))
  }

  /** The excision output at TOKEN granularity: the kept (doc_id, pos,
    * tok) rows — exactly the set [[clean]] re-joins into strings. This
    * is the 100×-verifiable spelling of the clean query: the string
    * form's oracle (ordered `string_agg` over ~150M token rows at
    * 100×) cannot spill in DuckDB and dies even alone at a 100 GB
    * memory cap, while this flat anti-join spills fine on both
    * engines — so the excision path (the family's actual output, where
    * a span-boundary off-by-one would ship corrupted training text)
    * gets a green rows+schema+hash row at every scale decade instead
    * of a by-name exclusion (round-11 verdict #1). Fully-duplicated
    * docs emit no rows here; their accounting lives in `clean`'s
    * n_removed.
    */
  def cleanTokens(s: SparkSession, dir: String): DataFrame =
    cleanTokensOver(Tables.documents(s, dir), spans(s, dir))

  /** The excision over the WINNOWED spans — what a deployment running
    * on the winnowed fingerprint index (the incremental
    * [[graft.sources.SubstrLayout]] store) actually exports: winnowed
    * covers ⊆ exact covers (precision 1), so this keeps a superset of
    * [[cleanTokens]]' rows, with the recall trade [[winnowRecall]]
    * measures. Registered so the stream-verify pass can hash-check the
    * store-derived excision end-to-end (round-12 verdict #5): the
    * store-backed twin reads its spans from a DRAINED SubstrLayout
    * root instead of the session winnow — same [[cleanTokensOver]]
    * tail, one definition.
    */
  def winnowCleanTokens(s: SparkSession, dir: String): DataFrame =
    cleanTokensOver(Tables.documents(s, dir), winnowSpans(s, dir))

  private[graft] def cleanTokensOver(docs: DataFrame, sp: DataFrame): DataFrame = {
    val tokRows = docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
    val covered = sp
      .select(col("doc_id"), explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    tokRows.join(covered, Seq("doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
  }

  // ---- Winnowing: the fingerprint-SELECTION scale path ----
  // The full window index is one row per token (~10¹² rows at 100 TB).
  // Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
  // algorithm) keeps only each trailing-w-window's minimum hash
  // (rightmost on ties), shrinking the index toward 2/(w+1) of the
  // positions while GUARANTEEING any exact match of
  // t = W + WinnowW − 1 tokens still shares a selected fingerprint on
  // both sides (selection depends only on the w−1 surrounding hashes,
  // which are identical inside a matching region). The trade is
  // recall at match EDGES and sub-t matches — measured, not assumed:
  // [[winnowRecall]] reports token-level recall against the exact
  // spans. Precision costs nothing: a flagged selected fingerprint has
  // corpus count ≥ 2 a fortiori, so winnowed covers ⊆ exact covers.
  //
  // The window-minimum is one trailing-w window per doc (doc-bounded,
  // like the merge), with rightmost-min encoded arithmetically:
  // enc = selector·2^[[PosBits]] + (2^PosBits − 1 − pos), so min(enc)
  // IS (min selector, max pos) — no struct ordering, identical integer
  // arithmetic on both engines. The 28-bit selector only picks the
  // anchor (ties break by position); duplicate DETECTION still runs on
  // the full md5. Docs longer than 2^PosBits tokens refuse loudly
  // rather than wrap the encoding (curriculum-guard precedent).
  val WinnowW = 4
  val PosBits = 20
  private val PosMask = (1L << PosBits) - 1

  /** The winnowed fingerprint index: (doc_id, pos, h) for SELECTED
    * positions only — the store a plagiarism/dedup deployment ships.
    */
  private def winnowFp(s: SparkSession, dir: String): DataFrame =
    graft.CacheLife.cached(s, s"substr.winnow-fp:$dir:w${wOf(s)}")(
      winnowFpOver(posGrams(s, dir)))

  /** The SELECTION stage of winnowing alone — (doc_id, pos) of the
    * chosen anchors, before the md5-recovery join. Its sort and window
    * are their own stages in [[graft.Profile]]'s `substr.winnow_fp`
    * stage table, between the per-token window map and the anchor join.
    */
  private[graft] def winnowSelected(g: DataFrame): DataFrame = {
    val selKey = conv(substring(col("h"), 1, 7), 16, 10).cast("long")
    val enc = when(col("pos") > PosMask, raise_error(concat(
        lit(s"winnowing position encoding holds ${PosBits} bits; doc "),
        col("doc_id"), lit(" has token positions past "), lit(PosMask.toString))))
      .otherwise(selKey * (PosMask + 1) + (lit(PosMask) - col("pos")))
    val trailing = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WinnowW - 1), 0)
    g
      .withColumn("enc", enc)
      .withColumn("win", min(col("enc")).over(trailing))
      .filter(col("pos") >= WinnowW - 1) // only full windows select
      .select(col("doc_id"), (lit(PosMask) - pmod(col("win"), lit(PosMask + 1))).as("pos"))
      .distinct()
  }

  private[graft] def winnowFpOver(g: DataFrame): DataFrame =
    winnowSelected(g).join(g, Seq("doc_id", "pos")) // recover the full md5 at the anchor

  /** Approximate duplicated spans from the winnowed index alone —
    * [[mergeSpans]] applies unchanged because anchors inside one
    * duplicated region sit ≤ WinnowW < W apart, so their covers always
    * overlap.
    */
  def winnowSpans(s: SparkSession, dir: String): DataFrame =
    graft.CacheLife.cached(s, s"substr.winnow-spans:$dir:w${wOf(s)}")(
      mergeSpans(dupHits(winnowFp(s, dir)), wOf(s)))

  /** The index-health eval: how much smaller is the winnowed index and
    * how much duplicated-token coverage it loses vs the exact spans —
    * the number that justifies (or refutes) deploying the lossy path.
    * Four model-sized (1-row) aggregates broadcast into one row.
    */
  def winnowRecall(s: SparkSession, dir: String): DataFrame = {
    val exCov = spans(s, dir)
      .select(col("doc_id"), explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val wnCov = winnowSpans(s, dir)
      .select(col("doc_id"), explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val nw = broadcast(posGrams(s, dir).agg(count(lit(1)).as("n_windows")))
    val nf = broadcast(winnowFp(s, dir).agg(count(lit(1)).as("n_fingerprints")))
    val ne = broadcast(exCov.agg(count(lit(1)).as("n_exact_tokens")))
    val nc = broadcast(exCov.join(wnCov, Seq("doc_id", "pos"))
      .agg(count(lit(1)).as("n_covered_tokens")))
    nw.crossJoin(nf).crossJoin(ne).crossJoin(nc)
      .select(col("n_windows"), col("n_fingerprints"),
        round(col("n_fingerprints").cast("double") / col("n_windows"), 6).as("index_fraction"),
        col("n_exact_tokens"), col("n_covered_tokens"),
        when(col("n_exact_tokens") === 0, lit(1.0))
          .otherwise(round(col("n_covered_tokens").cast("double") / col("n_exact_tokens"), 6))
          .as("token_recall"))
  }

  /** Named builders for the CacheLife window/span stores (bench
    * attribution + StoreBuild materialization, same contract as the
    * sibling modules).
    */
  def indexBuilders(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    "substr.grams" -> (() => { posGrams(s, dir).count(); () }),
    "substr.spans" -> (() => { spans(s, dir).count(); () }),
    "substr.winnow_fp" -> (() => { winnowFp(s, dir).count(); () }),
    "substr.winnow_spans" -> (() => { winnowSpans(s, dir).count(); () }),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substr_spans" -> (spans _),
    "dedup_substr_stats" -> (stats _),
    "dedup_substr_clean" -> (clean _),
    "dedup_substr_clean_sample" -> (cleanSample _),
    "dedup_substr_clean_chunk" -> (cleanChunk _),
    "dedup_substr_clean_tokens" -> (cleanTokens _),
    "dedup_substr_winnow_spans" -> (winnowSpans _),
    "dedup_substr_winnow_clean_tokens" -> (winnowCleanTokens _),
    "dedup_substr_winnow_recall" -> (winnowRecall _),
  )

  // ---- DuckDB oracle: same windows, same md5 keys, same merge ----

  /** CTE chain `t` (tokens) → `g` (positional window hashes). DuckDB
    * lists index 1-based: window at 0-based pos i is toks[i+1 .. i+W].
    * All CTE builders take the live window width — [[oracle]] is a def
    * resolving [[WKey]] so the SQL regenerates from the same value the
    * registered queries used.
    */
  private def oGramParts(w: Int): String =
    (1 to w).map(k => s"toks[i+$k]").mkString(", ")
  private def oGramCtes(w: Int): String =
    s"""t AS (SELECT doc_id, $oToks AS toks FROM documents),
       |g AS (SELECT doc_id, i AS pos, md5(concat_ws(' ', ${oGramParts(w)})) AS h
       |      FROM t, unnest(range(0, greatest(len(toks) - ${w - 1}, 0))) AS u(i))""".stripMargin.replace("\n", " ")

  /** CTEs through merged spans `sp(doc_id, span_start, span_end)`. */
  private def oSpanCtes(W: Int): String =
    s"""${oGramCtes(W)},
       |dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
       |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
       |fl AS (SELECT doc_id, pos,
       |  CASE WHEN prev_end IS NULL THEN 1 WHEN pos > prev_end + 1 THEN 1 ELSE 0 END AS new_span
       |  FROM (SELECT doc_id, pos,
       |    max(pos + ${W - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM hits)),
       |sp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${W - 1} AS span_end
       |  FROM (SELECT doc_id, pos,
       |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM fl)
       |  GROUP BY doc_id, span_id)""".stripMargin.replace("\n", " ")

  /** Winnow CTE chain on top of [[oSpanCtes]] (which provides `t`, `g`,
    * and exact spans `sp`): encode → trailing-window min → decode →
    * recover md5 → duplicated selected → merge. Arithmetic mirrors
    * [[winnowFpOver]] constant for constant — INCLUDING the PosBits
    * overflow guard: past-2^PosBits positions error() here exactly
    * where the Spark side raise_errors, so the two engines refuse
    * identically instead of diverging error-vs-wrapped-encoding in
    * the regime the guard names (round-12 advice).
    */
  private def oWinnowCtes(W: Int): String = {
    val mask = PosMask
    val mod = PosMask + 1
    s"""${oSpanCtes(W)},
       |wenc AS (SELECT doc_id, pos,
       |  (CASE WHEN pos > $mask THEN CAST(error(
       |     'winnowing position encoding holds $PosBits bits; doc ' || doc_id ||
       |     ' has token positions past $mask') AS BIGINT)
       |   ELSE ('0x' || substr(h, 1, 7))::BIGINT * $mod + ($mask - pos) END) AS enc FROM g),
       |wmin AS (SELECT doc_id, pos,
       |  min(enc) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS win FROM wenc),
       |wsel AS (SELECT DISTINCT doc_id, ($mask - (win % $mod)) AS pos
       |  FROM wmin WHERE pos >= ${WinnowW - 1}),
       |wfp AS (SELECT g.doc_id, g.pos, g.h FROM wsel
       |  JOIN g ON wsel.doc_id = g.doc_id AND wsel.pos = g.pos),
       |wdup AS (SELECT h FROM wfp GROUP BY h HAVING COUNT(*) >= 2),
       |whits AS (SELECT doc_id, pos FROM wfp JOIN wdup USING (h)),
       |wfl AS (SELECT doc_id, pos,
       |  CASE WHEN prev_end IS NULL THEN 1 WHEN pos > prev_end + 1 THEN 1 ELSE 0 END AS new_span
       |  FROM (SELECT doc_id, pos,
       |    max(pos + ${W - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM whits)),
       |wsp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${W - 1} AS span_end
       |  FROM (SELECT doc_id, pos,
       |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM wfl)
       |  GROUP BY doc_id, span_id)""".stripMargin.replace("\n", " ")
  }

  def oracle: Map[String, String] = {
   val w = activeW
   Map(
    "dedup_substr_winnow_spans" ->
      (s"""WITH ${oWinnowCtes(w)}
          |SELECT doc_id, span_start, span_end,
          |  span_end - span_start + 1 AS span_tokens FROM wsp""".stripMargin.replace("\n", " ")),
    "dedup_substr_winnow_recall" ->
      (s"""WITH ${oWinnowCtes(w)},
          |excov AS (SELECT doc_id, u.pos FROM sp, unnest(range(span_start, span_end + 1)) AS u(pos)),
          |wncov AS (SELECT doc_id, u.pos FROM wsp, unnest(range(span_start, span_end + 1)) AS u(pos)),
          |ns AS (SELECT (SELECT COUNT(*) FROM g) AS n_windows,
          |  (SELECT COUNT(*) FROM wfp) AS n_fingerprints,
          |  (SELECT COUNT(*) FROM excov) AS n_exact_tokens,
          |  (SELECT COUNT(*) FROM excov JOIN wncov USING (doc_id, pos)) AS n_covered_tokens)
          |SELECT n_windows, n_fingerprints,
          |  round(n_fingerprints::DOUBLE / n_windows, 6) AS index_fraction,
          |  n_exact_tokens, n_covered_tokens,
          |  CASE WHEN n_exact_tokens = 0 THEN 1.0
          |       ELSE round(n_covered_tokens::DOUBLE / n_exact_tokens, 6) END AS token_recall
          |FROM ns""".stripMargin.replace("\n", " ")),
    "dedup_substr_spans" ->
      (s"""WITH ${oSpanCtes(w)}
          |SELECT doc_id, span_start, span_end,
          |  span_end - span_start + 1 AS span_tokens FROM sp""".stripMargin.replace("\n", " ")),
    "dedup_substr_stats" ->
      (s"""WITH ${oSpanCtes(w)},
          |pd AS (SELECT doc_id, SUM(span_end - span_start + 1) AS dup_tokens FROM sp GROUP BY doc_id)
          |SELECT t.doc_id, len(t.toks) AS n_tokens,
          |  coalesce(pd.dup_tokens, 0)::BIGINT AS dup_tokens,
          |  CASE WHEN len(t.toks) = 0 THEN 0.0
          |       ELSE round(coalesce(pd.dup_tokens, 0)::DOUBLE / len(t.toks), 6) END AS dup_fraction
          |FROM t LEFT JOIN pd USING (doc_id)""".stripMargin.replace("\n", " ")),
    "dedup_substr_winnow_clean_tokens" ->
      (s"""WITH ${oWinnowCtes(w)},
          |cov AS (SELECT doc_id, u.pos FROM wsp, unnest(range(span_start, span_end + 1)) AS u(pos)),
          |tok AS (SELECT doc_id, i AS pos, toks[i+1] AS tok
          |        FROM t, unnest(range(0, len(toks))) AS u(i))
          |SELECT tok.doc_id, tok.pos, tok.tok FROM tok
          |ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos""".stripMargin.replace("\n", " ")),
    "dedup_substr_clean_tokens" ->
      (s"""WITH ${oSpanCtes(w)},
          |cov AS (SELECT doc_id, u.pos FROM sp, unnest(range(span_start, span_end + 1)) AS u(pos)),
          |tok AS (SELECT doc_id, i AS pos, toks[i+1] AS tok
          |        FROM t, unnest(range(0, len(toks))) AS u(i))
          |SELECT tok.doc_id, tok.pos, tok.tok FROM tok
          |ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos""".stripMargin.replace("\n", " ")),
    "dedup_substr_clean_sample" ->
      (s"""WITH ${oSpanCtes(w)},
          |samp AS (SELECT doc_id, toks FROM t
          |         WHERE ${graft.functions.Buckets.sqlBucket("doc_id::VARCHAR", SampleBuckets)} = 0),
          |cov AS (SELECT doc_id, u.pos FROM sp, unnest(range(span_start, span_end + 1)) AS u(pos)),
          |tok AS (SELECT doc_id, i AS pos, toks[i+1] AS tok
          |        FROM samp, unnest(range(0, len(toks))) AS u(i)),
          |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
          |         ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos),
          |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
          |       COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
          |SELECT samp.doc_id, coalesce(ka.clean_text, '') AS clean_text,
          |  len(samp.toks) - coalesce(ka.n_kept, 0) AS n_removed
          |FROM samp LEFT JOIN ka USING (doc_id)""".stripMargin.replace("\n", " ")),
    "dedup_substr_clean_chunk" ->
      (s"""WITH ${oSpanCtes(w)},
          |samp AS (SELECT doc_id, toks FROM t
          |         WHERE ${graft.functions.Buckets.sqlBucket("doc_id::VARCHAR", CleanChunkBuckets)} = $activeCleanChunk),
          |cov AS (SELECT doc_id, u.pos FROM sp, unnest(range(span_start, span_end + 1)) AS u(pos)),
          |tok AS (SELECT doc_id, i AS pos, toks[i+1] AS tok
          |        FROM samp, unnest(range(0, len(toks))) AS u(i)),
          |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
          |         ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos),
          |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
          |       COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
          |SELECT samp.doc_id, coalesce(ka.clean_text, '') AS clean_text,
          |  len(samp.toks) - coalesce(ka.n_kept, 0) AS n_removed
          |FROM samp LEFT JOIN ka USING (doc_id)""".stripMargin.replace("\n", " ")),
    "dedup_substr_clean" ->
      (s"""WITH ${oSpanCtes(w)},
          |cov AS (SELECT doc_id, u.pos FROM sp, unnest(range(span_start, span_end + 1)) AS u(pos)),
          |tok AS (SELECT doc_id, i AS pos, toks[i+1] AS tok
          |        FROM t, unnest(range(0, len(toks))) AS u(i)),
          |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
          |         ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos),
          |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
          |       COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
          |SELECT t.doc_id, coalesce(ka.clean_text, '') AS clean_text,
          |  len(t.toks) - coalesce(ka.n_kept, 0) AS n_removed
          |FROM t LEFT JOIN ka USING (doc_id)""".stripMargin.replace("\n", " ")),
   )
  }
}
