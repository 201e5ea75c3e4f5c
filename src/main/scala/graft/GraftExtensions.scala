package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions.{AdcLut, CellTopK, CharShingles, CosineSim, HierAssign, MinHashSig, PqArgmin, WordShingles}

/** Engine extension point (SparkSessionExtensions): registers the
  * native expressions as SQL functions, so they are callable from both
  * the DataFrame API (`call_function("graft_minhash", ...)`) and
  * `spark.sql("SELECT graft_minhash(...)")`. Activated via
  * `spark.sql.extensions=graft.GraftExtensions` (Sessions.builder sets
  * it; spark-submit users set the same conf).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => children match {
        case Seq(sh) =>
          MinHashSig(sh, k = 16, prime = graft.functions.TextFunctions.MinhashPrime)
        case Seq(sh, Literal(k: Int, _)) =>
          MinHashSig(sh, k, prime = graft.functions.TextFunctions.MinhashPrime)
        case Seq(sh, Literal(k: Int, _), Literal(p: Long, _)) => MinHashSig(sh, k, p)
        // SQL integer literals in int range parse as Int, not Long
        case Seq(sh, Literal(k: Int, _), Literal(p: Int, _)) => MinHashSig(sh, k, p.toLong)
        case _ => throw new IllegalArgumentException(
          "graft_minhash(shingles array<string>[, k int[, prime bigint]])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(toks, Literal(n: Int, _)) => WordShingles(toks, n)
        case _ => throw new IllegalArgumentException("graft_shingles(tokens array<string>, n int)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_shingles"),
      new ExpressionInfo(classOf[CharShingles].getName, "graft_char_shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(n: Int, _)) => CharShingles(text, n)
        case _ => throw new IllegalArgumentException("graft_char_shingles(text string, n int)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cell_topk"),
      new ExpressionInfo(classOf[CellTopK].getName, "graft_cell_topk"),
      (children: Seq[Expression]) => children match {
        // (vector, literal array<array<double>> centroids, literal
        // array<bigint> cids, literal int nprobe) — the codebook
        // literals are unpacked ONCE at plan build into the
        // expression's reference objects, so the per-row expression
        // tree stays O(1) in K (the point of the native form)
        case Seq(v, cents: Literal, cids: Literal, Literal(np: Int, _)) =>
          CellTopK(v, CellTopK.literalCids(cids), CellTopK.literalCents(cents), np)
        case _ => throw new IllegalArgumentException(
          "graft_cell_topk(v array<numeric>, cents array<array<double>> lit, " +
            "cids array<bigint> lit, nprobe int lit)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hier_assign"),
      new ExpressionInfo(classOf[HierAssign].getName, "graft_hier_assign"),
      (children: Seq[Expression]) => children match {
        // (vector, live super cents array<array<double>> lit, super cids
        // array<bigint> lit, member cents grouped per super
        // array<array<array<double>>> lit, member cids grouped
        // array<array<bigint>> lit) — all model-sized literals unpacked
        // once at plan build into reference objects (CellTopK rule)
        case Seq(v, sc: Literal, si: Literal, mc: Literal, mi: Literal) =>
          HierAssign(v, CellTopK.literalCids(si), CellTopK.literalCents(sc),
            CellTopK.literalCidGroups(mi), CellTopK.literalCentGroups(mc))
        case _ => throw new IllegalArgumentException(
          "graft_hier_assign(v array<numeric>, sup_cents array<array<double>> lit, " +
            "sup_cids array<bigint> lit, mem_cents array<array<array<double>>> lit, " +
            "mem_cids array<array<bigint>> lit)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_argmin"),
      new ExpressionInfo(classOf[PqArgmin].getName, "graft_pq_argmin"),
      (children: Seq[Expression]) => children match {
        // (subvector array<bigint>, literal array<array<bigint>>
        // centroids, literal array<bigint> cids) — codebook literals
        // unpacked once at plan build (the CellTopK rule)
        case Seq(sq, cents: Literal, cids: Literal) =>
          PqArgmin(sq, CellTopK.literalCids(cids), PqArgmin.literalCentsL(cents))
        case _ => throw new IllegalArgumentException(
          "graft_pq_argmin(sq array<bigint>, cents array<array<bigint>> lit, " +
            "cids array<bigint> lit)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_adc_lut"),
      new ExpressionInfo(classOf[AdcLut].getName, "graft_adc_lut"),
      (children: Seq[Expression]) => children match {
        // (vector array<bigint>, flat codebook array<array<bigint>>
        // lit — m-major M×K slots, empty = the never-read 0 slot,
        // subDim int lit, M int lit)
        case Seq(v, cents: Literal, Literal(subDim: Int, _), Literal(m: Int, _)) =>
          AdcLut(v, PqArgmin.literalCentsL(cents), subDim, m)
        case _ => throw new IllegalArgumentException(
          "graft_adc_lut(v array<bigint>, flat_cents array<array<bigint>> lit, " +
            "sub_dim int lit, m int lit)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => CosineSim(a, b)
        case _ => throw new IllegalArgumentException("graft_cosine(a, b)")
      }))
  }
}
