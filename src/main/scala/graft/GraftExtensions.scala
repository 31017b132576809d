package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import scala.reflect.{ClassTag, classTag}

import graft.functions.{CdcChunksExpr, CellDistsExpr, CosineSimExpr, HllEstAgg, JaroWinklerExpr, MinHash32Expr, NgramsWsExpr, PairStructsExpr, PqEncodeExpr, SimHash64Expr, SimHashMd5Expr, WinnowCfpsExpr, WinnowFpsExpr}

/** Engine extension point: registers the native Catalyst expressions
  * as SQL functions. Enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`), then both the SQL surface
  * (`SELECT simhash64_native(text) ...`) and the DataFrame surface
  * (`call_function("cosine_sim", a, b)`) resolve them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** One registered function: its name, SQL usage line, accepted
    * argument counts, and builder. Builders receive whatever arity the
    * user wrote — silently taking `children.head` would drop extra
    * arguments without a diagnostic — so the count is checked first.
    */
  private case class Fn(name: String, cls: Class[_], usage: String, arities: Set[Int],
                        build: Seq[Expression] => Expression)

  private def unary[E <: Expression: ClassTag](name: String, usage: String)(f: Expression => E) =
    Fn(name, classTag[E].runtimeClass, usage, Set(1), c => f(c.head))

  private def binary[E <: Expression: ClassTag](name: String, usage: String)(
      f: (Expression, Expression) => E) =
    Fn(name, classTag[E].runtimeClass, usage, Set(2), c => f(c(0), c(1)))

  private val fns: Seq[Fn] = Seq(
    unary("simhash64_native",
      "simhash64_native(text) - 64-bit SimHash over whitespace tokens (xxhash64 seed 42)")(SimHash64Expr),
    unary("simhash_md5",
      "simhash_md5(text) - two-half (32+32 bit) SimHash over whitespace tokens of edge-trimmed lower(text); token hash = first 64 bits of md5, so the signature is DuckDB-reproducible")(SimHashMd5Expr),
    unary("minhash32_native",
      "minhash32_native(shingles) - 32 salted minhashes of array<string> in one pass (xxhash64 seed 42)")(MinHash32Expr),
    unary("winnow_fps",
      "winnow_fps(text) - winnowing fingerprint set (SIGMOD'03): distinct 4-window minima of base-31 8-gram hashes of lower(text)")(WinnowFpsExpr),
    unary("winnow_cfps",
      "winnow_cfps(text) - composite winnowing fingerprints: distinct packed (minimum, minimum-8-windows-later) pairs of the 4-window minima sequence; the template-robust pair-finder feature")(WinnowCfpsExpr),
    unary("cdc_chunks",
      "cdc_chunks(text) - content-defined chunks (SOSP'01 LBFS): cut after every byte whose trailing base-31 8-gram hash of lower(text) is 0 mod 64")(CdcChunksExpr),
    binary("cell_dists",
      "cell_dists(emb, codebook) - squared-L2 distance from array<double> to every centroid of array<array<double>> in one pass")(CellDistsExpr),
    binary("pq_encode",
      "pq_encode(emb, codebooks) - product-quantization codes: per subspace of array<array<array<double>>>, the argmin-squared-L2 centroid index for emb's sub-vector")(PqEncodeExpr),
    unary("pair_structs",
      "pair_structs(ids) - all ordered in-list pairs of array<bigint>: struct(a, b) for every (x, y) with y > x, in list order")(PairStructsExpr),
    binary("ngrams_ws",
      "ngrams_ws(text, n) - all word n-grams of lower(text) in order, tokens = Java split(\"\\\\s+\", -1) fields, grams joined by single spaces; empty array when fewer than n tokens or NULL input")(NgramsWsExpr),
    binary("cosine_sim",
      "cosine_sim(a, b) - fused cosine similarity of two array<double>")(CosineSimExpr),
    binary("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (standard params: window max/2-1, prefix boost 0.1 up to 4 chars above 0.7)")(JaroWinklerExpr),
    // A native AGGREGATE, not a scalar kernel: HLL distinct-count with
    // a 64-byte register buffer per group (merge = bytewise max).
    Fn("hll_est", classOf[HllEstAgg],
      "hll_est(value[, registers]) - HyperLogLog distinct estimate; md5-derived " +
        "registers (default m=64; 128..65536 buys ~1.04/sqrt(m) error for m bytes " +
        "of partial state per group), integer estimator with linear-counting " +
        "small-range correction", Set(1, 2),
      c => if (c.size == 1) HllEstAgg(c.head) else HllEstAgg(c(0), c(1))))

  override def apply(ext: SparkSessionExtensions): Unit = {
    fns.foreach { fn =>
      ext.injectFunction((
        FunctionIdentifier(fn.name),
        new ExpressionInfo(fn.cls.getName, fn.name, fn.usage),
        (children: Seq[Expression]) => {
          if (!fn.arities.contains(children.length))
            throw new IllegalArgumentException(
              s"${fn.name} expects ${fn.arities.toSeq.sorted.mkString(" or ")} " +
                s"argument(s), got ${children.length}")
          fn.build(children)
        }))
    }
    // Optimizer rule, not a function: bounded-levenshtein predicates
    // rewrite to the early-exit threshold form wherever they appear.
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
  }
}
