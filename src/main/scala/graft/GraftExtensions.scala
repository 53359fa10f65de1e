package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.plans.{CharNgramsExpr, DotProductExpr, SimHash60Expr}

/**
 * `SparkSessionExtensions` installer: registers the engine's
 * STATELESS native expressions as SQL functions, so a pure-SQL user
 * (`spark.sql(...)`, thrift, notebooks) reaches the same codegen
 * kernels the DataFrame API uses — the library surface the brief's
 * "registered via SparkSessionExtensions" path asks for. Install with
 * `.withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.GraftExtensions`.
 *
 *  - `graft_simhash60(array<string>) → bigint` — the t08 fingerprint;
 *  - `graft_dot(array, array) → double` — the fused float/double dot
 *    kernel behind the cosine family;
 *  - `graft_char_ngrams(string, n) → array<string>` — the O(len)
 *    codepoint n-gram walk behind language ID (n must be a literal:
 *    it parameterizes the generated code);
 *  - `graft_normalize_url(url) → string` — the full t47
 *    canonicalization (composite of built-in expressions, so it
 *    rides WholeStageCodegen like any SQL function);
 *  - `graft_registrable_domain(host, array(...suffixes)) → string` —
 *    eTLD+1 under a caller-supplied suffix snapshot (the suffix array
 *    must be foldable: it compiles into the plan as a literal, the
 *    same policy as the DataFrame form).
 *
 * Broadcast-model expressions (BPE encode, Bloom probe, language-ID
 * scoring) are deliberately NOT SQL functions — their model argument
 * is session state a SQL literal cannot carry; they stay DataFrame
 * API entry points.
 *
 * It also installs the planner strategy for the per-key append
 * operator ([[org.apache.spark.sql.graft.PerKeyAppend]]) behind the
 * pbp parse, pitcher and name passes. The strategy object loads when
 * the session's planner is first built, not when the session starts.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.PerKeyAppendStrategy)
    ext.injectFunction((FunctionIdentifier("graft_simhash60"),
      info("graft_simhash60", "graft_simhash60(tokens) - 60-bit simhash of a token array"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash60 takes exactly 1 argument")
        SimHash60Expr(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - double-accumulated dot product of two numeric arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes exactly 2 arguments")
        DotProductExpr(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_char_ngrams"),
      info("graft_char_ngrams", "graft_char_ngrams(s, n) - all codepoint n-grams of s, in order"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_char_ngrams takes exactly 2 arguments")
        args(1) match {
          case Literal(n: Int, IntegerType) => CharNgramsExpr(args.head, n)
          case other => throw new IllegalArgumentException(
            s"graft_char_ngrams: n must be an integer literal, got $other")
        }
      }))
    // Column-composition functions: the builder re-enters the same
    // DataFrame-API composition through the bridge, so the SQL text
    // path and the Column path produce the IDENTICAL expression tree
    // (one implementation, two surfaces — no drift possible).
    import org.apache.spark.sql.graft.ColumnBridge
    ext.injectFunction((FunctionIdentifier("graft_normalize_url"),
      info("graft_normalize_url",
        "graft_normalize_url(url) - CCNet/RefinedWeb URL canonicalization (t47 rules)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_normalize_url takes exactly 1 argument")
        ColumnBridge.catalystExpression(
          graft.functions.UrlFunctions.normalizeUrl(ColumnBridge.column(args.head)))
      }))
    ext.injectFunction((FunctionIdentifier("graft_registrable_domain"),
      info("graft_registrable_domain",
        "graft_registrable_domain(host, array(suffixes)) - eTLD+1 by longest suffix match"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_registrable_domain takes exactly 2 arguments")
        require(args(1).resolved && args(1).foldable,
          "graft_registrable_domain: the suffix set must be a foldable array literal " +
            "(it compiles into the plan, the same policy as the DataFrame form)")
        val arr = args(1).eval()
        require(arr != null, "graft_registrable_domain: suffix array must not be null")
        val suffixes = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(org.apache.spark.sql.types.StringType)
          .map(s => Option(s).map(_.toString).getOrElse(
            throw new IllegalArgumentException(
              "graft_registrable_domain: null suffix in array")))
          .toSeq
        ColumnBridge.catalystExpression(
          graft.functions.UrlFunctions.registrableDomain(
            ColumnBridge.column(args.head), suffixes))
      }))
    ext.injectFunction((FunctionIdentifier("graft_sign_code"),
      info("graft_sign_code",
        "graft_sign_code(vec, dim, bits) - packed sign-bit binary code (the v20 32x tier)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_sign_code takes exactly 3 arguments")
        (args(1), args(2)) match {
          case (Literal(d: Int, IntegerType), Literal(b: Int, IntegerType)) =>
            ColumnBridge.catalystExpression(
              graft.functions.VectorFunctions.signLshBucket(
                ColumnBridge.column(args.head), d, b))
          case _ => throw new IllegalArgumentException(
            "graft_sign_code: dim and bits must be integer literals " +
              "(they parameterize the embedded hyperplane literals)")
        }
      }))
    ext.injectFunction((FunctionIdentifier("graft_hamming"),
      info("graft_hamming",
        "graft_hamming(a, b) - Hamming distance between two packed bigint codes"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hamming takes exactly 2 arguments")
        ColumnBridge.catalystExpression(
          org.apache.spark.sql.functions.bit_count(
            ColumnBridge.column(args.head).bitwiseXOR(ColumnBridge.column(args(1)))))
      }))
  }
}
