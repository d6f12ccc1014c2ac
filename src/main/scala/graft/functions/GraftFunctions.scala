package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType

/** graft's native Catalyst functions, available to `expr(...)` / SQL
  * like any built-in once registered:
  *
  *   graft_fingerprint64(str)       — codegen'd rolling-hash (scalar)
  *   graft_json_number(json, key)   — in-place scan of a flat JSON int object (NULL = undecided)
  *   graft_cosine(a, b)             — fused cosine similarity
  *   graft_dot(a, b)                — fused dot product (PQ/ADC kernel)
  *   graft_sorted_intersect(a, b)   — two-pointer merge intersection count
  *   graft_positions_equal(a, b)    — signature agreement count
  *   graft_minhash(arr, k)          — k-min-hash signature
  *   graft_simhash(arr)             — fused 64-bit SimHash
  *   graft_auc(label, score)        — histogram AUC (aggregate)
  *   graft_freq_items(col, k)       — Misra-Gries heavy hitters (aggregate)
  *   graft_hashed_ngrams(w, k)      — sorted-distinct hashed word k-grams
  *   graft_hashed_ngrams_pos(w, k)  — positional hashed k-grams (span dedup)
  *   graft_span_scrub(w, ss, k)     — merge + scrub duplicated spans (one pass)
  *   graft_multi_scrub(w, ss, k, ls, m) — union line+span scrub → kept tokens
  *   graft_ml_term_index(t, n)      — MLlib HashingTF term index (closed-form LR)
  *   graft_token_profile(w)         — one-pass quality/lang-id token counts
  *   graft_token_hashes(w)          — per-token xxhash64 array
  *   graft_greedy_pack(ns, budget)  — doc-boundary-preserving pack offsets
  *   graft_bloom_agg(h, n, bits)    — mergeable BloomFilter aggregate
  *   graft_bloom_contains(bf, h)    — BloomFilter membership probe
  *
  * Two wiring paths share these descriptions: [[register]] installs
  * them imperatively on a built session; [[graft.GraftExtensions]]
  * injects them via `spark.sql.extensions` at session build time.
  */
object GraftFunctions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Arity guard shared by every builder: a wrong argument count in
    * SQL surfaces as the same `WRONG_NUM_ARGS` AnalysisException Spark
    * raises for built-in functions (error class + parameters, caught
    * and positioned by the analyzer), not an
    * IndexOutOfBoundsException from `children(i)`. */
  private def arity(name: String, n: Int, children: Seq[Expression])
      (build: => Expression): Expression = {
    if (children.length != n)
      // Same error class + parameters QueryCompilationErrors
      // .wrongNumArgsError produces for built-ins (that helper is
      // private[sql], so raise the classed exception directly).
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum"  -> n.toString,
          "actualNum"    -> children.length.toString,
          "docroot"      -> "https://spark.apache.org/docs/latest"))
    build
  }

  val descriptions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("graft_fingerprint64"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_fingerprint64"),
      (children: Seq[Expression]) => arity("graft_fingerprint64", 1, children)(
        RollingHash(children.head))),
    (FunctionIdentifier("graft_json_number"),
      new ExpressionInfo(classOf[JsonNumberAt].getName, "graft_json_number"),
      (children: Seq[Expression]) => arity("graft_json_number", 2, children)(
        JsonNumberAt(children(0), children(1)))),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => arity("graft_cosine", 2, children)(
        CosineSim(children(0), children(1)))),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => arity("graft_dot", 2, children)(
        DotProduct(children(0), children(1)))),
    (FunctionIdentifier("graft_sorted_intersect"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_sorted_intersect"),
      (children: Seq[Expression]) => arity("graft_sorted_intersect", 2, children)(
        SortedIntersectCount(children(0), children(1)))),
    (FunctionIdentifier("graft_auc"),
      new ExpressionInfo(classOf[HistAuc].getName, "graft_auc"),
      (children: Seq[Expression]) => arity("graft_auc", 2, children) {
        val asDouble = children.map(Cast(_, DoubleType))
        HistAuc(asDouble(0), asDouble(1)).toAggregateExpression()
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => arity("graft_simhash", 1, children)(
        SimHash64(children.head))),
    (FunctionIdentifier("graft_positions_equal"),
      new ExpressionInfo(classOf[PositionsEqual].getName, "graft_positions_equal"),
      (children: Seq[Expression]) => arity("graft_positions_equal", 2, children)(
        PositionsEqual(children(0), children(1)))),
    (FunctionIdentifier("graft_freq_items"),
      new ExpressionInfo(classOf[FreqItemsSketch].getName, "graft_freq_items"),
      (children: Seq[Expression]) => arity("graft_freq_items", 2, children) {
        FreqItemsSketch(children(0), foldableInt("graft_freq_items", children(1)))
          .toAggregateExpression()
      }),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => arity("graft_minhash", 2, children)(
        MinHashSig(children(0), foldableInt("graft_minhash", children(1))))),
    (FunctionIdentifier("graft_hashed_ngrams"),
      new ExpressionInfo(classOf[HashedNgrams].getName, "graft_hashed_ngrams"),
      (children: Seq[Expression]) => arity("graft_hashed_ngrams", 2, children)(
        HashedNgrams(children(0), foldableInt("graft_hashed_ngrams", children(1))))),
    (FunctionIdentifier("graft_hashed_ngrams_pos"),
      new ExpressionInfo(classOf[HashedNgramsPos].getName, "graft_hashed_ngrams_pos"),
      (children: Seq[Expression]) => arity("graft_hashed_ngrams_pos", 2, children)(
        HashedNgramsPos(children(0), foldableInt("graft_hashed_ngrams_pos", children(1))))),
    (FunctionIdentifier("graft_span_scrub"),
      new ExpressionInfo(classOf[SpanScrub].getName, "graft_span_scrub"),
      (children: Seq[Expression]) => arity("graft_span_scrub", 3, children)(
        SpanScrub(children(0), children(1), foldableInt("graft_span_scrub", children(2))))),
    (FunctionIdentifier("graft_multi_scrub"),
      new ExpressionInfo(classOf[MultiScrub].getName, "graft_multi_scrub"),
      (children: Seq[Expression]) => arity("graft_multi_scrub", 5, children)(
        MultiScrub(children(0), children(1), children(3),
          foldableInt("graft_multi_scrub", children(2)),
          foldableInt("graft_multi_scrub", children(4))))),
    (FunctionIdentifier("graft_ml_term_index"),
      new ExpressionInfo(classOf[MlTermIndex].getName, "graft_ml_term_index"),
      (children: Seq[Expression]) => arity("graft_ml_term_index", 2, children)(
        MlTermIndex(children(0), foldableInt("graft_ml_term_index", children(1))))),
    (FunctionIdentifier("graft_token_profile"),
      new ExpressionInfo(classOf[TokenProfile].getName, "graft_token_profile"),
      (children: Seq[Expression]) => arity("graft_token_profile", 1, children)(
        TokenProfile(children.head))),
    (FunctionIdentifier("graft_token_hashes"),
      new ExpressionInfo(classOf[TokenHashes].getName, "graft_token_hashes"),
      (children: Seq[Expression]) => arity("graft_token_hashes", 1, children)(
        TokenHashes(children.head))),
    (FunctionIdentifier("graft_greedy_pack"),
      new ExpressionInfo(classOf[GreedyPackOffsets].getName, "graft_greedy_pack"),
      (children: Seq[Expression]) => arity("graft_greedy_pack", 2, children)(
        GreedyPackOffsets(children(0), foldableInt("graft_greedy_pack", children(1))))),
    // Spark ships a mergeable BloomFilter aggregate + probe for its
    // internal runtime join filters but does not expose them to SQL;
    // graft surfaces them for user-level semi-join reduction (the
    // bloom-prefilter decontamination path). Args: (xxhash64 LONG,
    // estimated items, num bits).
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => arity("graft_bloom_agg", 3, children) {
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2)).toAggregateExpression()
      }),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => arity("graft_bloom_contains", 2, children)(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1)))))

  /** Constant-int parameter handling shared by the parameterized
    * functions: accept any FOLDABLE int expression (1+1, CAST(2 AS
    * INT), ...) the way Spark built-ins take constant int parameters;
    * NON_FOLDABLE_ARGUMENT only when the argument genuinely isn't
    * foldable, datatype mismatch when it folds to a non-integer. */
  private def foldableInt(name: String, kExpr: Expression): Int =
    if (!kExpr.foldable) throw new AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName"  -> s"`$name`",
        "paramName" -> "`k`",
        "paramType" -> "\"INT\""))
    else kExpr.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case _ => throw new AnalysisException(
        errorClass = "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        messageParameters = Map(
          "sqlExpr"      -> s""""$name"""",
          "paramIndex"   -> "second",
          "requiredType" -> "\"INT\"",
          "inputSql"     -> s"\"${kExpr.sql}\"",
          "inputType"    -> s"\"${kExpr.dataType.sql}\""))
    }

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
  }
}
