// Lives under org.apache.spark.sql for the same private[sql] bridging
// reasons as the rest of graftx.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, CurrentRow, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, Literal, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: `Filter(rank <= k)` directly above a single-function
  * `Window(row_number() OVER (PARTITION BY p ORDER BY o))` becomes the
  * native [[TopKPerKeyNode]] — the window's full shuffle-and-sort of
  * EVERY row is replaced by bounded per-key heaps with map-side partial
  * reduction (at most k rows per key per input partition reach the
  * exchange).
  *
  * The rewrite preserves the plan contract exactly: the rank column is
  * re-emitted under the original attribute id (cast back to the
  * window's IntegerType), so downstream operators resolve unchanged.
  * Fires only on the unambiguous shape (one window expression, a
  * literal bound, rank not referenced below) — everything else keeps
  * the stock Window path.
  */
object TopKPerKeyRewrite extends Rule[LogicalPlan] {

  /** Memory guard: per-task state is k rows per key seen in the
    * partition, so unbounded k must keep the stock sort-based path.
    */
  private val MaxK = 10000

  private def rowNumberAlias(w: Window): Option[(Alias, Seq[Expression], Seq[org.apache.spark.sql.catalyst.expressions.SortOrder])] =
    w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(ps, os,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _))
          // ps must be non-empty: the native exec requires
          // ClusteredDistribution(keys), which rejects empty clustering —
          // a GLOBAL row_number top-k keeps the stock Window path (it is
          // a single total-order anyway, no per-key heap win).
          // os MAY be empty: a decorrelated LATERAL `ORDER BY .. LIMIT k`
          // carries its order in a child Sort instead (resolved in
          // rewriteFilter) — an order-less window with no such Sort is
          // rejected there.
          if ps.nonEmpty =>
        Some((a, ps, os))
      case _ => None
    }

  /** The filter bound expressed as rank <= k, if the condition is a
    * simple literal comparison on the rank attribute.
    */
  private def rankBound(cond: Expression, rankId: org.apache.spark.sql.catalyst.expressions.ExprId): Option[Int] =
    cond match {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k))
        if a.exprId == rankId => Some(k)
      case LessThan(a: AttributeReference, IntegerLiteral(k))
        if a.exprId == rankId => Some(k - 1)
      case GreaterThanOrEqual(IntegerLiteral(k), a: AttributeReference)
        if a.exprId == rankId => Some(k)
      case GreaterThan(IntegerLiteral(k), a: AttributeReference)
        if a.exprId == rankId => Some(k - 1)
      // rank = 1 <=> rank <= 1 (row_number is 1-based and unique per
      // key) — the ubiquitous keep-first-per-key shape. Only k = 1
      // maps: rank = k for k > 1 selects a single middle rank, which
      // top-k can't express.
      case EqualTo(a: AttributeReference, IntegerLiteral(1))
        if a.exprId == rankId => Some(1)
      case EqualTo(IntegerLiteral(1), a: AttributeReference)
        if a.exprId == rankId => Some(1)
      case _ => None
    }

  /** The Filter(rank-bound)-over-Window conversion, shared by the
    * optimizer rule and the planner-strategy BACKSTOP in
    * [[TopKPerKeyStrategy]]: some shapes only join the main plan tree
    * after the injected-rule batches have run — a correlated LATERAL
    * `ORDER BY ... LIMIT 1` decorrelates into exactly this
    * Filter(rn <= 1, Window(row_number)) in the late RewriteSubquery
    * batch — so the strategy, which sees the FULLY optimized plan,
    * re-applies the same match at planning time.
    */
  def rewriteFilter(f: Filter): Option[LogicalPlan] = f match {
    case Filter(cond, w: Window) =>
      rowNumberAlias(w).flatMap { case (a, ps, osWin) =>
        rankBound(cond, a.exprId).flatMap { k =>
          if (k < 1)
            // rank <= 0 can never hold: empty relation via trivial filter
            Some(Filter(Literal(false), w))
          else if (k > MaxK) None
          else {
            // Spark's own InferWindowGroupLimit may already have planted
            // a WindowGroupLimit below the Window; the native node
            // subsumes it (and its sort), so strip it from the child
            val below = w.child match {
              case wgl: WindowGroupLimit => wgl.child
              case c => c
            }
            // (order, contract projection, heap input). An order-less
            // window spec (the decorrelated-LATERAL shape) reads its
            // intended order from the child's GLOBAL Sort — which the
            // heap then makes redundant, so the rewrite also deletes
            // that sort's full range-exchange from the plan.
            val resolved: Option[(Seq[org.apache.spark.sql.catalyst.expressions.SortOrder],
                Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
                LogicalPlan)] =
              if (osWin.nonEmpty) Some((osWin, below.output, below))
              else below match {
                case org.apache.spark.sql.catalyst.plans.logical.Sort(so, true, sc, _) =>
                  Some((so, below.output, sc))
                case Project(pl,
                    org.apache.spark.sql.catalyst.plans.logical.Sort(so, true, sc, _))
                    if pl.forall(_.references.subsetOf(sc.outputSet)) &&
                      so.forall(_.references.subsetOf(sc.outputSet)) =>
                  Some((so, pl, sc))
                case _ => None // no order anywhere: keep the stock path
              }
            resolved.map { case (os, projList, input) =>
              val rankL = AttributeReference(a.name, LongType, nullable = false)()
              Project(
                projList :+
                  Alias(Cast(rankL, IntegerType), a.name)(exprId = a.exprId),
                TopKPerKeyNode(ps, os, k, rankL, input))
            }
          }
        }
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(_, _: Window) => rewriteFilter(f).getOrElse(f)
  }
}

/** SparkSessionExtensions entry point: enables the graft planner
  * strategy and the window-top-k rewrite engine-wide.
  *
  *   spark.sql.extensions=org.apache.spark.sql.graftx.GraftExtensions
  * or `.withExtensions(new GraftExtensions)` on a session builder
  * (what `graft.Graft.session` does)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TopKPerKeyRewrite)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}

/** The native expressions as SQL scalar functions: spark.sql users get
  * the same codegen'd hot loops as the DataFrame API. Injected by
  * [[GraftExtensions]] at session build, or registered onto an
  * EXISTING session with [[GraftFunctions.register]] (extensions only
  * apply when getOrCreate actually creates).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "internal")

  /** Config-style arguments (band counts, window sizes) must be plan
    * constants: the expressions bake them into codegen, so only
    * foldable int literals are accepted from SQL.
    */
  private def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an INT literal, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("minhash_bands"),
      info("minhash_bands",
        "minhash_bands(shingles, bands, rowsPerBand) - LSH band keys"),
      (args: Seq[Expression]) => MinHashBands(args(0),
        intLit(args(1), "minhash_bands", 1),
        intLit(args(2), "minhash_bands", 2))),
    (FunctionIdentifier("text_winnow"),
      info("text_winnow",
        "text_winnow(s[, k, w]) - MOSS winnowing fingerprints"),
      (args: Seq[Expression]) =>
        if (args.size == 1) TextWinnow(args(0), 7, 4)
        else TextWinnow(args(0),
          intLit(args(1), "text_winnow", 1),
          intLit(args(2), "text_winnow", 2))),
    (FunctionIdentifier("lemmatize_nouns"),
      info("lemmatize_nouns",
        "lemmatize_nouns(arr) - noun lemmatization over a string array"),
      (args: Seq[Expression]) => LemmatizeNouns(args(0))),
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - double[] dot product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("jaccard_sorted"),
      info("jaccard_sorted", "jaccard_sorted(a, b) - jaccard of sorted long[]"),
      (args: Seq[Expression]) => JaccardSorted(args(0), args(1))),
    (FunctionIdentifier("text_shingles"),
      info("text_shingles", "text_shingles(s) - sorted trigram shingle hashes"),
      (args: Seq[Expression]) => TextShingles(args(0))),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(s) - 64-bit simhash of text"),
      (args: Seq[Expression]) => TextSimHash(args(0))),
    (FunctionIdentifier("interleave_bits"),
      info("interleave_bits", "interleave_bits(x, y) - Morton z-value"),
      (args: Seq[Expression]) => InterleaveBits(args(0), args(1))),
    (FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB semantics)"),
      (args: Seq[Expression]) => JaroWinkler(args(0), args(1))))

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
