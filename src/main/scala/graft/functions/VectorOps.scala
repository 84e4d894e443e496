package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns, built on
  * the native [[DotProduct]] codegen expression (no UDF serde, stays in
  * whole-stage codegen; the earlier higher-order-function formulation
  * was interpreted and ~1µs/element).
  *
  * Determinism: a sequential left fold with float->double cast BEFORE
  * each multiply — the exact op sequence DuckDB's
  * `list_sum(list_transform(list_zip(a,b), x -> CAST(..)*CAST(..)))`
  * performs, so oracle comparison is bit-exact. (DuckDB's own
  * `list_dot_product` accumulates in float and is NOT parity-safe.)
  */
object VectorOps {

  /** Dot product with double accumulation (native codegen expression). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftx.DotProduct.column(a, b)

  /** L2 norm (same fold order as `dot` for cross-engine parity). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** 6-decimal sim rounding for the pair fan-outs — the native
    * half-away-from-zero expression (exactly DuckDB's round(DOUBLE, 6)
    * arithmetic, see [[org.apache.spark.sql.graftx.RoundAwayFromZero]]).
    * Spark's builtin round() allocates a BigDecimal per row and
    * measured 4x the cost of the 64-float dot it decorates on the
    * 320M-candidate kNN join (TIMEONE.md, round 9).
    */
  def simRound6(c: Column): Column =
    org.apache.spark.sql.graftx.RoundAwayFromZero.column(c, 6)

  /** Entry-point schema guard for the ANN operators: they collect and
    * decode (vec_id, embedding) rows with typed getters, so a wrongly-
    * typed caller column must fail HERE with a readable message, not
    * deep in a task as a ClassCastException (the connected-components
    * lesson: silent type assumptions on caller columns are bugs).
    * Returns the frame with vec_id normalized to BIGINT so downstream
    * getLong/typed-Dataset reads are safe for any integral id.
    */
  def requireVectors(df: org.apache.spark.sql.DataFrame,
      what: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val idType = df.schema("vec_id").dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(idType),
      s"$what.vec_id must be an integral type, got $idType")
    df.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => ()
      case other => throw new IllegalArgumentException(
        s"$what.embedding must be ARRAY<FLOAT>, got $other " +
          "(cast(embedding as array<float>) upstream if needed)")
    }
    if (idType == LongType) df
    else df.withColumn("vec_id", col("vec_id").cast("long"))
  }
}
