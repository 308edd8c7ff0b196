package graft.core

import org.apache.spark.sql.{graftbridge, Column}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, SquaredDistance}

/** Vector math over `array<double>` columns — the single Column-level entry
  * point for it. No UDFs, so expressions stay serializable and
  * pushdown-safe, and every operation has a 1:1 DuckDB list-function
  * replay for the oracles.
  *
  * Generalizes the reference's hard-coded 2-D Euclidean distance
  * (master.py:90-94, mapper.py:26-30) to N-D, which is the proto-declared
  * semantics (kmeans.proto:5-7).
  *
  * Squared distance and dot product (and so `dist`, `norm`, `cosine`) build
  * the codegen [[graft.functions.PairwiseFold]] kernels directly; the
  * elementwise operations are higher-order-function compositions.
  * Accumulation is sequential left-to-right over the array, so results are
  * bit-deterministic for a given element order.
  */
object Vec {

  private def kernel(k: (Expression, Expression) => Expression, a: Column, b: Column): Column =
    graftbridge.toColumn(k(graftbridge.toExpression(a), graftbridge.toExpression(b)))

  /** Squared Euclidean distance: sum_i (a_i - b_i)^2. */
  def sqDist(a: Column, b: Column): Column = kernel(SquaredDistance, a, b)

  /** Euclidean distance (reference: sqrt((x2-x1)^2 + (y2-y1)^2), mapper.py:26-30). */
  def dist(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  /** Dot product: sum_i a_i * b_i. */
  def dot(a: Column, b: Column): Column = kernel(DotProduct, a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Elementwise sum (reference reducer's per-dimension accumulation loop,
    * /root/reference/reducer.py:23-25).
    */
  def add(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  /** Scalar multiply. */
  def scale(a: Column, k: Column): Column = transform(a, x => x * k)
}
