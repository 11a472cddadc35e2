package graft.operators

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.SparkSpec
import graft.functions.expr.GramUpperTriangle

/** A Gram cell whose exact sum overflows DECIMAL(38,12) is NULL — the
  * declared type says its elements may be, and the power iteration
  * treats such a cell like the composed decimal `sum` form's NULL
  * (skipped in the matvec) instead of failing. */
class GramOverflowSpec extends SparkSpec {

  test("an overflowing cell evaluates to null under a nullable element type") {
    val g = GramUpperTriangle(BoundReference(0, ArrayType(DoubleType), true), 2)
    assert(g.dataType == ArrayType(
      org.apache.spark.sql.types.DecimalType(38, 12), containsNull = true))
    val buf = g.createAggregationBuffer()
    // cell 0 holds 2^127 - 1 unscaled: past DECIMAL(38,12) capacity
    buf(0) = -1L
    buf(1) = Long.MaxValue
    val out = g.eval(buf).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.isNullAt(0))
    assert(!out.isNullAt(1) && !out.isNullAt(2))
  }

  test("topSingularVector survives an overflowed Gram cell") {
    import spark.implicits._
    // 120 × (999999999999.0)² ≈ 1.2e38 unscaled: inside the 128-bit
    // accumulator, outside DECIMAL(38,12)
    val embs = Seq.fill(120)(Seq(999999999999.0, 1.0)).toDF("embedding")
    val out = Knn.topSingularVector(embs, "embedding", dim = 2, iters = 2)
      .collect()
    assert(out.length == 2)
    assert(out.forall(r => !r.getDouble(1).isNaN && !r.getDouble(2).isNaN))
  }
}
