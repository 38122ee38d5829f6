package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

import scala.util.Random

/** All `numTables` hyperplane LSH bucket ids of a vector in ONE fused
  * loop over a flat primitive plane array (static impl object, the
  * CdcChunks/PiiScan pattern — codegen emits a single static call).
  *
  * Replaces the `numTables × planesPerTable` composition of
  * `when(DotProduct(vec, typedLit(plane)) >= 0, 1<<j)` sub-trees that
  * the band builders inlined into one projection: at 12 tables × 4
  * planes the generated projection method grew past what the JIT will
  * compile and the whole band build ran de-optimized — ~120 CPU-s per
  * evaluation for 20k × 64-float rows at sf1.0 (~2 µs per 64-element
  * dot), measured piecewise. Here the same 3072
  * multiply-adds per row are a JIT-friendly triple loop.
  *
  * BIT-PARITY with the composition it replaces (bucket ids feed
  * rows-only oracles — they must not move):
  *   - plane coefficients: `Random(seed + 7919·t)`, `numPlanes × dim`
  *     draws of ±1.0 in the same order as Similarity.planes;
  *   - dot: left-to-right double accumulation of
  *     `vec(i).toDouble * plane(i)` — exactly [[DotProduct]];
  *   - sign test: Spark's `>=` on doubles is NaN-safe (NaN ≥ 0 is
  *     TRUE — nanSafeCompareDoubles orders NaN above everything), so
  *     a NaN dot sets the bit here too;
  *   - degenerate input: a NULL vector, a vector whose length ≠ `dim`,
  *     or any NULL element made every `DotProduct` NULL, the `when`s
  *     fall through to `otherwise(0)`, and every bucket id 0 — this
  *     expression returns the all-zero bucket array for those rows
  *     (and is therefore itself never NULL, like the when-sum).
  *
  * Output: array<int> of length `numTables`, element t = table t's
  * bucket id in [0, 2^planesPerTable).
  */
case class HyperplaneBuckets(
    child: Expression,
    numTables: Int,
    planesPerTable: Int,
    dim: Int,
    seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets expects array<float|double> input, got " +
        s"${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // degenerate vectors produce the all-zero bucket array, never NULL
  // (parity with the when(...).otherwise(0) sum this replaces)
  override def nullable: Boolean = false

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Flat [t][j][i] plane coefficients — identical draw order to
    * Similarity.planes(planesPerTable, dim, seed + 7919·t). */
  @transient private lazy val planeData: Array[Double] = {
    val out = new Array[Double](numTables * planesPerTable * dim)
    var t = 0
    while (t < numTables) {
      val rnd = new Random(seed + 7919L * t)
      var j = 0
      while (j < planesPerTable) {
        var i = 0
        while (i < dim) {
          out((t * planesPerTable + j) * dim + i) =
            if (rnd.nextBoolean()) 1.0 else -1.0
          i += 1
        }
        j += 1
      }
      t += 1
    }
    out
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    HyperplaneBucketsImpl.buckets(v.asInstanceOf[ArrayData], planeData,
      numTables, planesPerTable, dim, elemIsFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val planesRef = ctx.addReferenceObj("planes", planeData, "double[]")
    val javaType = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = graft.plans.HyperplaneBucketsImpl.buckets(
        ${c.isNull} ? null : ${c.value}, $planesRef,
        $numTables, $planesPerTable, $dim, $elemIsFloat);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBuckets = copy(child = newChild)
}

/** The bucket loop behind [[HyperplaneBuckets]] — standalone object so
  * codegen calls it statically. */
object HyperplaneBucketsImpl {

  def buckets(v: ArrayData, planes: Array[Double], numTables: Int,
      planesPerTable: Int, dim: Int, elemFloat: Boolean): GenericArrayData = {
    val out = new Array[Int](numTables)
    if (v == null || v.numElements() != dim)
      return new GenericArrayData(out)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return new GenericArrayData(out)
      i += 1
    }
    var t = 0
    while (t < numTables) {
      var b = 0
      var j = 0
      while (j < planesPerTable) {
        val off = (t * planesPerTable + j) * dim
        var dot = 0.0
        var k = 0
        while (k < dim) {
          val x = if (elemFloat) v.getFloat(k).toDouble else v.getDouble(k)
          dot += x * planes(off + k)
          k += 1
        }
        // Spark's `>=` on doubles is NaN-safe: NaN compares above 0
        if (dot >= 0.0 || java.lang.Double.isNaN(dot)) b |= (1 << j)
        j += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }
}
