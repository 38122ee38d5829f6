package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Product-quantization codebooks (Jégou et al., "Product
  * quantization for nearest neighbor search") in flat primitive form,
  * the state [[PqEncode]] and [[PqAdcTable]] read from the plan
  * reference instead of from a per-row column.
  *
  *   - `books`: `[set][s][j][i]` — `numSets` book sets of `numSub`
  *     sub-codebooks of `codebookK` centroids over `subDim`-dim
  *     slices. One set (global books) or one per coarse cell
  *     (`perCellBooks`, the set index is the row's cell).
  *   - `halfNormSq`: `[set][s][j]` = `‖c‖²/2`, the `‖c‖²` summed as
  *     `c.map(x => x * x).sum` and halved in double, as the literal
  *     codebook column it replaces computed it.
  *   - `centroids`/`centOff`: the coarse centroids, cell `c` at
  *     `centroids(centOff(c) until centOff(c + 1))` — ragged, because
  *     a cell mean spans every populated position of its rows. `null`
  *     when the encode quantizes raw vectors, not residuals. */
final case class PqCodebook(
    books: Array[Double],
    halfNormSq: Array[Double],
    numSets: Int,
    numSub: Int,
    codebookK: Int,
    subDim: Int,
    perCellBooks: Boolean,
    centroids: Array[Double],
    centOff: Array[Int]) {

  def residual: Boolean = centroids != null
  def numCells: Int = if (residual) centOff.length - 1 else 0

  override def toString: String =
    s"pq(sets=$numSets, sub=$numSub, k=$codebookK, subDim=$subDim" +
      (if (residual) s", cells=$numCells)" else ")")
}

object PqCodebook {

  /** Flatten `sets(set)(s)(j)` sub-codebooks and, for a residual
    * encode, the coarse centroids indexed by cell (`null` for none). */
  def apply(
      sets: Seq[Array[Array[Array[Double]]]],
      perCellBooks: Boolean,
      centroids: Seq[Array[Double]]): PqCodebook = {
    val numSub = sets.head.length
    val k = sets.head.head.length
    val subDim = sets.head.head.head.length
    val books = new Array[Double](sets.length * numSub * k * subDim)
    val half = new Array[Double](sets.length * numSub * k)
    for ((set, b) <- sets.zipWithIndex; s <- 0 until numSub; j <- 0 until k) {
      val c = set(s)(j)
      require(c.length == subDim, s"book entry of length ${c.length} != $subDim")
      System.arraycopy(c, 0, books, ((b * numSub + s) * k + j) * subDim, subDim)
      half((b * numSub + s) * k + j) = c.map(x => x * x).sum / 2
    }
    val (cents, off) =
      if (centroids == null) (null, null)
      else (centroids.flatten.toArray, centroids.scanLeft(0)(_ + _.length).toArray)
    PqCodebook(books, half, sets.length, numSub, k, subDim, perCellBooks,
      cents, off)
  }
}

/** One native call per row into [[ProductQuantizerImpl]]: `left` the
  * vector (array<float|double>), `right` the cell (int), the codebook
  * a plan reference. Never NULL. */
sealed trait PqKernelCall extends BinaryExpression {
  def pq: PqCodebook
  protected def implMethod: String
  protected def call(v: ArrayData, cellNull: Boolean, cell: Int): Any

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (v, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float|double>, int), got " +
          s"(${v.simpleString}, ${c.simpleString})")
    }

  protected def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val cell = right.eval(input)
    call(left.eval(input).asInstanceOf[ArrayData], cell == null,
      if (cell == null) 0 else cell.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val c = right.genCode(ctx)
    val pqRef = ctx.addReferenceObj("pq", pq, classOf[PqCodebook].getName)
    ev.copy(code = code"""
      ${v.code}
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.plans.ProductQuantizerImpl.$implMethod(
          ${v.isNull} ? null : ${v.value}, ${c.isNull}, ${c.value}, $pqRef,
          $elemIsFloat);
      """, isNull = FalseLiteral)
  }
}

/** Product-quantization encode of one vector per row in ONE native
  * call ([[ProductQuantizerImpl.encode]], the HyperplaneBuckets
  * pattern): optionally subtract the row's cell centroid, then per
  * subspace the argmin-L2 code over the row's book set, plus the ADC
  * reconstruction error `__qerr`.
  *
  * Output: struct<codes: array<int>, qerr: double>, never NULL.
  *
  * BIT-PARITY with the higher-order-function composition it replaces
  * (`zip_with` residual, `transform` scores over a literal packed
  * codebook, `array_position(array_max)` argmax, `greatest` error —
  * kept as the test-side oracle in `Oracles`):
  *   - residual `r = x − c` in double over `max(len x, len c)`
  *     positions; a position past either end, or a NULL element, is
  *     NULL (`zip_with` pads with NULL); without centroids `r = x`;
  *   - score of book entry `j` in subspace `s`: the left-to-right
  *     double dot of the slice `r[s·subDim, (s+1)·subDim)` with the
  *     entry ([[DotProduct]]'s accumulation) minus `halfNormSq`;
  *   - code = index of the maximum score under Spark's double order
  *     (NaN above everything, `-0.0 == 0.0`), the FIRST maximum on a
  *     tie (`array_max` keeps the first, `array_position` finds it);
  *   - `qerr = greatest(0.0, ‖r‖² − Σ_s 2·max_s)`: `‖r‖²` the
  *     left-to-right dot of `r` with itself over all its positions,
  *     the sum `((2·max_0 + 2·max_1) + …)`; a NULL term makes it 0.0
  *     and a NaN makes it NaN (Spark's `greatest` skips NULL, ranks
  *     NaN highest).
  *
  * Degenerate rows, exactly what the composition returns:
  *   - NULL vector → every code NULL, `qerr` 0.0;
  *   - NULL element → NULL code in that element's subspace only,
  *     `qerr` 0.0;
  *   - length ≠ dim → a subspace whose slice is short, empty or has a
  *     padded NULL gets a NULL code; positions past `dim` are ignored
  *     by the codes but a padded NULL still makes `qerr` 0.0;
  *   - NaN element → that subspace's scores are all NaN, code 0
  *     (first maximum), `qerr` NaN;
  *   - duplicated book entries → the lower index wins;
  *   - NULL cell or a cell outside the centroid / book-set range →
  *     every code NULL, `qerr` 0.0 (the joins this replaces dropped
  *     such rows; callers filter them first).
  *
  * `cell` is ignored (pass a literal) when the codebook has neither
  * per-cell books nor centroids. */
case class PqEncode(left: Expression, right: Expression, pq: PqCodebook)
    extends PqKernelCall {

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = true), nullable = false),
    StructField("qerr", DoubleType, nullable = false)))

  protected def implMethod: String = "encode"
  protected def call(v: ArrayData, cellNull: Boolean, cell: Int): Any =
    ProductQuantizerImpl.encode(v, cellNull, cell, pq, elemIsFloat)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** The asymmetric-distance (ADC) table of one query vector in ONE
  * native call: `numSub × codebookK` doubles, element `s·codebookK + j`
  * = the left-to-right double dot of the query slice
  * `x[s·subDim, (s+1)·subDim)` with book entry `j` of subspace `s` in
  * the row's book set. A candidate's approximate dot is then `numSub`
  * lookups `table[s·codebookK + code_s]`.
  *
  * BIT-PARITY with the `transform(books_s, c => dot(slice_s, c))`
  * columns it replaces, flattened in subspace order: a subspace whose
  * slice is NULL (NULL vector), short (length ≠ dim) or holds a NULL
  * element has NULL entries (the `transform` over the non-NULL
  * literal books yields `codebookK` NULLs, not a NULL array); a NaN
  * element makes its subspace's entries NaN. A NULL or out-of-range
  * cell (per-cell books only) gives an all-NULL table. The array itself
  * is never NULL. */
case class PqAdcTable(left: Expression, right: Expression, pq: PqCodebook)
    extends PqKernelCall {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  protected def implMethod: String = "adcTable"
  protected def call(v: ArrayData, cellNull: Boolean, cell: Int): Any =
    ProductQuantizerImpl.adcTable(v, cellNull, cell, pq, elemIsFloat)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcTable =
    copy(left = newLeft, right = newRight)
}

/** The loops behind [[PqEncode]] and [[PqAdcTable]] — standalone
  * object so codegen calls them statically. */
object ProductQuantizerImpl {

  /** Spark's `>` on doubles: NaN above everything, `-0.0 == 0.0`. */
  private def gt(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(b)
    else !java.lang.Double.isNaN(b) && a > b

  private def elem(v: ArrayData, i: Int, elemFloat: Boolean): Double =
    if (elemFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** The book set a row reads, or -1 when its cell has none. */
  private def bookSet(cellNull: Boolean, cell: Int, pq: PqCodebook): Int =
    if (!pq.perCellBooks) 0
    else if (cellNull || cell < 0 || cell >= pq.numSets) -1
    else cell

  def encode(v: ArrayData, cellNull: Boolean, cell: Int, pq: PqCodebook,
      elemFloat: Boolean): InternalRow = {
    val numSub = pq.numSub
    val k = pq.codebookK
    val subDim = pq.subDim
    val codes = UnsafeArrayData.fromPrimitiveArray(new Array[Int](numSub))
    val set = bookSet(cellNull, cell, pq)
    val cellOk = !pq.residual || (!cellNull && cell >= 0 && cell < pq.numCells)
    if (v == null || set < 0 || !cellOk) {
      var s = 0
      while (s < numSub) { codes.setNullAt(s); s += 1 }
      return new GenericInternalRow(Array[Any](codes, 0.0))
    }
    // residual (or the vector itself) with its NULL positions
    val n = v.numElements()
    val cOff = if (pq.residual) pq.centOff(cell) else 0
    val m = if (pq.residual) pq.centOff(cell + 1) - cOff else n
    val len = math.max(n, m)
    val r = new Array[Double](len)
    var anyNull = false
    val rNull = new Array[Boolean](len)
    var i = 0
    while (i < len) {
      if (i >= n || i >= m || v.isNullAt(i)) { rNull(i) = true; anyNull = true }
      else if (pq.residual) r(i) = elem(v, i, elemFloat) - pq.centroids(cOff + i)
      else r(i) = elem(v, i, elemFloat)
      i += 1
    }
    var sumNull = false
    var sum2 = 0.0
    var s = 0
    while (s < numSub) {
      val start = s * subDim
      var ok = start + subDim <= len
      i = start
      while (ok && i < start + subDim) { if (rNull(i)) ok = false; i += 1 }
      if (!ok) {
        codes.setNullAt(s)
        sumNull = true
      } else {
        val base = (set * numSub + s) * k
        var best = 0
        var bestSc = 0.0
        var j = 0
        while (j < k) {
          val off = (base + j) * subDim
          var dot = 0.0
          i = 0
          while (i < subDim) { dot += r(start + i) * pq.books(off + i); i += 1 }
          val sc = dot - pq.halfNormSq(base + j)
          if (j == 0 || gt(sc, bestSc)) { best = j; bestSc = sc }
          j += 1
        }
        codes.setInt(s, best)
        sum2 = if (s == 0) bestSc * 2 else sum2 + bestSc * 2
      }
      s += 1
    }
    val qerr =
      if (anyNull || sumNull) 0.0
      else {
        var n2 = 0.0
        i = 0
        while (i < len) { n2 += r(i) * r(i); i += 1 }
        val e = n2 - sum2
        if (gt(e, 0.0)) e else 0.0
      }
    new GenericInternalRow(Array[Any](codes, qerr))
  }

  def adcTable(v: ArrayData, cellNull: Boolean, cell: Int, pq: PqCodebook,
      elemFloat: Boolean): ArrayData = {
    val numSub = pq.numSub
    val k = pq.codebookK
    val subDim = pq.subDim
    val out = UnsafeArrayData.fromPrimitiveArray(new Array[Double](numSub * k))
    val set = bookSet(cellNull, cell, pq)
    val n = if (v == null) 0 else v.numElements()
    var s = 0
    while (s < numSub) {
      val start = s * subDim
      var ok = v != null && set >= 0 && start + subDim <= n
      var i = start
      while (ok && i < start + subDim) { if (v.isNullAt(i)) ok = false; i += 1 }
      val base = (math.max(set, 0) * numSub + s) * k
      var j = 0
      while (j < k) {
        if (!ok) out.setNullAt(s * k + j)
        else {
          val off = (base + j) * subDim
          var dot = 0.0
          i = 0
          while (i < subDim) {
            dot += elem(v, start + i, elemFloat) * pq.books(off + i); i += 1
          }
          out.setDouble(s * k + j, dot)
        }
        j += 1
      }
      s += 1
    }
    out
  }
}
