package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for embedding math.
  *
  * Why a custom `Expression` here and nowhere else in the engine: the
  * built-in higher-order functions (`aggregate(zip_with(...))`) express a
  * dot product correctly but evaluate interpreted — per element they walk
  * an expression tree and allocate a joined row, which dominates ANN
  * scoring where the dot product runs once per candidate pair. This
  * expression participates in whole-stage codegen as a tight primitive
  * loop over the two `ArrayData` buffers: no allocation, no boxing, no
  * per-element virtual calls. Preference order per the design notes:
  * compose built-ins where they're hot-path-adequate (everywhere else),
  * custom codegen'd Expression where they're not (here), UDF never.
  */
object VectorExpressions {

  /** `vec_dot(array<double>, array<double>) -> double`; the shorter input
    * ends the loop (`zip_with` would pad it with nulls instead, so the HOF
    * form matches only at equal lengths). Null input → null.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {

    // AbstractDataType is private[sql]; Seq[DataType] narrows covariantly
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  // ---------------------------------------------------------------- tables
  //
  // The PQ/IVF hot loops (nearest-codeword, nearest-centroid, centroid
  // ranking, code reconstruction) were composed from built-ins: an
  // `aggregate`/`array_sort` HOF folding over an `array(struct(vec_dot(...),
  // idx))` forest of m×k codeword literals. Correct, but (a) HOFs are
  // CodegenFallback — the whole subtree evaluates interpreted, allocating a
  // struct per codeword per row, and (b) the expression TREE itself is
  // m×k literals wide, which the driver re-plans for every action of every
  // build/train iteration (measured as multi-second driver gaps on the
  // deployment queries). These expressions collapse each forest into ONE
  // codegen'd node holding the codebook as a table reference: per row a
  // tight primitive loop, per plan a single literal.
  //
  // Bit-identity with the HOF constructions they replace (kept in test
  // scope as `KernelOracles`, pinned in SimilaritySpec/EmbeddingsSpec):
  // same left-to-right dot accumulation order as `vec_dot` (truncating to
  // the shorter input), same `Σ x²` codeword-norm fold order, and the same
  // comparison
  // semantics as Spark's GreaterThan on doubles — `x == y` first (so
  // -0.0 ties 0.0), then java.lang.Double.compare (NaN greatest) — with
  // first-strictly-greater-wins fold order and the HOF's null behavior
  // (null vector → code/cell -1, null codes → null reconstruction).

  /** Spark's double comparison (SQLOrderingUtil.compareDoubles semantics):
    * == first (-0.0 ties 0.0), then Double.compare (NaN greatest). Public
    * because generated code calls it.
    */
  @inline def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** PQ-encode one vector against flattened codebooks (row j*k+c =
    * codeword c of subspace j): per subspace, argmax_c (2·⟨sub,c⟩ − ‖c‖²)
    * with ties to the lowest code, -1 for a null vector. Called from both
    * the interpreted eval and generated code of [[PqEncode]].
    */
  def pqEncodeCodes(v: ArrayData, cw: Array[Array[Double]],
      norms: Array[Double], m: Int, k: Int, subDim: Int): ArrayData = {
    val out = new Array[Int](m)
    if (v == null) {
      java.util.Arrays.fill(out, -1)
    } else {
      val len = v.numElements()
      var j = 0
      while (j < m) {
        val off = j * subDim
        val rem = len - off
        val navail = if (rem < 0) 0 else if (rem > subDim) subDim else rem
        var best = Double.NegativeInfinity
        var bi = -1
        var c = 0
        while (c < k) {
          val row = cw(j * k + c)
          val n = if (row.length < navail) row.length else navail
          var dot = 0.0
          var i = 0
          while (i < n) { dot += v.getDouble(off + i) * row(i); i += 1 }
          val s = 2.0 * dot - norms(j * k + c)
          if (cmpD(s, best) > 0) { best = s; bi = c }
          c += 1
        }
        out(j) = bi
        j += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Reconstruct a PQ-coded vector (codeword concatenation) from the same
    * flattened codebook layout. Null codes array, or any null code element,
    * → null (the flatten-of-element_at behavior it replaces). A code
    * outside [0, k) is an error in both implementations (ANSI element_at
    * there, an explicit check here).
    */
  def pqDecodeVec(codes: ArrayData, cw: Array[Array[Double]],
      m: Int, k: Int): ArrayData = {
    if (codes == null) return null
    if (codes.numElements() < m)
      throw new IllegalArgumentException(
        s"vec_pq_decode: ${codes.numElements()} codes for $m subspaces")
    var total = 0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val code = codes.getInt(j)
      if (code < 0 || code >= k)
        throw new IllegalArgumentException(
          s"vec_pq_decode: code $code outside [0, $k) in subspace $j")
      total += cw(j * k + code).length
      j += 1
    }
    val out = new Array[Double](total)
    var pos = 0
    j = 0
    while (j < m) {
      val row = cw(j * k + codes.getInt(j))
      System.arraycopy(row, 0, out, pos, row.length)
      pos += row.length
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** argmax_i ⟨v, cents(i)⟩ as ids(i), ties to the FIRST maximal entry in
    * centroid order (= lowest id for ascending-id centroid sets — the fold
    * rule of the `aggregate` it replaces); -1 for a null vector.
    */
  def nearestIdx(v: ArrayData, cents: Array[Array[Double]],
      ids: Array[Int]): Int = {
    if (v == null) return -1
    val len = v.numElements()
    var best = Double.NegativeInfinity
    var bi = -1
    var c = 0
    while (c < cents.length) {
      val row = cents(c)
      val n = if (row.length < len) row.length else len
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getDouble(i) * row(i); i += 1 }
      if (cmpD(dot, best) > 0) { best = dot; bi = ids(c) }
      c += 1
    }
    bi
  }

  /** Centroid ids ordered by (score desc, id asc) — the
    * `array_sort(struct(s, idx), comparator)` it replaces, including the
    * null-vector case (all comparisons fall through to the id tie-break →
    * ids ascending).
    */
  def rankIds(v: ArrayData, cents: Array[Array[Double]],
      ids: Array[Int]): ArrayData = {
    val n = cents.length
    val order = new Array[Integer](n)
    var c = 0
    while (c < n) { order(c) = Integer.valueOf(c); c += 1 }
    if (v == null) {
      java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int =
          Integer.compare(ids(a.intValue), ids(b.intValue))
      })
    } else {
      val len = v.numElements()
      val scores = new Array[Double](n)
      c = 0
      while (c < n) {
        val row = cents(c)
        val nn = if (row.length < len) row.length else len
        var dot = 0.0
        var i = 0
        while (i < nn) { dot += v.getDouble(i) * row(i); i += 1 }
        scores(c) = dot
        c += 1
      }
      java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int = {
          val s = cmpD(scores(b.intValue), scores(a.intValue)) // desc
          if (s != 0) s else Integer.compare(ids(a.intValue), ids(b.intValue))
        }
      })
    }
    val out = new Array[Int](n)
    c = 0
    while (c < n) { out(c) = ids(order(c).intValue); c += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Shared scaffolding: expressions whose trailing children are foldable
    * literal tables (codebooks/centroids), evaluated once per plan into
    * primitive arrays referenced from generated code.
    */
  trait TableExpression extends Expression {
    /** (vectors table, per-row ids or norms) from a foldable
      * array<array<double>> child.
      */
    protected def tableOf(e: Expression, what: String): Array[Array[Double]] = {
      require(e.foldable, s"$prettyName: $what must be a literal")
      val rows = e.eval(null)
      require(rows != null, s"$prettyName: $what is null")
      val a = rows.asInstanceOf[ArrayData]
      Array.tabulate(a.numElements()) { i =>
        val r = a.getArray(i)
        require(r != null, s"$prettyName: $what row $i is null")
        r.toDoubleArray()
      }
    }
    protected def intsOf(e: Expression, what: String): Array[Int] = {
      require(e.foldable, s"$prettyName: $what must be a literal")
      val v = e.eval(null)
      require(v != null, s"$prettyName: $what is null")
      v.asInstanceOf[ArrayData].toIntArray()
    }
  }

  /** `vec_pq_encode(v, books, k) -> array<int>`: all m PQ codes of `v` in
    * one node. `books` is the flattened codebook literal (row j*k+c =
    * codeword c of subspace j), `k` the codewords per subspace; subspace
    * width comes from the first codeword (every codeword must share it —
    * true for any trained codebook).
    */
  case class PqEncode(vec: Expression, books: Expression, k: Expression)
      extends TableExpression with ImplicitCastInputTypes {

    override def children: Seq[Expression] = Seq(vec, books, k)
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)), IntegerType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "vec_pq_encode"

    @transient private lazy val table: (Array[Array[Double]], Array[Double], Int, Int, Int) = {
      require(k.foldable, s"$prettyName: k must be a literal")
      val kk = k.eval(null).asInstanceOf[Number].intValue
      val cw = tableOf(books, "books")
      require(kk > 0 && cw.nonEmpty && cw.length % kk == 0,
        s"$prettyName: ${cw.length} codebook rows not divisible by k=$kk")
      val subDim = cw(0).length
      require(cw.forall(_.length == subDim),
        s"$prettyName: codewords must share width $subDim")
      // same Σx² fold order as the driver-side `c.map(x => x*x).sum`
      val norms = cw.map { row =>
        var s = 0.0; var i = 0
        while (i < row.length) { s += row(i) * row(i); i += 1 }
        s
      }
      (cw, norms, cw.length / kk, kk, subDim)
    }

    override def eval(input: InternalRow): Any = {
      val (cw, norms, m, kk, subDim) = table
      pqEncodeCodes(vec.eval(input).asInstanceOf[ArrayData], cw, norms, m, kk, subDim)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (cw, norms, m, kk, subDim) = table
      val cwRef = ctx.addReferenceObj("pqCw", cw, "double[][]")
      val normsRef = ctx.addReferenceObj("pqNorms", norms, "double[]")
      val vc = vec.genCode(ctx)
      ev.copy(code = code"""
        ${vc.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.VectorExpressions.pqEncodeCodes(
            ${vc.isNull} ? null : ${vc.value}, $cwRef, $normsRef, $m, $kk, $subDim);
      """, isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(vec = newChildren(0), books = newChildren(1), k = newChildren(2))
  }

  /** `vec_pq_decode(codes, books, k) -> array<double>`: codeword
    * concatenation, the decode side of [[PqEncode]] (same flattened
    * codebook layout). Null in → null out.
    */
  case class PqDecode(codes: Expression, books: Expression, k: Expression)
      extends TableExpression with ImplicitCastInputTypes {

    override def children: Seq[Expression] = Seq(codes, books, k)
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(IntegerType), ArrayType(ArrayType(DoubleType)), IntegerType)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "vec_pq_decode"

    @transient private lazy val table: (Array[Array[Double]], Int, Int) = {
      require(k.foldable, s"$prettyName: k must be a literal")
      val kk = k.eval(null).asInstanceOf[Number].intValue
      val cw = tableOf(books, "books")
      require(kk > 0 && cw.nonEmpty && cw.length % kk == 0,
        s"$prettyName: ${cw.length} codebook rows not divisible by k=$kk")
      (cw, cw.length / kk, kk)
    }

    override def eval(input: InternalRow): Any = {
      val (cw, m, kk) = table
      pqDecodeVec(codes.eval(input).asInstanceOf[ArrayData], cw, m, kk)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (cw, m, kk) = table
      val cwRef = ctx.addReferenceObj("pqCw", cw, "double[][]")
      val cc = codes.genCode(ctx)
      ev.copy(code = code"""
        ${cc.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.VectorExpressions.pqDecodeVec(
            ${cc.isNull} ? null : ${cc.value}, $cwRef, $m, $kk);
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(codes = newChildren(0), books = newChildren(1), k = newChildren(2))
  }

  /** `vec_nearest(v, cents, ids) -> int`: argmax_i ⟨v, cents(i)⟩ reported
    * as ids(i), first-strictly-greater fold order (ties → first entry),
    * -1 for a null vector — the `aggregate(array(struct(dot, id)))` fold
    * it replaces.
    */
  case class NearestCentroid(vec: Expression, cents: Expression, ids: Expression)
      extends TableExpression with ImplicitCastInputTypes {

    override def children: Seq[Expression] = Seq(vec, cents, ids)
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = false
    override def prettyName: String = "vec_nearest"

    @transient private lazy val table: (Array[Array[Double]], Array[Int]) = {
      val cv = tableOf(cents, "centroids")
      val iv = intsOf(ids, "ids")
      require(cv.length == iv.length && cv.nonEmpty,
        s"$prettyName: ${cv.length} centroids vs ${iv.length} ids")
      (cv, iv)
    }

    override def eval(input: InternalRow): Any = {
      val (cv, iv) = table
      nearestIdx(vec.eval(input).asInstanceOf[ArrayData], cv, iv)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (cv, iv) = table
      val cvRef = ctx.addReferenceObj("cents", cv, "double[][]")
      val ivRef = ctx.addReferenceObj("centIds", iv, "int[]")
      val vc = vec.genCode(ctx)
      ev.copy(code = code"""
        ${vc.code}
        int ${ev.value} = graft.functions.VectorExpressions.nearestIdx(
          ${vc.isNull} ? null : ${vc.value}, $cvRef, $ivRef);
      """, isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(vec = newChildren(0), cents = newChildren(1), ids = newChildren(2))
  }

  /** `vec_ranks(v, cents, ids) -> array<int>`: centroid ids by (score
    * desc, id asc) — the `array_sort(struct(s, idx), comparator)` +
    * transform it replaces, including the null-vector fall-through to the
    * id tie-break.
    */
  case class CentroidRanks(vec: Expression, cents: Expression, ids: Expression)
      extends TableExpression with ImplicitCastInputTypes {

    override def children: Seq[Expression] = Seq(vec, cents, ids)
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "vec_ranks"

    @transient private lazy val table: (Array[Array[Double]], Array[Int]) = {
      val cv = tableOf(cents, "centroids")
      val iv = intsOf(ids, "ids")
      require(cv.length == iv.length && cv.nonEmpty,
        s"$prettyName: ${cv.length} centroids vs ${iv.length} ids")
      (cv, iv)
    }

    override def eval(input: InternalRow): Any = {
      val (cv, iv) = table
      rankIds(vec.eval(input).asInstanceOf[ArrayData], cv, iv)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val (cv, iv) = table
      val cvRef = ctx.addReferenceObj("cents", cv, "double[][]")
      val ivRef = ctx.addReferenceObj("centIds", iv, "int[]")
      val vc = vec.genCode(ctx)
      ev.copy(code = code"""
        ${vc.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.VectorExpressions.rankIds(
            ${vc.isNull} ? null : ${vc.value}, $cvRef, $ivRef);
      """, isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(vec = newChildren(0), cents = newChildren(1), ids = newChildren(2))
  }
}
