package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native fused nearest-centroid argmax: scores a vector column
  * against a CONSTANT centroid matrix and returns
  * `struct<cell int, score double>` for the best centroid in one
  * primitive loop.
  *
  * The composed formulation — `greatest(struct(score_0, -id_0), ...,
  * struct(score_{k-1}, -id_{k-1}))` with one `graft_dot` (or three,
  * for cosine) per centroid — generates O(k·dim) Java per ROW SLOT:
  * at k=64 the projection method blows past HotSpot's huge-method
  * limit, the whole stage runs as interpreted bytecode, and a 200k×64
  * assignment that should cost ~1 CPU-second measured ~40 s wall on
  * 32 cores (r7, SURVEY.md lessons). Here the matrix rides as a codegen
  * reference object, the generated code is one fixed-size loop
  * regardless of k, and per-row allocation is the single result row.
  *
  * Three scoring modes, each replicating the exact floating-point
  * arithmetic of the composed site it replaces (sequential double
  * accumulation ascending, same operation order), so oracle hashes
  * over the scores are unchanged:
  *  - `cosine`    — dot / (‖v‖·‖c‖); a zero-norm side scores NULL and
  *    that centroid is skipped ([[graft.operators.Cluster.assign]]).
  *  - `dot_norm`  — dot · (1/‖c‖), 0 when ‖c‖=0 (cosine argmax with
  *    the row-constant ‖v‖ dropped; [[graft.operators.Similarity]]
  *    `assignCells`).
  *  - `dot_bias`  — dot − ‖c‖²/2 (the L2 argmin with the row-constant
  *    ‖v‖² dropped; PQ encoding).
  * Ties break to the smallest centroid id (the composed `greatest`
  * ordered by (score, −id)). If no centroid scores (cosine with a
  * zero-norm row), the result is (smallest id, NULL score) — exactly
  * the struct the composed greatest returned there.
  *
  * `offset` scores against `vec[offset, offset+dim)` so PQ subspace
  * encoding reads its slice in place instead of allocating a
  * `slice()` copy per subspace per row. A vector too short for
  * offset+dim yields NULL overall — the composed form silently
  * assigned the smallest id there (every dot NULL); NULL follows
  * DotProduct's "never a plausible wrong answer" rule instead.
  *
  * Children beyond the vector are foldable literals (ids, centroid
  * matrix, mode, offset), mirroring how SignBucket takes its plane
  * matrix and MinHashSignature its k.
  */
case class NearestCentroid(vec: Expression, ids: Expression,
                           cents: Expression, mode: Expression,
                           offset: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(vec, ids, cents, mode, offset)

  override def nullable: Boolean = true
  override def foldable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("score", DoubleType, nullable = true)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val idsOk = (ids.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }) && ids.foldable
    val centsOk = (cents.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _ => false
    }) && cents.foldable
    val modeOk = mode.dataType == StringType && mode.foldable
    val offOk = offset.dataType == IntegerType && offset.foldable
    if (vecOk && idsOk && centsOk && modeOk && offOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_nearest_centroid expects (array<float|double> vec, " +
          "constant array<int> ids, constant array<array<float>> " +
          "centroids, constant string mode, constant int offset), got (" +
          children.map(_.dataType.simpleString).mkString(", ") + ")" +
          (if (!ids.foldable || !cents.foldable || !mode.foldable ||
               !offset.foldable) " with non-constant arguments" else ""))
  }

  private def vecIsFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private val ModeCosine = 0
  private val ModeDotNorm = 1
  private val ModeDotBias = 2

  @transient private lazy val modeId: Int =
    mode.eval().toString match {
      case "cosine"   => ModeCosine
      case "dot_norm" => ModeDotNorm
      case "dot_bias" => ModeDotBias
      case other => throw new IllegalArgumentException(
        s"graft_nearest_centroid: unknown mode '$other' " +
          "(expected cosine | dot_norm | dot_bias)")
    }

  @transient private lazy val offsetVal: Int = {
    val o = offset.eval().asInstanceOf[Int]
    require(o >= 0, s"graft_nearest_centroid: offset must be >= 0, got $o")
    o
  }

  @transient private lazy val idArr: Array[Int] =
    ids.eval().asInstanceOf[ArrayData].toIntArray()

  /** (flat k×dim matrix, dim). */
  @transient private lazy val matrix: (Array[Float], Int) = {
    val ad = cents.eval().asInstanceOf[ArrayData]
    val k = ad.numElements()
    require(k >= 1, "graft_nearest_centroid: empty centroid matrix")
    require(k == idArr.length,
      s"graft_nearest_centroid: ${idArr.length} ids but $k centroids")
    val dim = ad.getArray(0).numElements()
    require(dim >= 1, "graft_nearest_centroid: zero-dim centroids")
    val flat = new Array[Float](k * dim)
    var c = 0
    while (c < k) {
      val row = ad.getArray(c)
      require(row.numElements() == dim,
        s"graft_nearest_centroid: centroid $c has dim " +
          s"${row.numElements()}, expected $dim")
      var i = 0
      while (i < dim) { flat(c * dim + i) = row.getFloat(i); i += 1 }
      c += 1
    }
    (flat, dim)
  }

  /** Per-centroid constant for the mode: `cosine` → ‖c‖; `dot_norm` →
    * 1/‖c‖ (0 for zero norm); `dot_bias` → ‖c‖²/2. Accumulated
    * ascending in double exactly as the composed sites did. */
  @transient private lazy val centConst: Array[Double] = {
    val (flat, dim) = matrix
    val k = idArr.length
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        val x = flat(c * dim + i).toDouble
        acc += x * x
        i += 1
      }
      out(c) = modeId match {
        case ModeCosine  => math.sqrt(acc)
        case ModeDotNorm =>
          val n = math.sqrt(acc); if (n == 0.0) 0.0 else 1.0 / n
        case ModeDotBias => acc / 2.0
      }
      c += 1
    }
    out
  }

  @transient private lazy val minId: Int = idArr.min

  override def eval(input: InternalRow): Any = {
    val v0 = vec.eval(input)
    if (v0 == null) return null
    val v = v0.asInstanceOf[ArrayData]
    val (flat, dim) = matrix
    if (v.numElements() < offsetVal + dim) return null
    val isF = vecIsFloat
    def at(i: Int): Double =
      if (isF) v.getFloat(offsetVal + i).toDouble
      else v.getDouble(offsetVal + i)
    var normV = 0.0
    if (modeId == ModeCosine) {
      var acc = 0.0
      var i = 0
      while (i < dim) { val x = at(i); acc += x * x; i += 1 }
      normV = math.sqrt(acc)
    }
    var best = -1
    var bestS = 0.0
    val k = idArr.length
    var c = 0
    while (c < k) {
      var acc = 0.0
      var i = 0
      val off = c * dim
      while (i < dim) { acc += at(i) * flat(off + i).toDouble; i += 1 }
      var sNull = false
      val s = modeId match {
        case ModeCosine =>
          if (normV == 0.0 || centConst(c) == 0.0) { sNull = true; 0.0 }
          else acc / (normV * centConst(c))
        case ModeDotNorm => acc * centConst(c)
        case ModeDotBias => acc - centConst(c)
      }
      if (!sNull) {
        val cmp = if (best < 0) 1 else java.lang.Double.compare(s, bestS)
        if (cmp > 0 || (cmp == 0 && idArr(c) < idArr(best))) {
          best = c; bestS = s
        }
      }
      c += 1
    }
    if (best < 0) new GenericInternalRow(Array[Any](minId, null))
    else new GenericInternalRow(Array[Any](idArr(best), bestS))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (flat, dim) = matrix
    val flatRef = ctx.addReferenceObj("centFlat", flat, "float[]")
    val constRef = ctx.addReferenceObj("centConst", centConst, "double[]")
    val idsRef = ctx.addReferenceObj("centIds", idArr, "int[]")
    val childGen = vec.genCode(ctx)
    val get = if (vecIsFloat) "getFloat" else "getDouble"
    val v = ctx.freshName("v")
    val normV = ctx.freshName("normV")
    val best = ctx.freshName("best")
    val bestS = ctx.freshName("bestS")
    val acc = ctx.freshName("acc")
    val s = ctx.freshName("s")
    val sNull = ctx.freshName("sNull")
    val cmp = ctx.freshName("cmp")
    val c = ctx.freshName("c")
    val i = ctx.freshName("i")
    val off = ctx.freshName("off")
    val rowNorm = if (modeId == ModeCosine)
      s"""
         |double $normV = 0.0;
         |for (int $i = 0; $i < $dim; $i++) {
         |  double x = (double) $v.$get($offsetVal + $i);
         |  $normV += x * x;
         |}
         |$normV = Math.sqrt($normV);
       """.stripMargin
    else ""
    val score = modeId match {
      case ModeCosine =>
        s"""
           |if ($normV == 0.0 || $constRef[$c] == 0.0) { $sNull = true; }
           |else { $s = $acc / ($normV * $constRef[$c]); }
         """.stripMargin
      case ModeDotNorm => s"$s = $acc * $constRef[$c];"
      case ModeDotBias => s"$s = $acc - $constRef[$c];"
    }
    val rowClass = classOf[GenericInternalRow].getName
    val resultCode =
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $v = ${childGen.value};
         |if ($v.numElements() >= ${offsetVal + dim}) {
         |  $rowNorm
         |  int $best = -1;
         |  double $bestS = 0.0;
         |  for (int $c = 0; $c < ${idArr.length}; $c++) {
         |    double $acc = 0.0;
         |    int $off = $c * $dim;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      $acc += ((double) $v.$get($offsetVal + $i))
         |              * ((double) $flatRef[$off + $i]);
         |    }
         |    double $s = 0.0;
         |    boolean $sNull = false;
         |    $score
         |    if (!$sNull) {
         |      int $cmp = ($best < 0) ? 1 : Double.compare($s, $bestS);
         |      if ($cmp > 0 || ($cmp == 0 && $idsRef[$c] < $idsRef[$best])) {
         |        $best = $c; $bestS = $s;
         |      }
         |    }
         |  }
         |  ${ev.isNull} = false;
         |  ${ev.value} = ($best < 0)
         |    ? new $rowClass(new Object[]{ java.lang.Integer.valueOf($minId), null })
         |    : new $rowClass(new Object[]{
         |        java.lang.Integer.valueOf($idsRef[$best]),
         |        java.lang.Double.valueOf($bestS) });
         |}
       """.stripMargin
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      InternalRow ${ev.value} = null;
      if (!${childGen.isNull}) {
        $resultCode
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), ids = newChildren(1), cents = newChildren(2),
         mode = newChildren(3), offset = newChildren(4))
}
