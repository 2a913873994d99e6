package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Nearest-codeword assignment: the index `j` maximizing
  * `dot(vec[offset, offset+len), codewords(j)) - halfNorms(j)`,
  * with ties broken toward the LARGER index. NULL vector → NULL
  * (callers needing the legacy greatest-of-structs null result wrap
  * in coalesce — see `Similarity.cellExpr`).
  *
  * This is the one-node replacement for the unrolled Catalyst tree
  * `greatest(struct(array_dot(slice(vec), [lit...]) - lit(h), lit(j)),
  * ...).getField("i")` that `Similarity.cellExpr`/`subCellExpr` built
  * per codeword: at ksub codewords x m subspaces that tree carried
  * ksub*m dot nodes plus ksub*m literal arrays, and the PQ family's
  * corpus projections (ksub=8..16, m=8, plus the nCells coarse
  * quantizer) reached 100 KB+ formatted plans — driver-side
  * ANALYSIS/optimizer time re-paid per Lloyd iteration because each
  * iteration embeds fresh codebook literals (guide §7.3: planning is
  * single-threaded driver work), and codegen near the JIT's
  * HugeMethodLimit at scale. Here the codebook rides the expression
  * as one reference object; the generated code is two small loops.
  *
  * Bit-compatibility contract with the replaced tree (gate-verified):
  *  - each score is a left-to-right sequential double dot over
  *    min(|vec|-offset, len, |codeword|) elements (ArrayDotProduct
  *    semantics: NULL elements read as 0; an out-of-range slice is an
  *    empty array, scoring 0.0) minus halfNorms(j) — same op order;
  *  - the argmax compares like Spark's struct ordering inside
  *    `greatest`: SQLOrderingUtil.compareDoubles (NaN greatest,
  *    -0.0 == 0.0), score ties resolved to the larger index — the
  *    struct's (score, index) lexicographic max.
  */
final case class ArgmaxDot(child: Expression, codewords: Array[Array[Double]],
    halfNorms: Array[Double], offset: Int, len: Int)
    extends UnaryExpression {

  require(codewords.nonEmpty && codewords.length == halfNorms.length,
    s"need matching non-empty codewords/halfNorms, got " +
      s"${codewords.length}/${halfNorms.length}")
  require(offset >= 0, s"offset must be >= 0, got $offset")
  require(len >= 0, s"len must be >= 0, got $len")

  // Case-class equality over Array params falls back to reference
  // identity, under which two semantically identical ArgmaxDot nodes
  // never compare equal — silently defeating Catalyst subexpression
  // elimination and exchange reuse, the plan-reuse goal this node was
  // built for (r17 ADVICE). Compare and hash the contents instead.
  // canonicalized/semanticEquals go through equals, so this is the
  // one override point.
  override def equals(other: Any): Boolean = other match {
    case o: ArgmaxDot =>
      child == o.child && offset == o.offset && len == o.len &&
        java.util.Arrays.equals(halfNorms, o.halfNorms) &&
        codewords.length == o.codewords.length &&
        codewords.indices.forall(j =>
          java.util.Arrays.equals(codewords(j), o.codewords(j)))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child,
      Integer.valueOf(offset), Integer.valueOf(len),
      Integer.valueOf(java.util.Arrays.hashCode(halfNorms)),
      Integer.valueOf(codewords.map(java.util.Arrays.hashCode).sum))

  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmax_dot"

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t: NumericType, _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    // DecimalType is NumericType but has no primitive getter here —
    // reject it at analysis instead of an executor-side
    // IllegalStateException (r17 ADVICE)
    case Some(_: DecimalType) => TypeCheckResult.TypeCheckFailure(
      "argmax_dot does not support decimal element types; cast the " +
        "array to double")
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"argmax_dot requires a numeric array, got " +
        child.dataType.simpleString)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val t = elemType.get
    val avail = math.max(0, arr.numElements() - offset)
    var best = 0
    var bestScore = 0.0
    var j = 0
    while (j < codewords.length) {
      val cw = codewords(j)
      val n = math.min(math.min(avail, len), cw.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x =
          if (arr.isNullAt(offset + i)) 0.0 else toDouble(arr, offset + i, t)
        acc += x * cw(i)
        i += 1
      }
      val s = acc - halfNorms(j)
      if (j == 0 || SQLOrderingUtil.compareDoubles(s, bestScore) >= 0) {
        best = j; bestScore = s
      }
      j += 1
    }
    best
  }

  private def toDouble(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case ShortType => arr.getShort(i).toDouble
    case ByteType => arr.getByte(i).toDouble
    case _ => throw new IllegalStateException(s"unsupported element type $t")
  }

  private def getter(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case ShortType => s"(double) $arr.getShort($i)"
    case ByteType => s"(double) $arr.getByte($i)"
    case _ => throw new IllegalStateException(s"unsupported $t")
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val t = elemType.get
      val books = ctx.addReferenceObj("books", codewords, "double[][]")
      val norms = ctx.addReferenceObj("norms", halfNorms, "double[]")
      val avail = ctx.freshName("avail")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val cw = ctx.freshName("cw")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |int $avail = java.lang.Math.max(0, $arr.numElements() - $offset);
         |int $best = 0;
         |double $bestScore = 0.0;
         |for (int $j = 0; $j < ${codewords.length}; $j++) {
         |  double[] $cw = $books[$j];
         |  int $n = java.lang.Math.min(java.lang.Math.min($avail,
         |    $len), $cw.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $arr.isNullAt($offset + $i)
         |      ? 0.0 : ${getter(t, arr, s"($offset + $i)")};
         |    $acc += $x * $cw[$i];
         |  }
         |  double $s = $acc - $norms[$j];
         |  if ($j == 0 ||
         |      org.apache.spark.sql.catalyst.util.SQLOrderingUtil
         |        .compareDoubles($s, $bestScore) >= 0) {
         |    $best = $j; $bestScore = $s;
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ArgmaxDot =
    copy(child = newChild)
}
