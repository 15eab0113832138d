package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization ENCODE: per subspace, the argmin-L2 code
  * against the literal codebooks (`books(j)(c)` = centroid c of subspace
  * j; all subspaces share one sub-dimension). Ties break to the lowest
  * code; a vector whose length differs from m·subDim encodes to null,
  * surfacing dimension drift like
  * [[graft.llm.Similarity.projectVec]] does.
  *
  * Why an Expression: encoding is the compute-dense inner loop of the PQ
  * compression pass — m·ksub sub-distances per row. The HOF composition
  * (per-centroid struct + array_sort, kept in LlmSpec as the reference
  * formulation for the equivalence pin) builds and sorts m arrays of ksub structs
  * per ROW in interpreted mode — measured 47 K vecs/s on 32 threads at
  * 64 dims vs 316 K vecs/s (54×) for this fused primitive loop, which
  * stays inside WholeStageCodegen and removes the allocation churn
  * entirely.
  */
case class PqCodes(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private val m = books.length
  private val ksub = books(0).length
  private val sub = books(0)(0).length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_codes"
  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * sub) return null
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      val off = j * sub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cent = book(c)
        var d = 0.0
        var i = 0
        while (i < sub) {
          val t = v.getDouble(off + i) - cent(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val off = ctx.freshName("off")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val cent = ctx.freshName("cent")
      s"""
         |if ($v.numElements() != ${m * sub}) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $codes = new int[$m];
         |  for (int $j = 0; $j < $m; $j++) {
         |    double[][] ${cent}s = $b[$j];
         |    int $off = $j * $sub;
         |    int $best = 0;
         |    double $bestD = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      double[] $cent = ${cent}s[$c];
         |      double $d = 0.0;
         |      for (int $i = 0; $i < $sub; $i++) {
         |        double $t = $v.getDouble($off + $i) - $cent[$i];
         |        $d += $t * $t;
         |      }
         |      if ($d < $bestD) { $bestD = $d; $best = $c; }
         |    }
         |    $codes[$j] = $best;
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |}
       """.stripMargin
    })
}

/** Native PQ DECODE: concatenate each subspace's selected centroid — the
  * reconstruction the ADC coarse score runs against. Null codes array (or
  * one of the wrong length / with an out-of-range code) decodes to null. */
case class PqDecode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  private val m = books.length
  private val ksub = books(0).length
  private val sub = books(0)(0).length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_decode"
  override protected def withNewChildInternal(newChild: Expression): PqDecode =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    if (codes.numElements() != m) return null
    val out = new Array[Double](m * sub)
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= ksub) return null
      System.arraycopy(books(j)(c), 0, out, j * sub, sub)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val bad = ctx.freshName("bad")
      s"""
         |if ($v.numElements() != $m) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[${m * sub}];
         |  boolean $bad = false;
         |  for (int $j = 0; $j < $m; $j++) {
         |    int $c = $v.getInt($j);
         |    if ($c < 0 || $c >= $ksub) { $bad = true; break; }
         |    System.arraycopy($b[$j][$c], 0, $out, $j * $sub, $sub);
         |  }
         |  if ($bad) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} =
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
}
