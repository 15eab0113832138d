package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** ALL word n-grams of a case-folded text (non-distinct, in order) in one
  * JVM pass — the frequency-counting sibling of [[WordShingles]] (which
  * dedups for set similarity). Texts with fewer than `n` tokens yield an
  * empty array (they contribute no n-grams to a frequency table).
  *
  * Equivalent to the HOF formulation kept as `StatsSessionsSpec.ngramsHof`
  * (split → sliding concat_ws), which is CodegenFallback per LAMBDA per
  * element; this pays one virtual call per row instead.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_ngrams"

  private val space = UTF8String.fromString(" ")
  private val ws = UTF8String.fromString("\\s+")

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase
    // identical tokenization to split(lower(text), "\\s+"): UTF8String.split
    // is the regex split StringSplit uses; empty tokens intentionally kept
    val toks = text.split(ws, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i + n <= toks.length) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(toks, i, parts, 0, n)
      out(i) = UTF8String.concatWs(space, parts.toIndexedSeq: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
