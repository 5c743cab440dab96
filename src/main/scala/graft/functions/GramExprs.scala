package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram builders and the sorted-set Jaccard — the codegen
  * forms of `TextAnalysis.wordNgrams` (+ its `array_distinct` /
  * `array_sort(array_distinct(...))` compositions) and of
  * `verifyJaccard`'s `array_intersect` core.
  *
  * Why (guide §4, measured by per-call-site task time): the HOF formulation
  * re-splits the text (compiling `\s+` per row), builds each gram
  * through an interpreted `transform`+`slice`+`concat_ws` lambda chain,
  * and then pays interpreted `array_distinct`/`array_sort` passes; the
  * verification's `array_intersect` hashes both full gram arrays per
  * candidate pair. These walk the tokens once, and the Jaccard is a
  * two-pointer merge over the already-sorted arrays.
  *
  * Exactness: grams are the same ' '-joined token windows over
  * `split(lower(trim(text)), "\s+")`; distinct keeps first-occurrence
  * order exactly like `array_distinct`; sort uses `UTF8String`'s binary
  * comparator — the same total order `array_sort` applies to strings;
  * the Jaccard reproduces `size(array_intersect)` / int-addition /
  * long-subtraction / double-division in the original operation order.
  * Parity-asserted in TextExprsSpec; the PPJoin/LSH/decontamination
  * oracles re-gate the values end-to-end.
  */
private[graft] object GramNative {

  private val Ws: Pattern = Pattern.compile("\\s+")

  private def tokens(text: UTF8String): Array[String] =
    Ws.split(text.trim.toLowerCase.toString, -1)

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** `wordNgrams(text, n)` — all token windows, duplicates kept. */
  def grams(text: UTF8String, n: Int): ArrayData = {
    val toks = tokens(text)
    if (toks.length < n) return Empty
    val g = toks.length - n + 1
    val out = new Array[Any](g)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < g) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `array_distinct(wordNgrams(text, n))` — first occurrence wins. */
  def gramsDistinct(text: UTF8String, n: Int): ArrayData =
    new GenericArrayData(distinctGrams(text, n).toArray().asInstanceOf[Array[Any]])

  /** `array_sort(array_distinct(wordNgrams(text, n)))` — UTF8String
    * binary order, the comparator `array_sort` uses for strings.
    */
  def gramsSorted(text: UTF8String, n: Int): ArrayData = {
    val d = distinctGrams(text, n)
    val arr = d.toArray(new Array[UTF8String](d.size))
    java.util.Arrays.sort(arr, null)
    new GenericArrayData(arr.asInstanceOf[Array[AnyRef]])
  }

  private def distinctGrams(text: UTF8String, n: Int): java.util.LinkedHashSet[UTF8String] = {
    val set = new java.util.LinkedHashSet[UTF8String]()
    val toks = tokens(text)
    if (toks.length < n) return set
    val g = toks.length - n + 1
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < g) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      set.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    set
  }

  /** Exact Jaccard of two SORTED-DISTINCT string arrays: two-pointer
    * intersection count, then the `verifyJaccard` formula
    * `inter / (size(a) + size(b) − inter)` with the original
    * int-add/long-sub/double-div order. Two empty arrays give 0.0, not
    * the NaN of 0/0: Spark orders NaN above every double, so a NaN
    * would pass `verifyJaccard`'s `>= threshold`.
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getUTF8String(i)
      val y = b.getUTF8String(j)
      val c = x.compareTo(y)
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = (na + nb) - inter
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }
}

/** Word n-grams as an array column; `mode` picks the composition the
  * call site previously spelled with HOFs: 0 = raw, 1 = distinct,
  * 2 = sorted distinct.
  */
case class WordGramsExpr(child: Expression, n: Int, mode: Int) extends UnaryExpression {
  require(n > 0, "n must be positive")
  require(mode >= 0 && mode <= 2, "mode must be 0 (raw), 1 (distinct) or 2 (sorted)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = mode match {
    case 0 => "graft_word_grams"
    case 1 => "graft_word_grams_distinct"
    case _ => "graft_word_grams_sorted"
  }

  private def staticCall: String = mode match {
    case 0 => "graft.functions.GramNative.grams"
    case 1 => "graft.functions.GramNative.gramsDistinct"
    case _ => "graft.functions.GramNative.gramsSorted"
  }

  protected override def nullSafeEval(input: Any): Any = {
    val t = input.asInstanceOf[UTF8String]
    mode match {
      case 0 => GramNative.grams(t, n)
      case 1 => GramNative.gramsDistinct(t, n)
      case _ => GramNative.gramsSorted(t, n)
    }
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $staticCall($c, $n);")

  protected override def withNewChildInternal(newChild: Expression): WordGramsExpr =
    copy(child = newChild)
}

/** Exact Jaccard over two sorted-distinct string arrays (the
  * `docGramArrays` invariant, held by every `verifyJaccard` caller).
  */
case class GramJaccardExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (t: DataType) => t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<STRING> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_jaccard_sorted"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    GramNative.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GramNative.jaccardSorted($a, $b);")

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramJaccardExpr =
    copy(left = newLeft, right = newRight)
}
