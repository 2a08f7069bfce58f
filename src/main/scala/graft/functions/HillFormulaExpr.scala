package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hill-system molecular formula from a symbols array, in one native
  * pass (SURVEY §2.10: custom `Expression` over UDF/HOF) — bit-identical
  * to the composable form it replaces:
  *
  *   concat_ws("", transform(sort_array(
  *     transform(array_distinct(symbols), s => struct(
  *       key(s), s, size(filter(symbols, x => x === s))))),
  *     p => concat(sym, when(n > 1, n) else "")))
  *
  * with key(s) = "0" for C, "1" for H, "2"+s otherwise — so the output
  * order is C first, H second, the rest in binary (UTF8) symbol order,
  * counts of 1 omitted. The HOF form walks the symbols array once per
  * DISTINCT symbol inside an interpreted lambda (O(d·n) with per-element
  * closure dispatch, and `transform`/`filter` are CodegenFallback, so
  * the whole projection drops out of whole-stage codegen); here one
  * linear scan counts occurrences and a tiny insertion sort orders the
  * distinct symbols. Parity is pinned by the existing
  * MoleculeCodecSpec hill-formula cases plus the mol_* oracles. */
case class HillFormulaExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hill_formula needs array<string>, got $other")
  }

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hill_formula"

  /** A null symbol element makes the formula null (see `compute`), so a
    * non-null array can still yield null. */
  override def nullable: Boolean = child.nullable || (child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })

  override protected def nullSafeEval(input: Any): Any =
    HillFormulaExpr.compute(input.asInstanceOf[ArrayData])

  // The null flag must follow compute's result, not only the child's:
  // `defineCodeGen` flagged a null formula (null element) as non-null, and
  // UnsafeRowWriter would then dereference it.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val set = s"${ev.value} = graft.functions.HillFormulaExpr.compute($c);"
      if (nullable) s"$set\n${ev.isNull} = ${ev.value} == null;" else set
    })

  override protected def withNewChildInternal(newChild: Expression): HillFormulaExpr =
    copy(child = newChild)
}

object HillFormulaExpr {

  def apply(c: Column): Column =
    Bridge.column(HillFormulaExpr(Bridge.expression(c)))

  private val C = UTF8String.fromString("C")
  private val H = UTF8String.fromString("H")

  /** Static helper invoked from both interpreted eval and generated code. */
  def compute(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    // distinct symbols with counts — molecule alphabets are tiny, a
    // linear-probe list beats any map
    val syms = new java.util.ArrayList[UTF8String](4)
    val counts = new java.util.ArrayList[Int](4)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      // null element → null result (the composable HOF form it replaced
      // null-propagated; crashing the task on a null symbol would turn a
      // data defect into a job failure — r18 ADVICE). Unreachable on the
      // current non-null molecule data, pinned in MoleculeCodecSpec.
      if (s == null) return null
      var j = 0
      var found = false
      while (j < syms.size && !found) {
        if (syms.get(j) == s) { counts.set(j, counts.get(j) + 1); found = true }
        j += 1
      }
      if (!found) { syms.add(s); counts.add(1) }
      i += 1
    }
    // Hill order: C, H, then binary symbol order (the sort_array key
    // "0" / "1" / "2"+sym of the composable form)
    val order = new Array[Int](syms.size)
    var m = 0
    def rank(s: UTF8String): Int = if (s == C) 0 else if (s == H) 1 else 2
    while (m < order.length) { order(m) = m; m += 1 }
    // insertion sort on (rank, sym) — d is single digits
    var a = 1
    while (a < order.length) {
      val cur = order(a)
      val rc = rank(syms.get(cur)); val sc = syms.get(cur)
      var b = a - 1
      while (b >= 0 && {
        val o = order(b)
        val ro = rank(syms.get(o))
        ro > rc || (ro == rc && syms.get(o).compareTo(sc) > 0)
      }) { order(b + 1) = order(b); b -= 1 }
      order(b + 1) = cur
      a += 1
    }
    val sb = new java.lang.StringBuilder(16)
    var k = 0
    while (k < order.length) {
      val idx = order(k)
      sb.append(syms.get(idx).toString)
      if (counts.get(idx) > 1) sb.append(counts.get(idx))
      k += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
