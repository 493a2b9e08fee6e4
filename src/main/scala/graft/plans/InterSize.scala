package graft.plans

import org.apache.spark.sql.GraftExpectsLongArrayInputs
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native |A∩B| over two long-array columns — the q35/q36 verify kernel.
  *
  * Why not `size(array_intersect(a, b))`: the built-in materializes the
  * intersection (hash set + output array + GenericArrayData box per row)
  * just to have it counted and discarded. On the verify join — candidates ×
  * ~50-element arrays, the hot allocation site of the whole dedup family —
  * this expression computes the COUNT with one small primitive scratch
  * table and no output structure, participates in whole-stage codegen like
  * any binary expression (static-kernel call, no catalyst↔JVM row
  * conversion), and measurably cuts the GC pressure the full-suite bench
  * attributes to the pair build (BENCH_DETAIL
  * `query_metrics["stage:jaccard_pairs_build"]`).
  *
  * PRECONDITION (same as the `size(array_intersect)` form it replaces, see
  * the interCount call sites): inputs are per-doc-DISTINCT arrays with no
  * null elements — the shingle kernel's output shape. Under that
  * precondition the count equals multiset-intersection size exactly.
  */
case class InterSize(left: Expression, right: Expression)
    extends BinaryExpression with GraftExpectsLongArrayInputs {
  // analysis-time input contract: applied to anything but long arrays, the
  // kernel's getLong would miscount or throw inside codegen — the mixed-in
  // inputTypes (array<bigint>, array<bigint>) fails analysis instead

  override def dataType: DataType = LongType
  override def prettyName: String = "inter_size"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    InterSize.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.InterSize.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterSize =
    copy(left = newLeft, right = newRight)
}

object InterSize {

  /** Static kernel referenced from generated Java code. Open-addressing
    * probe table over the SMALLER side (power-of-two capacity ≥ 2n, linear
    * probing, used-flag array so 0L needs no sentinel), then one pass over
    * the larger side counting hits. O(n + m), two small primitive arrays of
    * scratch, nothing boxed, nothing materialized. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    val (small, ns, big, nbg) = if (na <= nb) (a, na, b, nb) else (b, nb, a, na)
    var cap = 4
    while (cap < ns * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var i = 0
    while (i < ns) {
      val v = small.getLong(i)
      var slot = (java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L)) & mask
      var placed = false
      while (!placed) {
        if (!used(slot)) { table(slot) = v; used(slot) = true; placed = true }
        else if (table(slot) == v) placed = true // distinct input: no-op
        else slot = (slot + 1) & mask
      }
      i += 1
    }
    var hits = 0L
    i = 0
    while (i < nbg) {
      val v = big.getLong(i)
      var slot = (java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L)) & mask
      var done = false
      while (!done) {
        if (!used(slot)) done = true
        else if (table(slot) == v) { hits += 1L; done = true }
        else slot = (slot + 1) & mask
      }
      i += 1
    }
    hits
  }
}
