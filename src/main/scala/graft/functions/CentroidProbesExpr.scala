package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Codegen'd top-`nprobe` centroid scorer over a normalized embedding
  * column: returns the `nprobe` highest-dot centroids as an ordered
  * `array<struct<d: double, i: int>>` (dot descending, ties to the LARGER
  * list id — the argmax total order every IVF consumer and the DuckDB
  * oracle's `ORDER BY dt DESC, list_id DESC` agree on). Element 0 is
  * therefore the nearest-centroid ASSIGNMENT; the field list is the
  * query-side PROBE list.
  *
  * Motivation (round-16 verdict item 2): the previous spelling built the
  * per-centroid score array from PLAN LITERALS —
  * `array(struct(dot(nv, array(c₀₀, c₀₁, …)), 0), …)` — nlist·dim Literal
  * nodes in every serving plan. Under the nlist ∝ corpus deployment rule
  * that is 33k literal nodes at the 10× smoke (512×64) and ~3.3M at 100×:
  * analysis cost, Janino method splitting, and ultimately plan
  * compilation failure long before execution. Here the centroid matrix
  * rides an `addReferenceObj` (task-binary DATA, like
  * [[ClassifierMarginExpr]]'s weights), so the plan carries ONE
  * expression node regardless of nlist and the scorer is a fused
  * register loop inside whole-stage codegen.
  *
  * Why not the broadcast-join + partial-agg argmax over the published
  * centroid table (the other scale-safe spelling): that materializes
  * |rows|·nlist joined tuples through the join operator and needs a
  * window (or collect_list) per row for the top-nprobe cut — at
  * nlist = 512 that is 512 physical rows per input row versus 512
  * register-loop iterations here, and the join spelling leaves
  * probe selection as a per-query shuffle. The published parquet table
  * REMAINS the artifact of record — the array passed here is its loaded
  * value (`publishedIvfCentroids`), and the oracle replays the same
  * scoring from the same table.
  *
  * BIT-IDENTITY: each dot is the same strict left fold as
  * [[DotProductExpr]] (`s += v(t)·c(t)` in index order, common-prefix on
  * length mismatch), and the (d, i) ordering uses
  * `java.lang.Double.compare` — Spark's DoubleType total order (NaN
  * greatest, -0.0 < 0.0) — so the selected set and order equal
  * `slice(reverse(array_sort(scored)), 1, nprobe)` over the literal
  * spelling element-for-element. OperatorsSpec pins this in both codegen
  * and interpreted mode.
  */
case class CentroidProbesExpr(
    nv: Expression,
    cents: Array[Array[Double]],
    nprobe: Int)
    extends UnaryExpression {
  require(cents.nonEmpty, "centroid set must be non-empty")
  require(nprobe > 0 && nprobe <= cents.length,
    s"need 0 < nprobe <= nlist: nprobe=$nprobe nlist=${cents.length}")

  override def child: Expression = nv

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("d", DoubleType, nullable = false),
      StructField("i", IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_centroid_probes"

  override protected def stringArgs: Iterator[Any] =
    Iterator(nv, CentroidProbesExpr.render(cents), nprobe)

  override protected def nullSafeEval(input: Any): Any =
    CentroidProbesExpr.compute(input.asInstanceOf[ArrayData], cents, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = graft.functions.CentroidProbesExpr.compute(
         |  $in, $cRef, $nprobe);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): CentroidProbesExpr = copy(nv = newChild)
}

object CentroidProbesExpr {

  /** Plan-text rendering of a matrix argument: its shape plus a content
    * hash (`double[12x8]{5d1c07a2}`), the same in every JVM. The default
    * rendering prints the array's identity hash, so two explains of one
    * plan never matched. Equality and `semanticHash` are untouched.
    */
  def render(m: Array[Array[Double]]): String = {
    val hash = java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]])
    f"double[${m.length}x${m.headOption.fold(0)(_.length)}]{$hash%08x}"
  }

  /** [[render]] for an id vector: `int[12]{…}`. */
  def render(a: Array[Int]): String =
    f"int[${a.length}]{${java.util.Arrays.hashCode(a)}%08x}"

  /** Shared by interpreted eval and generated code (public + JVM-typed so
    * janino can call it). One fused pass: per centroid a sequential-fold
    * dot, then an insertion into the nprobe-slot top buffer — nprobe is
    * single-digit while nlist grows with the corpus, so insertion beats
    * a full sort and allocates nothing per centroid.
    */
  def compute(nv: ArrayData, cents: Array[Array[Double]], nprobe: Int): ArrayData = {
    val v = nv.toDoubleArray() // dense embeddings: a null element fails loudly
    val nlist = cents.length
    val topD = new Array[Double](nprobe)
    val topI = new Array[Int](nprobe)
    var filled = 0
    var c = 0
    while (c < nlist) {
      val cent = cents(c)
      val n = math.min(v.length, cent.length)
      var s = 0.0
      var t = 0
      while (t < n) { s += v(t) * cent(t); t += 1 }
      // (s, c) outranks a slot when d is strictly larger, or equal with
      // the larger list id — c only grows, so an equal-d tie always wins
      def outranks(slot: Int): Boolean = {
        val cmp = java.lang.Double.compare(s, topD(slot))
        cmp > 0 || (cmp == 0 && c > topI(slot))
      }
      if (filled < nprobe || outranks(nprobe - 1)) {
        var p = if (filled < nprobe) filled else nprobe - 1
        while (p > 0 && outranks(p - 1)) p -= 1
        val lastKeep = math.min(filled, nprobe - 1)
        var m = lastKeep
        while (m > p) { topD(m) = topD(m - 1); topI(m) = topI(m - 1); m -= 1 }
        topD(p) = s
        topI(p) = c
        if (filled < nprobe) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    var j = 0
    while (j < filled) {
      out(j) = new GenericInternalRow(Array[Any](topD(j), topI(j)))
      j += 1
    }
    new GenericArrayData(out)
  }
}
