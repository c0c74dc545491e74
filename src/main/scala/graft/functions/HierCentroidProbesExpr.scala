package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Two-level (coarse-quantized) probe selection — the sub-linear sibling
  * of [[CentroidProbesExpr]]: stage 1 scores the `gcents` GROUP centroids
  * (k-means over the centroids themselves, ~√nlist of them) and keeps the
  * top `gprobe` groups; stage 2 scores ONLY those groups' member
  * centroids and returns the top `nprobe` as the same ordered
  * `array<struct<d: double, i: int>>` (dot descending, ties to the larger
  * list id). Per query that is O(√nlist·(1 + gprobe)) dots instead of
  * O(nlist) — under the nlist ∝ corpus deployment rule the difference
  * between probe selection that grows linearly with the corpus and one
  * that grows as its square root (IvfServingBench measures both).
  *
  * Selection is approximate BY DESIGN (exactly like IVF probing itself):
  * a true top-nprobe centroid in an unprobed group is missed, which is
  * quantization error the recall gate measures, not a bug. With
  * `gprobe = ngroups` every member is scored and the output is pinned
  * bit-identical to [[CentroidProbesExpr]] (OperatorsSpec).
  *
  * The group table is published parquet beside the centroid table; the
  * centroid→group map is derived with [[graft.operators.Similarity
  * .assignGroup]]'s argmax (ties → larger group id) on BOTH engines, so
  * the DuckDB oracle replays stage 1 and stage 2 from published values
  * alone. Both matrices ride `addReferenceObj` — constant plan size in
  * nlist, fused loops inside whole-stage codegen.
  */
case class HierCentroidProbesExpr(
    nv: Expression,
    gcents: Array[Array[Double]],
    groupOf: Array[Int],
    cents: Array[Array[Double]],
    gprobe: Int,
    nprobe: Int)
    extends UnaryExpression {
  require(gcents.nonEmpty && cents.nonEmpty, "centroid sets must be non-empty")
  require(groupOf.length == cents.length,
    s"groupOf must map every centroid: ${groupOf.length} vs ${cents.length}")
  require(gprobe > 0 && gprobe <= gcents.length,
    s"need 0 < gprobe <= ngroups: gprobe=$gprobe ngroups=${gcents.length}")
  require(nprobe > 0 && nprobe <= cents.length,
    s"need 0 < nprobe <= nlist: nprobe=$nprobe nlist=${cents.length}")
  require(groupOf.forall(g => g >= 0 && g < gcents.length),
    "groupOf carries an out-of-range group id")

  override def child: Expression = nv

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("d", DoubleType, nullable = false),
      StructField("i", IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_hier_centroid_probes"

  override protected def stringArgs: Iterator[Any] = {
    import CentroidProbesExpr.render
    Iterator(nv, render(gcents), render(groupOf), render(cents), gprobe, nprobe)
  }

  /** Member centroid ids per group, ascending — built once per plan, not
    * per row; rides the expression into the task binary like the
    * matrices themselves.
    */
  @transient private lazy val members: Array[Array[Int]] = {
    val buf = Array.fill(gcents.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < groupOf.length) { buf(groupOf(i)) += i; i += 1 }
    buf.map(_.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    HierCentroidProbesExpr.compute(
      input.asInstanceOf[ArrayData], gcents, members, cents, gprobe, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gRef = ctx.addReferenceObj("ivfGroupCents", gcents, "double[][]")
    val mRef = ctx.addReferenceObj("ivfGroupMembers", members, "int[][]")
    val cRef = ctx.addReferenceObj("ivfCentroids", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, in => {
      s"""
         |${ev.value} = graft.functions.HierCentroidProbesExpr.compute(
         |  $in, $gRef, $mRef, $cRef, $gprobe, $nprobe);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): HierCentroidProbesExpr = copy(nv = newChild)
}

object HierCentroidProbesExpr {

  /** Insertion top-k by (d desc, id desc) — the [[CentroidProbesExpr]]
    * selection generalized to out-of-order candidate streams (stage 2
    * visits members group by group, so ids are NOT globally increasing;
    * the full comparator keeps ties exact regardless of arrival order).
    */
  private final class TopBuf(k: Int) {
    val d = new Array[Double](k)
    val id = new Array[Int](k)
    var filled = 0
    def offer(s: Double, c: Int): Unit = {
      def outranks(slot: Int): Boolean = {
        val cmp = java.lang.Double.compare(s, d(slot))
        cmp > 0 || (cmp == 0 && c > id(slot))
      }
      if (filled < k || outranks(k - 1)) {
        var p = if (filled < k) filled else k - 1
        while (p > 0 && outranks(p - 1)) p -= 1
        val lastKeep = math.min(filled, k - 1)
        var m = lastKeep
        while (m > p) { d(m) = d(m - 1); id(m) = id(m - 1); m -= 1 }
        d(p) = s
        id(p) = c
        if (filled < k) filled += 1
      }
    }
  }

  private def dot(v: Array[Double], c: Array[Double]): Double = {
    val n = math.min(v.length, c.length)
    var s = 0.0
    var t = 0
    while (t < n) { s += v(t) * c(t); t += 1 }
    s
  }

  def compute(
      nv: ArrayData,
      gcents: Array[Array[Double]],
      members: Array[Array[Int]],
      cents: Array[Array[Double]],
      gprobe: Int,
      nprobe: Int): ArrayData = {
    val v = nv.toDoubleArray() // dense embeddings: a null element fails loudly
    // stage 1: top-gprobe groups by (gdot desc, group_id desc)
    val groups = new TopBuf(gprobe)
    var j = 0
    while (j < gcents.length) { groups.offer(dot(v, gcents(j)), j); j += 1 }
    // stage 2: top-nprobe centroids among the selected groups' members
    val top = new TopBuf(nprobe)
    var s = 0
    while (s < groups.filled) {
      val mem = members(groups.id(s))
      var m = 0
      while (m < mem.length) {
        val c = mem(m)
        top.offer(dot(v, cents(c)), c)
        m += 1
      }
      s += 1
    }
    val out = new Array[Any](top.filled)
    var o = 0
    while (o < top.filled) {
      out(o) = new GenericInternalRow(Array[Any](top.d(o), top.id(o)))
      o += 1
    }
    new GenericArrayData(out)
  }
}
