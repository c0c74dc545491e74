package graft

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.engine.OpCache

/** The ONE full-surface sweep shared by CacheSpec's block-manager check
  * and PlanSpec's two plan guards: each SparkEntry query is built once,
  * and that frame is judged three ways — its physical plan, its optimized
  * plan, and the block manager after running it and calling
  * [[graft.engine.OpCache.release]]. The findings are computed on first
  * use and memoized for the JVM, so whichever of the three tests runs
  * first pays for the sweep and each test asserts its own part. A build
  * or run that throws fails all three.
  */
object SurfaceSweep {

  /** What one query's frame showed. `nestedLoop` is judged against
    * PlanSpec's bounded allowlist by the test that owns it. */
  final case class Judged(
      name: String,
      cartesian: Boolean,
      nestedLoop: Boolean,
      unboundedWindow: Boolean,
      leaked: Option[String])

  /** `siblingLeftovers`: persisted RDDs still registered after sweeping
    * what sibling suites of the shared session left behind (must be 0
    * for the per-query leak check to mean anything). */
  final case class Findings(siblingLeftovers: Int, queries: Seq[Judged])

  private var memo: Option[Try[Findings]] = None

  def findings(spark: SparkSession, sf: String): Findings = synchronized {
    if (memo.isEmpty) memo = Some(Try(sweep(spark, sf)))
    memo.get.get
  }

  private def sweep(spark: SparkSession, sf: String): Findings = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // defend against sibling suites of the shared session having toggled
    // join-strategy confs — this sweep judges the library's plans under
    // the engine defaults
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // sweep whatever sibling suites sharing this session left behind
    OpCache.release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val siblingLeftovers = spark.sparkContext.getPersistentRDDs.size

    val judged = for (name <- SparkEntry.queries.keys.toSeq.sorted) yield {
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // an unpartitioned Window serializes its whole input through ONE
      // reducer — the round-3 scale-killer in tokenBudgetSelect and
      // qualityDeciles. The only allowed shape is GlobalOrder's offset
      // table: a window whose subtree aggregates by the __gpid partition
      // id, which bounds the window's input at the shuffle partition count.
      val unboundedWindow = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst {
            case a: Aggregate if a.groupingExpressions.exists {
              case ar: AttributeReference => ar.name == graft.engine.GlobalOrder.PidCol
              case _ => false
            } => a
          }.isEmpty => w
      }.nonEmpty
      df.count()
      OpCache.release(spark)
      val left = spark.sparkContext.getPersistentRDDs
      val leaked =
        if (left.isEmpty) None
        else Some(s"$name leaked ${left.size} persisted RDDs after release: " +
          left.map { case (id, r) => s"$id:${r.name}" }.mkString(", "))
      // a leak is recorded against its own query, not the ones after it
      left.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      Judged(name, plan.contains("CartesianProduct"),
        plan.contains("BroadcastNestedLoopJoin"), unboundedWindow, leaked)
    }
    Findings(siblingLeftovers, judged)
  }
}
