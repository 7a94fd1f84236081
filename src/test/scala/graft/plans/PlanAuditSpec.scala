package graft.plans

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plan audit as a PERMANENT gate — round 8's one-off honesty
  * encoded so it can never go stale again (the round-7 "zero
  * SinglePartition" claim rotted precisely because it was a manual
  * sweep with a broken grep spelling; see PlanAudit's scaladoc).
  *
  * For EVERY query in SparkEntry.queries this spec parses the formatted
  * physical plan and asserts the scale-killer shapes only occur over
  * bounded inputs:
  *   - `Exchange SinglePartition` must be (a) the global-aggregate
  *     final pass (producer = keys-empty partial aggregate — one
  *     pre-combined row per upstream partition) or (b) the two-phase
  *     rank machinery's `__b*` bucket-totals table (≤256 rows by
  *     construction);
  *   - `CartesianProduct`: zero, everywhere, no exceptions;
  *   - global windows (windowspecdefinition without partition keys):
  *     same `__b*` rule;
  *   - `BroadcastNestedLoopJoin`: only the 1-row scalar broadcast shape.
  *
  * No query has an allowance. A new query that reintroduces a data-sized
  * global window or single-partition sort FAILS this spec (proven by the
  * planted-offender tests at the bottom) and must be refactored onto the
  * bucketed two-phase machinery.
  */
class PlanAuditSpec extends SparkTestBase {

  /** Bucket-machinery columns: the ≤`buckets`-row bucket-totals tables
    * of ops/Ranks and ext/Eval.strictlyBelow (`__b`, `__bk`, `__bt_*`,
    * `__bucket`, `__btot`, ...). Token-anchored, not substring: a
    * column NAMED with the `__b` prefix qualifies, an unrelated name
    * merely containing "__b" does not. */
  private def isBucketBounded(input: String): Boolean =
    input.stripPrefix("[").stripSuffix("]").split(", ")
      .exists(_.startsWith("__b"))

  test("every query plan: SinglePartition exchanges, global windows " +
    "and cartesian products only over bounded inputs") {
    val sfDir = sf
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    var audited = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val report = PlanAudit.audit(fn(spark, sfDir))
      audited += 1
      report.cartesianProducts.foreach(cp =>
        violations += s"$name: CartesianProduct id=${cp.id}")
      report.singlePartitionExchanges
        .filterNot(PlanAudit.isPartialAggFinalPass(report, _))
        .filterNot(ex => isBucketBounded(ex.input))
        .foreach(ex => violations += s"$name: SinglePartition " +
          s"exchange id=${ex.id} over ${ex.input} (child " +
          s"${report.childOf(ex).map(_.name).getOrElse("?")})")
      report.globalWindows
        .filterNot(w => isBucketBounded(w.input))
        .foreach(w => violations += s"$name: global window " +
          s"id=${w.id} over ${w.input}")
      report.broadcastNestedLoops
        .filterNot(PlanAudit.isScalarBroadcastBNLJ(report, _))
        .foreach(b => violations += s"$name: non-scalar " +
          s"BroadcastNestedLoopJoin id=${b.id}")
    }
    assert(audited == SparkEntry.queries.size)
    assert(violations.isEmpty,
      s"\n${violations.size} scale-killer shapes:\n" +
        violations.mkString("\n"))
  }

  test("a planted data-sized broadcast nested loop IS flagged, while " +
    "the 1-row scalar crossJoin shape is structurally excused") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    // data-sized build side under a non-equi condition -> must flag
    val bad = orders.join(broadcast(li),
      col("o_orderkey") > col("l_orderkey"))
    val badReport = PlanAudit.audit(bad)
    assert(badReport.broadcastNestedLoops.nonEmpty)
    assert(badReport.broadcastNestedLoops.exists(b =>
      !PlanAudit.isScalarBroadcastBNLJ(badReport, b)),
      "data-sized BNLJ wrongly excused as scalar")
    // 1-row scalar attach (keys-empty aggregate broadcast) -> excused
    val stats = li.agg(sum(col("l_quantity")).as("__tot"))
    val good = orders.crossJoin(broadcast(stats))
    val goodReport = PlanAudit.audit(good)
    assert(goodReport.broadcastNestedLoops.nonEmpty,
      "expected the scalar crossJoin to plan as BNLJ")
    assert(goodReport.broadcastNestedLoops.forall(b =>
      PlanAudit.isScalarBroadcastBNLJ(goodReport, b)),
      "scalar 1-row broadcast wrongly flagged")
  }

  test("a planted data-sized global window IS flagged (the gate bites)") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("rn", row_number().over(
        Window.orderBy(col("o_totalprice"))))
    val report = PlanAudit.audit(df)
    assert(report.globalWindows.nonEmpty,
      "auditor missed a no-partitionBy window")
    assert(report.globalWindows.exists(w => !isBucketBounded(w.input)),
      "planted offender wrongly classified as bucket-bounded")
    // and the single-partition exchange feeding it is not excusable as
    // a global-agg final pass
    val sp = report.singlePartitionExchanges
      .filterNot(PlanAudit.isPartialAggFinalPass(report, _))
    assert(sp.nonEmpty, "auditor missed the single-partition exchange")
  }

  test("a planted cartesian product IS flagged") {
    val a = spark.read.parquet(s"$sf/nation.parquet")
      .hint("shuffle_replicate_nl")
    val b = spark.read.parquet(s"$sf/region.parquet")
    val df = a.join(b, col("n_nationkey") > col("r_regionkey"))
    val report = PlanAudit.audit(df)
    assert(report.cartesianProducts.nonEmpty)
  }

  test("windowspecdefinition partition detection: partitioned specs " +
    "pass, global specs flag, nested parens don't confuse the scan") {
    assert(PlanAudit.hasGlobalWindowSpec(
      "[sum(x#1L) windowspecdefinition(s#2 ASC NULLS FIRST, " +
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) " +
        "AS y#3L], [s#2 ASC NULLS FIRST]"))
    assert(!PlanAudit.hasGlobalWindowSpec(
      "[sum(x#1L) windowspecdefinition(__b#9, s#2 ASC NULLS FIRST, " +
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) " +
        "AS y#3L], [__b#9], [s#2 ASC NULLS FIRST]"))
    assert(!PlanAudit.hasGlobalWindowSpec(
      "[first(coalesce(a#1, b#2)) windowspecdefinition(k#3, " +
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), " +
        "currentrow$())) AS f#4]"))
    assert(!PlanAudit.hasGlobalWindowSpec("no window spec here"))
  }
}
