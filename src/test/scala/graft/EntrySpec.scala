package graft

/** Smoke: driver contract — entry() returns rows; every oracle key has a
  * query and vice-versa (a dangling oracle would zero the round).
  */
class EntrySpec extends SparkTestBase {

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys ⊆ queries keys") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
  }

  test("EVERY query has an oracle — no rows-only rows") {
    // engine-specific values (sketches, approx bounds) are emitted as
    // error-bound booleans the oracle re-derives exactly, so nothing
    // is exempt; this pins against silently losing an oracle
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries missing oracles: $missing")
  }

  test("every query runs and returns rows on sf0.001") {
    val empty = SparkEntry.queries.filter { case (_, fn) =>
      fn(spark, sf).isEmpty
    }.keys
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("plan audit: file-scan count stays bounded per query " +
      "(multi-reference inlining guard)") {
    // Catalyst inlines a subtree once per reference and runtime
    // exchange reuse does not always collapse the copies, so a query
    // that references one derived frame many times can put dozens of
    // copies of its source scan in one plan. This pins every
    // registered query below a generous scan budget so that class of
    // blowup can never land silently again.
    val budget = 12
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (n, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        n -> "Scan parquet".r.findAllIn(plan).size
    }
    info("top scan counts: " + counts.sortBy(-_._2).take(8)
      .map { case (n, c) => s"$n=$c" }.mkString(", "))
    val over = counts.filter { case (_, c) => c > budget }
    assert(over.isEmpty,
      s"scan blowup (> budget copies): ${over.mkString(", ")}")
  }
}
