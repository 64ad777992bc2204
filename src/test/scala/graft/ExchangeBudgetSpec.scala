package graft

import java.nio.file.Paths

/** Registry-wide shuffle-budget ratchet (VERDICT r09 item 4).
  *
  * PlanSpec pins the known-risk plan shapes by hand; this suite guards
  * the other ~190 queries the same way the fuzz teeth work: the Exchange
  * counts of EVERY registered query's physical plan are recorded in a
  * committed golden file, and any drift — a new shuffle slipped into an
  * untested query by a refactor, a broadcast that silently fell back to a
  * shuffle — fails here before it ships. At sf0.001 a stray exchange
  * costs microseconds and no test would notice; at 100 TB it's a
  * full-data shuffle, which is exactly why the count is pinned rather
  * than the runtime.
  *
  * Counted on `executedPlan` (the AQE initial plan): `sparkPlan` is the
  * strategy output BEFORE EnsureRequirements, where exchanges from
  * required distributions don't exist yet, so it would undercount to
  * near-zero. Counts are parsed from the plan string because
  * AdaptiveSparkPlanExec doesn't expose its initial plan as children for
  * `collect`. Scalar-subquery subtrees render as expressions, not
  * operators, so their internal exchanges are out of scope — the budget
  * is a drift detector with a fixed methodology, not an absolute shuffle
  * census.
  *
  * The counts are STATIC-TREE upper bounds on runtime shuffles: a
  * multi-consumer subtree (e.g. text_source_divergence's per-source
  * token counts feeding three aggregations) appears once per consumer in
  * the initial plan, but AQE's stage reuse materializes identical
  * subtrees once — measured on text_source_divergence at sf0.001: 10
  * static exchanges, 9 runtime ShuffleQueryStages with 2 reuse markers,
  * so the expensive scan+explode+aggregate base runs once. Drift in the
  * static count still means a real plan change, which is what's pinned.
  *
  * Golden file: src/test/resources/exchange-budget.tsv, updated through
  * [[BudgetRatchet]]'s workflow.
  */
class ExchangeBudgetSpec extends SparkSpec with BudgetRatchet {

  private val budgetPath = Paths.get("src/test/resources/exchange-budget.tsv")

  test("the exchange counter has teeth: added shuffles are visible") {
    // Teeth convention: before trusting the ratchet, prove the counter
    // registers the regression class it guards against. NOT built on a
    // registry query: bolting .repartition onto one that ends in orderBy
    // does not ADD an exchange — Catalyst's EliminateSorts drops the sort
    // under the repartition, swapping the range exchange for a hash one
    // (net zero; first draft of this test failed exactly that way). A
    // neutral fixture isolates the counter itself.
    import org.apache.spark.sql.functions._
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      BudgetRatchet.exchangeCounts(df.queryExecution.executedPlan.toString)._1
    val base = spark.range(100).toDF("id")
    assert(shuffles(base) === 0)
    assert(shuffles(base.repartition(8, col("id"))) === 1,
      "counter blind to an added hash repartition")
    assert(shuffles(base.groupBy(col("id") % 7).count()) === 1,
      "counter blind to an aggregation exchange")
  }

  test("every registered query's Exchange counts match the committed budget") {
    val actual = Registry.all.map(_.name).sorted.map { n =>
      val (shuffles, broadcasts) = BudgetRatchet.exchangeCounts(
        Registry.queries(n)(spark, sf0001).queryExecution.executedPlan.toString)
      n -> s"$shuffles\t$broadcasts"
    }
    assertMatchesBudget(budgetPath, "Exchange budget",
      "shuffle_exchanges\tbroadcast_exchanges", actual)
  }
}
