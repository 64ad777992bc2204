package graft

/** Ratchet for the round-17 full-inventory scaling program: every
  * registry op must carry a measured curve in the latest cumulative
  * artifact, SCALING_r22.json, measured on the corpus family ScalingBench
  * routes it to, and the file's own count must match the registry.
  *
  * Why a test and not just a narrative: the unmeasured tail is exactly
  * where round 17 found real structure (agg_spearman's rank-sum Long
  * overflow, eight closed-key window funnels) — so ADDING an op without
  * measuring its growth should be a red test, not a silent gap. A new
  * op fails here until its curve is consolidated into the artifact
  * (run ScalingBench, rebuild the json, bump ops_measured).
  *
  * The artifact checks are textual on purpose: the artifact is a committed,
  * generator-owned file (BASELINE.md "SCALING_r17.json" section), its
  * ops map keys are written as `"<name>": {` at a fixed indent, and op
  * names never collide with field names — no JSON parser dependency
  * needed in the test classpath.
  */
class ScalingCoverageSpec extends SparkSpec {

  private lazy val artifact: String = {
    val src = scala.io.Source.fromFile("SCALING_r22.json")
    try src.mkString finally src.close()
  }

  test("every registry op has a measured scaling curve in SCALING_r22.json") {
    val missing = Registry.all.map(_.name).filterNot(n => artifact.contains(s""""$n": {"""))
    assert(missing.isEmpty,
      s"ops without a measured curve (run ScalingBench and re-consolidate): $missing")
  }

  test("the artifact's own count matches the registry (forces re-consolidation on growth)") {
    assert(artifact.contains(s""""ops_total": ${Registry.all.size}"""),
      s"SCALING_r22.json ops_total != registry size ${Registry.all.size} — re-consolidate")
    assert(artifact.contains(s""""ops_measured": ${Registry.all.size}"""),
      s"SCALING_r22.json ops_measured != registry size ${Registry.all.size} — measure the new ops")
  }

  test("no undisposed weak verdicts ride in the artifact") {
    // A genuinely weak finding is allowed — but only acknowledged: it must
    // be listed in the weak array (and, per round protocol, carry a
    // BASELINE.md narrative + a rewrite queue entry). An empty list plus
    // any WEAK verdict in the body means the consolidation step was
    // skipped.
    if (artifact.contains(""""weak": []""")) {
      assert(!artifact.contains(""""verdict": "WEAK""""),
        "WEAK verdict present but weak list is empty — re-consolidate")
    }
  }

  test("every op's recorded family is the corpus family ScalingBench routes it to") {
    // The artifact's `family` ("relational+customer" for an extra-replication
    // arm) names the corpus the curve was measured on; the harness routes
    // from the tables each plan reads, so a query that starts reading a
    // different table family must be re-measured, not carried forward.
    val recorded = """"(\w+)": \{\s*"family": "(\w+)""".r.findAllMatchIn(artifact)
      .map(m => m.group(1) -> m.group(2)).toMap
    val wrong = Registry.all.map(_.name).flatMap { op =>
      val tables = ScalingBench.tablesRead(spark, op, SparkSpec.freshDir(sf0001))
      val routed = ScalingBench.familyOf(tables)
      if (recorded.get(op).contains(routed)) None
      else Some(s"$op: recorded ${recorded.get(op)}, routed $routed from $tables")
    }
    assert(wrong.isEmpty, s"family drift (re-measure these ops):\n${wrong.mkString("\n")}")
  }
}
