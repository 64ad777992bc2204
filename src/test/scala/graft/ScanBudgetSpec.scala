package graft

import java.nio.file.Paths
import scala.collection.mutable

/** Registry-wide LIVE-SCAN ratchet (round 11, the agg_chi_square lesson
  * generalized).
  *
  * ExchangeBudgetSpec pins static shuffle counts; this suite pins what
  * each query actually READS: the per-table count of live parquet-scan
  * subtrees in the FINAL adaptive plan, after AQE stage reuse has
  * collapsed whatever it is going to collapse (so each query is executed,
  * not just planned — runtime reuse is the whole point; the static tree
  * over-reports exactly the shapes this suite exists to distinguish). A
  * query silently growing a second full read of a 100 TB table — a lost
  * ReusedExchange, a refactor splitting a shared base into unequal
  * subtrees, a new self-join that was meant to be a reuse — fails here
  * before it ships, instead of surviving until a manual plan audit.
  *
  * Second, sharper invariant: NO query repeats an IDENTICAL scan
  * signature (same pruned columns + pushed/partition filters ⇒ same
  * bytes read twice) unless it is a justified entry in
  * [[identicalRepeatExceptions]]. Distinct-signature repeats are by
  * construction — a self-join's two sides, a tiny profile pass feeding a
  * broadcast beside the full probe pass — and are pinned by count in the
  * golden file instead. The round-11 audit found exactly four
  * identical-signature offenders; three (sketch_cms_heavy_hitters,
  * text_logprob_score, ts_active_concurrency) were restructured to scan
  * once, and the fourth (win_ntile) is the exception below.
  *
  * Counting and signature extraction live in [[ScanAudit]] (also a
  * standalone main for ad-hoc audits at other scales). Golden files:
  * src/test/resources/scan-budget.tsv and read-width.tsv, updated through
  * [[BudgetRatchet]]'s workflow.
  */
class ScanBudgetSpec extends SparkSpec with BudgetRatchet {

  private val budgetPath = Paths.get("src/test/resources/scan-budget.tsv")
  private val widthPath = Paths.get("src/test/resources/read-width.tsv")

  /** query -> tables allowed to repeat an identical scan signature, each
    * with a measured justification. Adding an entry requires showing the
    * scan-once alternatives are WORSE at 100 TB, not just that the repeat
    * exists.
    *
    *  - win_ntile/customer: the per-bucket count pass re-reads ONE pruned
    *    column (c_acctbal) and partial-aggregates it map-side to ≤66 rows
    *    per task. Measured round 11: AQE stage reuse does not fire for
    *    its window-vs-aggregate consumer pair (column pruning makes the
    *    subtrees unequal — the agg_chi_square class), deriving counts
    *    from the ranked stream sorts the full table twice, materializing
    *    the bucketed table checkpoints a full-table intermediate, and a
    *    global ORDER BY window is a single-partition chokepoint. The
    *    repeat is also load-bearingly SEQUENTIAL: bucket bounds need the
    *    min/max pass's result before the count pass can start.
    */
  private val identicalRepeatExceptions: Map[String, Set[String]] =
    Map(
      "win_ntile" -> Set("customer"),
      // agg_trimmed_mean/orders (round 17, VERDICT r16 #1): the exact
      // trimmed mean is a two-pass SELECTION — pass 1 computes per-priority
      // counts/totals and the percentile fence grid, pass 2 band-classifies
      // every row AGAINST those fences, so the repeat is load-bearingly
      // SEQUENTIAL (the fences must exist before a row can be classified;
      // the classic exact-selection lower bound). Both passes read the same
      // pruned 2-column projection map-side-aggregated to ≤5+band rows per
      // task. The scan-once alternative IS the previous formulation — rank
      // every raw row in a window partitioned on the closed 5-value key —
      // which the round-16 scaling harness measured as a 5-task sort
      // funnel (6.4–6.7× step per 8× data, 168 MB/task at ×64) and graded
      // `weak`; re-reading 2 columns once more is strictly cheaper at
      // 100 TB than sorting the table on 5 tasks.
      "agg_trimmed_mean" -> Set("orders"),
      // Round-17 closed-key sweep, second wave — all four share the
      // win_ntile/agg_trimmed_mean justification: the two-phase bucket
      // decomposition is load-bearingly SEQUENTIAL (bucket bounds/counts
      // must exist before a row can be offset against them), AQE stage
      // reuse does not fire for the window-vs-aggregate consumer pair
      // (the agg_chi_square class), and the scan-once alternative IS the
      // closed-key sort funnel the round-17 scaling harness measured and
      // these rewrites removed. Each repeat re-reads a 2-3 column pruned
      // projection that partial-aggregates map-side to ≤ keys×66 rows.
      "win_cume_dist" -> Set("customer"),
      "win_pct_rank" -> Set("customer"),
      "agg_percentile_disc" -> Set("customer"),
      // win_first_nth's repeat (round 18): the bounded top-2 typed
      // aggregate needs one full pass, and the per-row output join needs
      // the rows again — the selection-then-annotate minimum. Both reads
      // are the same 3-column pruned projection; the first collapses
      // map-side to a 2-slot state per (brand, task).
      "win_first_nth" -> Set("part"),
      // ts_active_concurrency left this list in round 18: the peak is
      // max(off + per-bucket max(lcum)), a per-group answer needing no
      // join back — the op now scans events exactly once.
      "text_pack_bins" -> Set("documents"))

  test("the scan counter has teeth: duplicate and reused scans are visible") {
    import org.apache.spark.sql.functions._
    def counts(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      ScanAudit.liveScans(df.queryExecution.executedPlan, mutable.Set.empty[Int])
    }
    val one = spark.read.parquet(s"$sf0001/region.parquet")
    assert(counts(one).size === 1, "counter blind to a plain scan")
    // A self-union scans twice with one signature — the exact class the
    // identical-signature invariant rejects in registry queries.
    val twice = counts(one.unionAll(one))
    assert(twice.size === 2 && twice.map(_.sig).distinct.size === 1,
      "counter blind to a duplicated identical scan")
    // A pushed-down filter on one side ⇒ different signatures.
    val filtered = counts(one.select("r_regionkey")
      .unionAll(one.filter(col("r_regionkey") > 0).select("r_regionkey")))
    assert(filtered.size === 2 && filtered.map(_.sig).distinct.size === 2,
      "counter blind to pushed-filter differences between scans")
    // Width teeth: a 1-column projection must report width 1, and losing
    // the pruning (reading the full row for the same answer) must be a
    // VISIBLE width change — the read-width golden file's failure mode.
    val narrow = counts(one.select("r_regionkey"))
    assert(narrow.map(_.width) === Seq(1), "width counter blind to pruning")
    val wide = counts(one)
    assert(wide.map(_.width) === Seq(2),
      "width counter blind to a full-width scan")
  }

  test("every query's live scan counts match the budget; no identical-signature repeats") {
    val scans: Seq[(String, Seq[ScanAudit.LiveScan])] =
      Registry.all.map(_.name).sorted.map { n =>
        n -> ScanAudit.runLiveScans(spark, n, sf0001)
      }
    val actual: Seq[(String, Map[String, (Int, Int)])] =
      scans.map { case (n, xs) => n -> ScanAudit.groupCounts(xs) }

    def fmt(m: Map[String, (Int, Int)]): String =
      m.toSeq.sorted.map { case (t, (n, sigs)) => s"$t:$n:$sigs" }.mkString(",")
    assertMatchesBudget(budgetPath, "Scan budget",
      "table:live_scans:distinct_signatures,... — final adaptive plan at sf0.001",
      actual.map { case (n, m) => n -> fmt(m) })

    // READ-WIDTH ratchet (round 14): pin each live scan's pruned
    // data-column count. The count/signature budget above cannot see a
    // scan silently WIDENING — a projection refactor that reads the full
    // row for a 2-column answer keeps live_scans:distinct_signatures
    // intact while multiplying bytes read at 100 TB. Same execution pass
    // as the scan budget — this pins the same final adaptive plans.
    def fmtW(m: Map[String, Seq[Int]]): String =
      m.toSeq.sortBy(_._1).map { case (t, ws) => s"$t:${ws.mkString("+")}" }.mkString(",")
    assertMatchesBudget(widthPath,
      "Read-width (a scan's pruned column set changed; a WIDER scan multiplies bytes read at 100 TB)",
      "table:width[+width...],... — pruned data-column count of each live scan, " +
        "final adaptive plan at sf0.001",
      scans.map { case (n, xs) => n -> fmtW(ScanAudit.groupWidths(xs)) })

    val repeats = actual.flatMap { case (n, m) =>
      m.collect {
        case (t, (c, sigs)) if sigs < c &&
          !identicalRepeatExceptions.get(n).exists(_.contains(t)) =>
          s"$n: $t x$c with $sigs signature(s)"
      }
    }
    assert(repeats.isEmpty,
      s"""identical scan signature repeated — the same bytes read more than once at 100 TB
         |(restructure to scan once — derived aggregate, explode, narrower second pass —
         |or add a measured justification to identicalRepeatExceptions):
         |  ${repeats.mkString("\n  ")}""".stripMargin)
    val staleExceptions = identicalRepeatExceptions.flatMap { case (n, ts) =>
      val m = actual.find(_._1 == n).map(_._2).getOrElse(Map.empty)
      ts.filterNot(t => m.get(t).exists { case (c, sigs) => sigs < c })
        .map(t => s"$n/$t")
    }
    assert(staleExceptions.isEmpty,
      s"exception entries no longer needed (repeat gone — remove them): ${staleExceptions.mkString(", ")}")
  }
}
