package graft.operators

import graft.{Exact, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2 B.1 scans, B.2 projection/filter, B.6 sort/limit, B.7 set ops.
  *
  * All plain declarative DataFrame plans — Catalyst pushes the predicates and
  * prunes columns down to the parquet scan (verified in RelationalSpec via
  * `explain`), which is what keeps these cheap at 100 TB: the scan reads only
  * the referenced columns and row groups.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------- B.1 scans
    QueryDef(
      "scan_full",
      (s, d) => Tables.nation(s, d).orderBy("n_nationkey"),
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    QueryDef(
      "scan_project_filter",
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity")
          .filter(col("l_quantity") > 45)
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "scan_union_sources",
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
        o.filter(col("o_orderstatus") === "F")
          .unionByName(o.filter(col("o_orderstatus") === "P"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
             |ORDER BY o_orderkey""".stripMargin)),

    // ----------------------------------------------- B.2 projection / filter
    QueryDef(
      "filter_compound",
      (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderstatus").isin("F", "P") &&
            (col("o_totalprice").between(100000d, 200000d) ||
              col("o_orderpriority").like("1-%")))
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders
             |WHERE o_orderstatus IN ('F','P')
             |  AND (o_totalprice BETWEEN 100000 AND 200000 OR o_orderpriority LIKE '1-%')
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "project_expr",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            Exact.roundN(col("l_extendedprice") * (lit(1d) - col("l_discount")), 2).as("revenue"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some(s"""SELECT l_orderkey, l_linenumber,
              |  ${Exact.roundNSql("l_extendedprice * (1 - l_discount)", 2)} AS revenue
              |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef(
      "filter_null_semantics",
      (s, d) =>
        Tables.lineitem(s, d)
          .withColumn("tax_n", nullif(col("l_tax"), lit(0.0d)))
          .filter(col("tax_n").isNull)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            coalesce(col("tax_n"), lit(-1.0d)).as("tax_filled"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, COALESCE(NULLIF(l_tax, 0.0), -1.0) AS tax_filled
             |FROM lineitem WHERE NULLIF(l_tax, 0.0) IS NULL
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Correlated scalar subqueries (Catalyst decorrelates into aggregate +
    // join — the rewrite is the operator under test). Division-free
    // above-average formulation: price·count > Σprice keeps every compare
    // in exact arithmetic (count is exact in double, Σ goes through
    // decimal), so no avg-accumulation-order drift (D5).
    QueryDef(
      "sub_correlated",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_sub")
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
                |FROM graft_orders_sub o
                |WHERE o_totalprice * (SELECT COUNT(*) FROM graft_orders_sub o2
                |                      WHERE o2.o_custkey = o.o_custkey)
                |      > (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                |         FROM graft_orders_sub o2 WHERE o2.o_custkey = o.o_custkey)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders o
             |WHERE o_totalprice * (SELECT COUNT(*) FROM orders o2
             |                      WHERE o2.o_custkey = o.o_custkey)
             |      > (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             |         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // IN / NOT IN subquery predicates (Catalyst → left-semi / null-aware
    // anti join; subquery keys are non-null so NOT IN is well-defined).
    QueryDef(
      "sub_in_filter",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_customer_sub")
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_sub2")
        s.sql("""SELECT c_custkey, c_name FROM graft_customer_sub
                |WHERE c_custkey IN (SELECT o_custkey FROM graft_orders_sub2
                |                    WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
                |  AND c_custkey NOT IN (SELECT o_custkey FROM graft_orders_sub2
                |                        WHERE o_orderpriority = '5-LOW' AND o_orderstatus = 'F')
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders
             |                    WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
             |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
             |                        WHERE o_orderpriority = '5-LOW' AND o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // Correlated scalar subquery in the SELECT list (a different Catalyst
    // decorrelation path than the WHERE-clause form: ScalarSubquery in the
    // projection rewrites to a left outer aggregate join): each order
    // against its priority class's decimal-exact average, plus the delta.
    QueryDef(
      "sub_scalar_select",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_scalar")
        s.sql(s"""SELECT o_orderkey, o_orderpriority, o_totalprice,
                 |  CAST(ROUND(TRY_CAST((SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                 |    FROM graft_orders_scalar o2
                 |    WHERE o2.o_orderpriority = o.o_orderpriority) AS DECIMAL(38,10)), 2) AS DOUBLE) AS prio_avg
                 |FROM graft_orders_scalar o
                 |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
             |  CAST(ROUND(TRY_CAST((SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             |    FROM orders o2
             |    WHERE o2.o_orderpriority = o.o_orderpriority) AS DECIMAL(38,10)), 2) AS DOUBLE) AS prio_avg
             |FROM orders o
             |ORDER BY o_orderkey""".stripMargin)),

    // LATERAL correlated subquery (top-1-per-key flavor): each customer's
    // most recent order via a correlated ORDER BY/LIMIT — Catalyst rewrites
    // the lateral into a decorrelated join, the per-key limit into a
    // window/group-limit. Deterministic: the inner sort is total.
    QueryDef(
      "sub_lateral",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("graft_customer_lat")
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_lat")
        s.sql("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
                |FROM graft_customer_lat c, LATERAL (
                |  SELECT o_orderkey, o_totalprice FROM graft_orders_lat o
                |  WHERE o.o_custkey = c.c_custkey
                |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) t
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
             |FROM customer c, LATERAL (
             |  SELECT o_orderkey, o_totalprice FROM orders o
             |  WHERE o.o_custkey = c.c_custkey
             |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) t
             |ORDER BY c_custkey""".stripMargin)),

    // Recursive CTE (Spark 4's WITH RECURSIVE): a 0..90 recursive counter (Spark caps recursion depth at 100 levels)
    // drives a month calendar from the data's own min/max — every month
    // gets a row even with zero orders. The recursion itself is engine-
    // independent; only the month-add syntax differs per dialect
    // (add_months vs i * INTERVAL), which is why query and oracle texts
    // diverge slightly while computing the same table.
    QueryDef(
      "sub_recursive_cte",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("graft_orders_rec")
        // Round 21: the counter is factored into TWO recursions
        // (i = a·13 + b over 0..6 × 0..12 — a bijection onto 0..90, so
        // `k` is exactly the set the old single recursion produced).
        // Spark executes one job per recursion step, so the 91-level
        // linear counter paid 91 sequential driver round-trips (~10 ms
        // each, measured ~0.9 s warm / up to 3.8 s cold in the bench);
        // 6+12 levels cut that to 18. A pointer-doubling single
        // recursion was measured SLOWER (join+explode in the loop body
        // outweighs the fewer iterations: 1.9-3.5 s vs 0.7-0.9 s).
        // Full-query warm wall 0.92-1.12 s → 0.63-0.70 s
        // (OPTIMIZATION_r21.md §5);
        // the oracle keeps the plain linear recursion — results are
        // identical (Verify 201/201).
        s.sql("""WITH RECURSIVE ka(a) AS (
                |  SELECT 0 UNION ALL SELECT a + 1 FROM ka WHERE a < 6),
                |kb(bb) AS (
                |  SELECT 0 UNION ALL SELECT bb + 1 FROM kb WHERE bb < 12),
                |k(i) AS (SELECT a * 13 + bb FROM ka JOIN kb),
                |b AS (SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS mn,
                |             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS mx
                |      FROM graft_orders_rec),
                |months AS (
                |  SELECT add_months(mn, i) AS month
                |  FROM b JOIN k ON add_months(mn, i) <= mx)
                |SELECT m.month, COUNT(o.o_orderkey) AS n_orders
                |FROM months m LEFT JOIN graft_orders_rec o
                |  ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m.month
                |GROUP BY m.month ORDER BY m.month""".stripMargin)
      },
      Some("""WITH RECURSIVE k(i) AS (
             |  SELECT 0 UNION ALL SELECT i + 1 FROM k WHERE i < 90),
             |b AS (SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS mn,
             |             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS mx
             |      FROM orders),
             |months AS (
             |  SELECT CAST(mn + i * INTERVAL 1 MONTH AS DATE) AS month
             |  FROM b JOIN k ON mn + i * INTERVAL 1 MONTH <= mx)
             |SELECT m.month, COUNT(o.o_orderkey) AS n_orders
             |FROM months m LEFT JOIN orders o
             |  ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = m.month
             |GROUP BY m.month ORDER BY m.month""".stripMargin)),

    // Deterministic keyed sampling — the portable LCG (udf_scalar family)
    // over the key, mod 100 < 10 ⇒ a reproducible ~10% sample in ANY
    // engine. TABLESAMPLE seeds don't transfer across engines; this does,
    // and at 100 TB it pushes down as a cheap scan-level predicate.
    QueryDef(
      "scan_sample_hash",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter((col("l_orderkey") * 1103515245L + 12345L) % 2147483648L % 100 < 10)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_sampled"),
            Exact.sumMoney2(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_sampled,
              |  ${Exact.sumMoney2Sql("l_quantity")} AS sum_qty
              |FROM lineitem
              |WHERE (l_orderkey * 1103515245 + 12345) % 2147483648 % 100 < 10
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Stratified deterministic sampling: exactly 10 docs per language,
    // picked by the portable LCG over doc_id (reproducible "random" order
    // within each stratum) — the class-balanced subsample curation step.
    QueryDef(
      "scan_sample_stratified",
      (s, d) => {
        // Round 21 (the closed-key discipline of the r16/r17 sweeps,
        // finally applied here): the row_number window partitioned on the
        // closed ~5-value lang key funneled EVERY document row into
        // ≤#languages sort tasks — the same ≤5-task sort funnel
        // win_zscore/agg_percentile_disc were rewritten to avoid — and
        // its per-task sort state grew with the corpus. The bounded
        // TopKNeighbors aggregate keeps 10 slots per language map-side
        // (ObjectHashAggregate, no sort, no funnel; ~#langs×10 rows reach
        // the exchange). Ordering contract: the window's (lcg ASC,
        // doc_id ASC) is the aggregator's (s DESC, k ASC) with s = −lcg —
        // lcg < 2³¹ so the negation is exact in double — and the rank is
        // the slot position (items are kept sorted). doc_id is the
        // documents primary key: non-null in every fixture and degenerate
        // set, so the aggregator's non-nullable-key precondition holds
        // (a future null doc_id fails loudly at encoding, same posture
        // as BottomTwo). Value parity pinned by StratifiedParitySpec;
        // plan (no Window) by PlanSpec.
        val lcg = (col("doc_id") * 1103515245L + 12345L) % 2147483648L
        val top10 = graft.functions.TopKNeighbors.top10
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"))
          .groupBy(col("lang"))
          .agg(top10(lit(false), -lcg.cast("double"), col("doc_id")).as("tk"))
          .select(col("lang"), posexplode(col("tk.items")).as(Seq("pos", "it")))
          .select(col("it.k").as("doc_id"), col("lang"),
            (col("pos") + 1).cast("long").as("rn"))
          .orderBy("lang", "rn")
      },
      Some("""SELECT doc_id, lang, rn FROM (
             |  SELECT doc_id, lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY (doc_id * 1103515245 + 12345) % 2147483648 ASC, doc_id ASC) AS rn
             |  FROM documents) t
             |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin)),

    // ------------------------------------------------------ B.6 sort / limit
    QueryDef(
      "sort_multi_key",
      (s, d) =>
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc, col("o_orderkey").asc),
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
             |ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC""".stripMargin)),

    QueryDef(
      "limit_topk",
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(20),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin)),

    // Pagination: ORDER BY + OFFSET + LIMIT (deterministic because the
    // sort is total).
    QueryDef(
      "limit_offset",
      (s, d) =>
        Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .offset(10)
          .limit(15),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 OFFSET 10""".stripMargin)),

    // ---------------------------------------------------------- B.7 set ops
    QueryDef(
      "set_union_all",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .union(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |UNION ALL SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef(
      "set_union_distinct",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .union(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
          .distinct()
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef(
      "set_intersect",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY o_custkey""".stripMargin)),

    // ALL-variants: bag semantics (duplicates preserved per multiplicity) —
    // Spark plans these as aggregated counts + generate, a different
    // operator than the DISTINCT variants.
    QueryDef(
      "set_intersect_all",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersectAll(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef(
      "set_except_all",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "O").select("o_custkey")
          .exceptAll(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    QueryDef(
      "set_except",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "O").select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY o_custkey""".stripMargin)),

    // Minority-class oversampling (class rebalancing): each language's docs
    // replicated ceil(max_count/count) times via an exploded sequence —
    // REAL row replication, then per-class counts prove the balance. The
    // factor table is a broadcast 5-row join; replication happens
    // distributed, never on the driver.
    QueryDef(
      "scan_oversample_balance",
      (s, d) => {
        val lc = Tables.documents(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val mx = lc.agg(max(col("n")).as("m"))
        val f = lc.crossJoin(broadcast(mx))
          .withColumn("factor", ceil(col("m").cast("double") / col("n")).cast("long"))
          .select(col("lang").as("flang"), col("n"), col("factor"))
        Tables.documents(s, d)
          .join(broadcast(f), col("lang") === col("flang"))
          .withColumn("copy", explode(expr("sequence(1, factor)")))
          .groupBy(col("lang"), col("n").as("n_before"), col("factor"))
          .agg(count(lit(1)).as("n_after"))
          .orderBy("lang")
      },
      Some("""WITH lc AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
             |mx AS (SELECT MAX(n) AS m FROM lc),
             |f AS (SELECT lang, n, CAST(CEIL(CAST(m AS DOUBLE) / n) AS BIGINT) AS factor
             |      FROM lc CROSS JOIN mx)
             |SELECT f.lang, n AS n_before, factor, COUNT(*) AS n_after
             |FROM documents d
             |JOIN f ON d.lang = f.lang
             |CROSS JOIN unnest(range(1, factor + 1))
             |GROUP BY f.lang, n, factor ORDER BY f.lang""".stripMargin)),

    // unionByName with missing columns: two heterogeneous projections
    // united by COLUMN NAME (not position), absent columns null-filled —
    // the schema-drift-tolerant concatenation (pandas concat / UNION BY
    // NAME). Spark default sort is NULLS FIRST, DuckDB's is NULLS LAST —
    // the oracle pins NULLS FIRST.
    QueryDef(
      "set_union_byname",
      (s, d) => {
        val o = Tables.orders(s, d).filter(col("o_orderkey") < 100)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        val c = Tables.customer(s, d).filter(col("c_custkey") < 100)
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        o.unionByName(c, allowMissingColumns = true)
          .orderBy(col("k").asc, col("seg").asc_nulls_first)
      },
      Some("""SELECT k, price, seg FROM (
             |  SELECT o_orderkey AS k, o_totalprice AS price, CAST(NULL AS VARCHAR) AS seg
             |  FROM orders WHERE o_orderkey < 100
             |  UNION ALL BY NAME
             |  SELECT c_custkey AS k, c_mktsegment AS seg, CAST(NULL AS DOUBLE) AS price
             |  FROM customer WHERE c_custkey < 100) t
             |ORDER BY k, seg NULLS FIRST""".stripMargin)),

    // Symmetric difference (A∖B) ∪ (B∖A) — the reconciliation shape for
    // comparing two snapshots: customers exclusive to either order-status
    // population, tagged with which side they came from.
    QueryDef(
      "set_symmetric_diff",
      (s, d) => {
        val o = Tables.orders(s, d)
        val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
        val b = o.filter(col("o_orderstatus") === "F").select("o_custkey")
        a.except(b).withColumn("side", lit("only_open"))
          .unionAll(b.except(a).withColumn("side", lit("only_final")))
          .orderBy("o_custkey", "side")
      },
      Some("""SELECT o_custkey, 'only_open' AS side FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') a
             |UNION ALL
             |SELECT o_custkey, 'only_final' AS side FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
             |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') b
             |ORDER BY o_custkey, side""".stripMargin)),

    // Per-stratum weighted sampling (data mixing): dominant language
    // downsampled to 30%, the rest kept at 80% — the rate-per-source
    // curation step that shapes a training mix. Same portable LCG as
    // scan_sample_hash, so the "random" keep-decision is reproducible and
    // oracle-replayable; the predicate is scan-level (no shuffle) and at
    // 100 TB pushes to the reader as a cheap row filter.
    QueryDef(
      "scan_sample_weighted",
      (s, d) => {
        val rate = when(col("lang") === "en", lit(30)).otherwise(lit(80))
        Tables.documents(s, d)
          .filter((col("doc_id") * 1103515245L + 12345L) % 2147483648L % 100 < rate)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM documents
             |WHERE (doc_id * 1103515245 + 12345) % 2147483648 % 100
             |      < CASE WHEN lang = 'en' THEN 30 ELSE 80 END
             |GROUP BY lang ORDER BY lang""".stripMargin))
  )
}
