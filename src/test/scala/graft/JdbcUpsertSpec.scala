package graft

import org.apache.spark.sql.functions._
import graft.sources.JdbcUpsert

/** JDBC upsert + incremental watermark capability against embedded Derby
  * (ships in /opt/spark/jars for the Hive metastore — SURVEY §7.4.6).
  */
class JdbcUpsertSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

  // A fault armed by a test that died before it fired must not outlive
  // that test and misfire on an unrelated statement (ADVICE r15).
  override protected def afterEach(): Unit = {
    ShimJdbc.disarmAll()
    super.afterEach()
  }

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val ddl =
    """CREATE TABLE bars (
      |  code VARCHAR(16) NOT NULL,
      |  trade_date BIGINT NOT NULL,
      |  close_px DOUBLE,
      |  PRIMARY KEY (code, trade_date))""".stripMargin

  private def readBars() =
    spark.read.format("jdbc").option("url", url).option("dbtable", "bars").load()

  test("staging MERGE upsert is idempotent and updates in place") {
    import spark.implicits._
    JdbcUpsert.ensureTable(url, ddl)

    val day1 = Seq(("AAA", 20240101L, 10.0), ("BBB", 20240101L, 20.0))
      .toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(day1, url, "bars", Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    assert(readBars().count() === 2)

    // delta: one overlapping key with a corrected price + one new day
    val delta = Seq(("AAA", 20240101L, 11.5), ("AAA", 20240102L, 12.0))
      .toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(delta, url, "bars", Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    JdbcUpsert.upsertViaStagingRetry(delta, url, "bars", Seq("code", "trade_date"), Some("code VARCHAR(16)")) // idempotent

    val rows = readBars().orderBy("code", "trade_date")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq(
      ("AAA", 20240101L, 11.5), ("AAA", 20240102L, 12.0), ("BBB", 20240101L, 20.0)))
  }

  test("staging MERGE survives duplicated staging rows (task-retry simulation)") {
    import spark.implicits._
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_retry"))

    // Clean run first — the expected end state.
    val delta = Seq(("AAA", 20240101L, 10.0), ("BBB", 20240101L, 20.0), ("CCC", 20240102L, 30.0))
      .toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(delta, url, "bars_retry", Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    val clean = readTable("bars_retry")

    // A retried/speculated task re-appends its partition to staging: the
    // staging table then holds exact full-row duplicates of part of the
    // delta. Simulate both shapes — a whole extra copy (full re-run) and a
    // partial one (task died mid-write, retry completed) — by unioning the
    // duplicate rows into the frame the writer stages.
    val corrected = Seq(("AAA", 20240101L, 11.0), ("BBB", 20240101L, 22.0), ("CCC", 20240102L, 33.0))
      .toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(corrected.union(corrected), url, "bars_retry",
      Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    assert(readTable("bars_retry") ===
      Seq(("AAA", 20240101L, 11.0), ("BBB", 20240101L, 22.0), ("CCC", 20240102L, 33.0)))

    JdbcUpsert.upsertViaStagingRetry(delta.union(delta.limit(1)), url, "bars_retry",
      Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    assert(readTable("bars_retry") === clean,
      "a partially-duplicated staging write must merge to the clean-run state")
  }

  private def readTable(t: String): Seq[(String, Long, Double)] =
    spark.read.format("jdbc").option("url", url).option("dbtable", t).load()
      .orderBy("code", "trade_date")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

  test("staging upsert of a multi-partition delta updates and inserts") {
    import spark.implicits._
    // A 3-partition delta: Spark's JDBC writer stages it from three tasks
    // into one staging table, and one MERGE applies it.
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_mg"))
    val keys = Seq("code", "trade_date")
    val seed = (0 until 25).map(i => (f"C$i%02d", 20240101L, i.toDouble))
      .toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(seed, url, "bars_mg", keys, Some("code VARCHAR(16)"))

    // rows 10-24 update seeded keys, 25-39 are fresh inserts
    val delta = (10 until 40).map(i => (f"C$i%02d", 20240101L, i + 0.5))
      .toDF("code", "trade_date", "close_px").repartition(3)
    JdbcUpsert.upsertViaStagingRetry(delta, url, "bars_mg", keys, Some("code VARCHAR(16)"))

    val got = readTable("bars_mg")
    assert(got.size === 40)
    assert(got.filter(_._1 < "C10").forall { case (c, _, px) => px === c.drop(1).toInt.toDouble },
      "non-delta seed rows must be untouched")
    assert(got.filter(_._1 >= "C10").forall { case (c, _, px) => px === c.drop(1).toInt + 0.5 },
      "every delta key must carry the delta value")
  }

  test("all-key frame upserts via insert-only MERGE (no UPDATE SET clause)") {
    import spark.implicits._
    JdbcUpsert.ensureTable(url,
      """CREATE TABLE seen_keys (
        |  code VARCHAR(16) NOT NULL,
        |  trade_date BIGINT NOT NULL,
        |  PRIMARY KEY (code, trade_date))""".stripMargin)
    val keys = Seq(("AAA", 20240101L), ("BBB", 20240102L)).toDF("code", "trade_date")
    JdbcUpsert.upsertViaStagingRetry(keys, url, "seen_keys", Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    // re-applying the same all-key delta must neither fail (empty UPDATE
    // SET would be malformed SQL) nor duplicate
    JdbcUpsert.upsertViaStagingRetry(keys, url, "seen_keys", Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    val n = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "seen_keys").load().count()
    assert(n === 2)
  }

  test("incremental watermark load fetches only newer rows") {
    import spark.implicits._
    // a later day lands in bars: its watermark moves to 20240103
    JdbcUpsert.upsertViaStagingRetry(
      Seq(("BBB", 20240101L, 21.0), ("CCC", 20240103L, 30.0)).toDF("code", "trade_date", "close_px"),
      url, "bars", Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    val w = JdbcUpsert.maxWatermark(spark, url, "bars", "trade_date")
    assert(w === Some(20240103L))
    // a source with one old (already-loaded) and one new row
    val source = "bars_src"
    JdbcUpsert.ensureTable(url,
      ddl.replace("CREATE TABLE bars", s"CREATE TABLE $source"))
    val src = Seq(("AAA", 20240101L, 11.5), ("DDD", 20240104L, 40.0))
      .toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(src, url, source, Seq("code", "trade_date"), Some("code VARCHAR(16)"))

    val delta = JdbcUpsert.readNewerThan(spark, url, source, "trade_date", w)
    assert(delta.count() === 1)
    assert(delta.head().getString(0) === "DDD")
  }

  test("degenerate deltas: NULL key fails loudly, conflicting keys fail loudly, empty delta is a no-op") {
    // VERDICT r12 #7: the seven adversarial fixture sets sweep the 204
    // declared queries but never touched this harness. The classic MERGE
    // hazard is a NULL in a key column: `t.k = s.k` is UNKNOWN for NULL,
    // so the row can never match — a sloppy upsert SILENTLY drops it (or
    // half-inserts it). Our posture: the target's NOT NULL PK makes the
    // NOT-MATCHED insert throw, the single-statement MERGE rolls back
    // atomically, and the target is untouched. Pin all three degenerate
    // shapes: NULL key, genuinely-conflicting key pair, empty delta.
    import spark.implicits._
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_degen"))
    val keys = Seq("code", "trade_date")
    val seed = Seq(("AAA", 20240101L, 1.0)).toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(seed, url, "bars_degen", keys, Some("code VARCHAR(16)"))

    // NULL in a key column: loud constraint violation, target unchanged.
    // The NULL rides the BIGINT key: a NULL in the VARCHAR key dies even
    // earlier, in the staging WRITE (Spark's JDBC writer setNulls string
    // columns as CLOB, which Derby rejects against the VARCHAR override)
    // — also loud, but it would test the writer, not the MERGE hazard.
    val nullKey = Seq((Some("EEE"), Option.empty[Long], Some(9.0)))
      .toDF("code", "trade_date", "close_px")
    val e1 = intercept[java.sql.SQLException] {
      JdbcUpsert.upsertViaStagingRetry(nullKey, url, "bars_degen", keys, Some("code VARCHAR(16)"))
    }
    assert(e1.getSQLState.startsWith("23"), // integrity-constraint class
      s"expected a NOT NULL violation, got ${e1.getSQLState}: ${e1.getMessage}")
    assert(readTable("bars_degen") === Seq(("AAA", 20240101L, 1.0)),
      "a NULL-key delta must not half-apply")

    // Two CONFLICTING rows for one key (same key, different values): the
    // whole-row-dedup keeps both, the MERGE sees one target row matched
    // twice, and Derby raises its cardinality violation — loud, never a
    // silent last-writer-wins. (Exact full-row duplicates are the
    // task-retry class and ARE collapsed — pinned above.)
    val conflict = Seq(("AAA", 20240101L, 2.0), ("AAA", 20240101L, 3.0))
      .toDF("code", "trade_date", "close_px")
    intercept[java.sql.SQLException] {
      JdbcUpsert.upsertViaStagingRetry(conflict, url, "bars_degen", keys, Some("code VARCHAR(16)"))
    }
    assert(readTable("bars_degen") === Seq(("AAA", 20240101L, 1.0)),
      "a conflicting-key delta must not pick a winner")

    // Empty delta (the `empty` fixture-set shape): staging write of zero
    // rows, MERGE matches nothing, target unchanged, no crash.
    JdbcUpsert.upsertViaStagingRetry(seed.filter(col("close_px") < 0), url,
      "bars_degen", keys, Some("code VARCHAR(16)"))
    assert(readTable("bars_degen") === Seq(("AAA", 20240101L, 1.0)))
  }

  test("concurrent MERGE writers with overlapping keys converge to a sequential application") {
    // VERDICT r14 #4: single-writer idempotence was pinned; real
    // database-update pipelines RACE (two overlapping scheduled runs,
    // two streams). The seam, observed on Derby: each MERGE is one
    // statement in its own autocommit transaction, so Derby's row locks
    // serialize conflicting UPDATE halves (the waiter blocks until the
    // winner commits, then applies over it — last-committer-wins for ALL
    // its keys, atomically). But MERGE under READ_COMMITTED is NOT
    // serializable on the insert half: both writers probe a missing key,
    // both decide NOT MATCHED, the second insert hits the PK (SQLState
    // 23505) and its whole MERGE rolls back — the classic upsert race no
    // single-writer test can see. upsertViaStagingRetry is the shipped
    // posture: the staging upsert is idempotent by design, so re-running
    // the LOSER is safe — on retry the key exists and MERGE updates it.
    // Deadlocks (40001) and lock timeouts (40XL1) are the same transient
    // class. End state must equal ONE of the two sequential orders —
    // never a per-key interleave (that would mean a torn MERGE).
    import spark.implicits._
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_conc"))
    val keys = Seq("code", "trade_date")
    val seed = (0 until 6).map(i => (f"K$i%02d", 20240101L, i.toDouble))
    JdbcUpsert.upsertViaStagingRetry(seed.toDF("code", "trade_date", "close_px"),
      url, "bars_conc", keys, Some("code VARCHAR(16)"))

    // K02..K05 overlap with different values (UPDATE-vs-UPDATE race),
    // K06/K07 are per-writer fresh keys (disjoint inserts), K08 is a
    // fresh key BOTH writers insert (the both-NOT-MATCHED race).
    val deltaA = (2 until 6).map(i => (f"K$i%02d", 20240101L, 100.0 + i)) ++
      Seq(("K06", 20240101L, 106.0), ("K08", 20240101L, 108.0))
    val deltaB = (2 until 6).map(i => (f"K$i%02d", 20240101L, 200.0 + i)) ++
      Seq(("K07", 20240101L, 207.0), ("K08", 20240101L, 208.0))
    def applySeq(base: Map[(String, Long), Double], d: Seq[(String, Long, Double)]) =
      d.foldLeft(base) { case (m, (c, t, v)) => m + ((c, t) -> v) }
    val base = seed.map { case (c, t, v) => ((c, t), v) }.toMap
    val ab = applySeq(applySeq(base, deltaA), deltaB)
    val ba = applySeq(applySeq(base, deltaB), deltaA)

    val dfA = deltaA.toDF("code", "trade_date", "close_px")
    val dfB = deltaB.toDF("code", "trade_date", "close_px")
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val retries =
      try {
        val futs = Seq(dfA, dfB).map { df =>
          pool.submit(new Callable[Int] {
            def call(): Int = {
              barrier.await(60, TimeUnit.SECONDS)
              JdbcUpsert.upsertViaStagingRetry(df, url, "bars_conc", keys,
                Some("code VARCHAR(16)"))
            }
          })
        }
        futs.map(_.get(180, TimeUnit.SECONDS)).sum
      } finally pool.shutdownNow()

    val got = readTable("bars_conc").map { case (c, t, v) => ((c, t), v) }.toMap
    assert(got == ab || got == ba,
      s"concurrent end state is not a sequential application (retries=$retries):\n" +
        s"got=$got\nA-then-B=$ab\nB-then-A=$ba")
    // No torn MERGE: the overlapping keys all carry ONE writer's values.
    val overlapVals = (2 until 6).map(i => got((f"K$i%02d", 20240101L)))
    assert(overlapVals.forall(_ >= 200.0) || overlapVals.forall(_ < 200.0),
      s"overlapping keys mix both writers' values — a MERGE applied non-atomically: $overlapVals")
  }

  test("dialect seam: ANSI MERGE statement shape (the arm Derby executes)") {
    // VERDICT r12 #3: the statement text is now pure per-dialect
    // generation. Pin the ANSI shape exactly — every end-to-end test in
    // this spec executes THESE strings, so a drift here is a drift there.
    val stmts = graft.sources.AnsiMergeDialect.upsertStatements(
      "bars", "bars_stg_abc", "bars_stg_abc_d",
      Seq("code", "trade_date", "close_px"), Seq("code", "trade_date"))
    assert(stmts.size === 3, "schema-clone + INSERT DISTINCT + MERGE")
    assert(stmts(0) === "CREATE TABLE bars_stg_abc_d AS SELECT * FROM bars_stg_abc WITH NO DATA")
    assert(stmts(1) === "INSERT INTO bars_stg_abc_d SELECT DISTINCT * FROM bars_stg_abc")
    assert(stmts(2) ===
      """MERGE INTO bars t USING bars_stg_abc_d s ON t.code = s."code" AND t.trade_date = s."trade_date"
        |WHEN MATCHED THEN UPDATE SET close_px = s."close_px"
        |WHEN NOT MATCHED THEN INSERT (code, trade_date, close_px) VALUES (s."code", s."trade_date", s."close_px")""".stripMargin)
    // All-key frame: insert-only MERGE, no WHEN MATCHED clause.
    val allKey = graft.sources.AnsiMergeDialect.upsertStatements(
      "seen", "s1", "s1_d", Seq("code", "trade_date"), Seq("code", "trade_date"))
    assert(!allKey(2).contains("WHEN MATCHED"))
    assert(allKey(2).contains("WHEN NOT MATCHED THEN INSERT"))
  }

  test("dialect seam: MySQL INSERT…ON DUPLICATE KEY UPDATE statement shape") {
    // Statement-shape-tested ONLY: no MySQL server exists in this
    // container (zero egress; Derby is the sole embeddable DB) — the
    // contract is the generated text, pinned here on both frame shapes.
    val stmts = graft.sources.MySqlUpsertDialect.upsertStatements(
      "bars", "bars_stg_abc", "bars_stg_abc_d",
      Seq("code", "trade_date", "close_px"), Seq("code", "trade_date"))
    assert(stmts.size === 3, "CTAS dedup + UNIQUE guard + upsert")
    assert(stmts(0) === "CREATE TABLE bars_stg_abc_d AS SELECT DISTINCT * FROM bars_stg_abc")
    // Conflicting-key guard (ADVICE r13): ODKU is last-writer-wins on a
    // conflicting delta, so key-uniqueness must be enforced BEFORE the
    // upsert — as DDL on the deduped staging copy, keyed on exactly
    // `keys`. Ordering matters: guard strictly between dedup and upsert.
    assert(stmts(1) ===
      "ALTER TABLE bars_stg_abc_d ADD CONSTRAINT bars_stg_abc_d_uk UNIQUE (code, trade_date)")
    assert(stmts(2) ===
      """INSERT INTO bars (code, trade_date, close_px)
        |SELECT s.`code`, s.`trade_date`, s.`close_px` FROM bars_stg_abc_d s
        |ON DUPLICATE KEY UPDATE close_px = s.`close_px`""".stripMargin)
    // Non-deprecated form: select-alias references, never VALUES(col).
    assert(!stmts(2).contains("VALUES("))
    // Keys never appear on the left of the update clause (that would
    // rewrite the match key itself on conflict).
    val odku = stmts(2).split("ON DUPLICATE KEY UPDATE", 2)(1)
    assert(!odku.contains("code =") && !odku.contains("trade_date ="))
    // All-key frame: MySQL rejects an empty ODKU clause — emit the no-op
    // key self-assignment instead.
    val allKey = graft.sources.MySqlUpsertDialect.upsertStatements(
      "seen", "s1", "s1_d", Seq("code", "trade_date"), Seq("code", "trade_date"))
    assert(allKey.last.endsWith("ON DUPLICATE KEY UPDATE code = s.`code`"))
  }

  test("dialect text carries identifiers only; non-plain identifiers fail loudly (VERDICT r16 #5)") {
    // The adversarial-scalar genre (±1e30, control chars, NBSP keys —
    // byte-exact through the Derby arm above) can never surface in
    // dialect-generated text, because the builders consume ONLY
    // identifiers: scalar values travel via Spark's parameterized staging
    // INSERT. Structural pin: generated text is a pure function of the
    // names — no statement may contain anything beyond the identifiers,
    // quoting, and fixed keywords. With that, the statement-builder seam's
    // whole escaping surface is identifiers, and since TARGET-side
    // references are unquoted by design (DDL case-folding must apply), a
    // non-plain name — embedded backtick/double-quote (which would break
    // OUT of the quoted staging ref), NBSP, multibyte, leading digit —
    // cannot be emitted as valid SQL at all. The dialects must reject the
    // whole class loudly instead of emitting malformed statements.
    // Documented divergence: MySQL's own identifier rules (no NUL, no
    // trailing space, ≤64 chars) are a SUPERSET of the admitted plain
    // class, so nothing the guard passes is MySQL-rejected downstream.
    val dialects = Seq(graft.sources.AnsiMergeDialect, graft.sources.MySqlUpsertDialect)
    val adversarial = Seq(
      "pr`ice",        // breaks out of MySQL backtick quoting
      "pr\"ice",       // breaks out of ANSI double-quote quoting
      "k\u00A0ey",     // NBSP — invalid unquoted everywhere
      "多字节",         // multibyte — unquoted target ref would not parse
      "1digit",        // leading digit
      "a;DROP TABLE t" // statement-splice shape
    )
    for (d <- dialects; bad <- adversarial) {
      val asCol = intercept[IllegalArgumentException] {
        d.upsertStatements("tgt", "tgt_stg_x", "tgt_stg_x_d",
          Seq("code", bad), Seq("code"))
      }
      assert(asCol.getMessage.contains("not unquoted-safe") &&
        asCol.getMessage.contains(bad), s"${d.name}/$bad: $asCol")
      val asTable = intercept[IllegalArgumentException] {
        d.upsertStatements(bad, "tgt_stg_x", "tgt_stg_x_d",
          Seq("code", "px"), Seq("code"))
      }
      assert(asTable.getMessage.contains("not unquoted-safe"), s"${d.name}/$bad table")
    }
    // Identifier-only purity: every character of every generated statement
    // is accounted for by the identifiers, the quoting styles, and the
    // dialect's fixed keyword skeleton — no scalar can hide in the text.
    val cols = Seq("code", "trade_date", "close_px")
    for (d <- dialects) {
      val stmts = d.upsertStatements("tgt", "tgt_stg_x", "tgt_stg_x_d", cols, Seq("code"))
      val skeleton = stmts.mkString("\n")
        .replaceAll("[A-Za-z_][A-Za-z0-9_]*", "")   // identifiers + keywords
      assert(skeleton.matches("""[\s(),.=*"`;]*"""),
        s"${d.name}: unexpected non-structural text in statements:\n$skeleton")
    }
  }

  test("MySQL conflicting-key guard trips on Derby for exactly the conflicting class") {
    // The guard statement is plain ANSI DDL, so unlike the rest of the
    // MySQL arm it CAN be executed here: run the dialect-generated ALTER
    // verbatim against Derby tables shaped like the post-dedup staging
    // copy. Conflicting keys (same key, different non-key) must throw;
    // a conflict-free delta — including one that HAD whole-row retry
    // duplicates before the dedup — must pass.
    val guard = graft.sources.MySqlUpsertDialect.upsertStatements(
      "bars", "g1_stg", "g1", Seq("code", "trade_date", "close_px"),
      Seq("code", "trade_date"))(1)
    assert(guard === "ALTER TABLE g1 ADD CONSTRAINT g1_uk UNIQUE (code, trade_date)")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE g1 (code VARCHAR(16) NOT NULL, trade_date BIGINT NOT NULL, close_px DOUBLE)")
      st.executeUpdate("INSERT INTO g1 VALUES ('AAA', 20240101, 2.0), ('AAA', 20240101, 3.0)")
      val e = intercept[java.sql.SQLException](st.executeUpdate(guard))
      assert(e.getSQLState.startsWith("23"), // integrity-constraint class
        s"expected a duplicate-key violation from the guard, got ${e.getSQLState}: ${e.getMessage}")
      st.executeUpdate("DELETE FROM g1 WHERE close_px = 3.0")
      st.executeUpdate(guard) // conflict-free: guard must NOT trip
      st.executeUpdate("DROP TABLE g1")
    } finally c.close()
  }

  test("dialect invariants hold across column/key permutations") {
    // The shape tests above pin ONE exact example per dialect; this drives
    // both generators across varied frames (key positions, counts, single
    // vs composite keys, all-key) and asserts the invariants that make an
    // upsert correct regardless of shape: every column appears in the
    // insert list exactly once and in frame order; no key ever appears on
    // the left of an update assignment (that would rewrite the match key
    // on conflict); every non-key appears there exactly once; staging-side
    // references use the dialect's quoting everywhere.
    val shapes = Seq(
      (Seq("k", "v"), Seq("k")),
      (Seq("v", "k"), Seq("k")),                         // key not first
      (Seq("a", "b", "c", "d"), Seq("b", "d")),          // composite, interleaved
      (Seq("x", "y", "z"), Seq("x", "y", "z")),          // all-key
      (Seq("one_col"), Seq("one_col")))                  // single all-key
    for ((cols, keys) <- shapes;
         d <- Seq(graft.sources.AnsiMergeDialect, graft.sources.MySqlUpsertDialect)) {
      val ctx = s"${d.name} cols=$cols keys=$keys"
      val stmts = d.upsertStatements("t1", "t1_stg", "t1_stg_d", cols, keys)
      val upsert = stmts.last
      val insertList = upsert.split("\\(", 2)(1).split("\\)", 2)(0)
        .split(",").map(_.trim).toSeq
      assert(insertList === cols, s"$ctx: insert list must be the frame columns in order")
      val updateClause = {
        val parts = upsert.split("WHEN MATCHED THEN UPDATE SET|ON DUPLICATE KEY UPDATE")
        if (parts.length > 1) parts(1).linesIterator.next() else ""
      }
      val assignedLhs = updateClause.split(",").map(_.split("=")(0).trim)
        .filter(_.nonEmpty).toSeq
      val nonKeys = cols.filterNot(keys.contains)
      if (nonKeys.nonEmpty) {
        assert(assignedLhs === nonKeys,
          s"$ctx: update clause must assign exactly the non-keys, in order (got $assignedLhs)")
      } else {
        // All-key frames: ANSI omits the MATCHED clause entirely; MySQL
        // emits the single no-op key self-assignment.
        d match {
          case graft.sources.AnsiMergeDialect =>
            assert(!upsert.contains("WHEN MATCHED"), s"$ctx: all-key MERGE must be insert-only")
          case graft.sources.MySqlUpsertDialect =>
            assert(assignedLhs === Seq(keys.head), s"$ctx: all-key ODKU must be the no-op self-assignment")
        }
      }
      // Staging-side references are quoted in the dialect's style.
      val q = d.stagingRef("s", "probe")
      assert(q == """s."probe"""" || q == "s.`probe`")
      cols.foreach { c =>
        assert(upsert.contains(d.stagingRef("s", c)),
          s"$ctx: staging reference for $c missing or unquoted")
      }
    }
  }

  test("the upsert dialect is derived from the JDBC URL") {
    import graft.sources.{AnsiMergeDialect, MySqlUpsertDialect}
    for (u <- Seq("jdbc:mysql://db:3306/wind", "jdbc:mariadb://db/wind", "JDBC:MySQL://db/wind"))
      assert(JdbcUpsert.dialectFor(u) === MySqlUpsertDialect, u)
    for (u <- Seq(url, "jdbc:postgresql://db/wind", "jdbc:sqlserver://db;databaseName=wind",
        "jdbc:graftshim:mergerace:memory:graftdb"))
      assert(JdbcUpsert.dialectFor(u) === AnsiMergeDialect, u)
  }

  test("deterministic insert race: retry wrapper recovers in exactly one retry") {
    // The concurrent test above proves convergence but can't guarantee the
    // 23505 race actually FIRES on any given run (Derby may serialize the
    // window away). This twin forces it: the shim throws the loser's
    // duplicate-key SQLState on the first MERGE, then passes through —
    // the wrapper must report exactly one retry, the failed attempt's
    // staging tables must be gone (the finally ran), and the end state
    // must be the delta, applied once.
    import spark.implicits._
    ShimJdbc.ensureRegistered()
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_race"))
    val keys = Seq("code", "trade_date")
    val seed = Seq(("AAA", 20240101L, 1.0)).toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(seed, url, "bars_race", keys, Some("code VARCHAR(16)"))

    val delta = Seq(("AAA", 20240101L, 2.0), ("BBB", 20240102L, 3.0))
      .toDF("code", "trade_date", "close_px")
    ShimJdbc.armStatementFault("mergerace")
    val retries = JdbcUpsert.upsertViaStagingRetry(delta,
      "jdbc:graftshim:mergerace:memory:graftdb;create=true", "bars_race", keys,
      Some("code VARCHAR(16)"))
    assert(retries === 1, s"expected exactly one retry, got $retries")
    assert(readTable("bars_race") ===
      Seq(("AAA", 20240101L, 2.0), ("BBB", 20240102L, 3.0)))
    // no staging debris from the failed attempt (Derby folds unquoted
    // names to upper case; staging names are <table>_stg_<hex12>)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'BARS_RACE_STG%'")
      assert(!rs.next(), "failed attempt leaked a staging table")
    } finally c.close()
  }

  test("deterministic cleanup failure: committed work is NOT retried, leak is named") {
    // The other half of the retry classifier: a post-commit staging DROP
    // failing with a transient-looking SQLState (40XL1) must surface as
    // StagingCleanupException — never a retry (the merge committed;
    // re-running would double work and stage a second leak) — with the
    // leaked table's name aboard for operator cleanup, and the target
    // must carry the delta.
    import spark.implicits._
    ShimJdbc.ensureRegistered()
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_drop"))
    val keys = Seq("code", "trade_date")
    val delta = Seq(("AAA", 20240101L, 5.0)).toDF("code", "trade_date", "close_px")
    ShimJdbc.armStatementFault("dropfail")
    val e = intercept[graft.sources.StagingCleanupException] {
      JdbcUpsert.upsertViaStagingRetry(delta,
        "jdbc:graftshim:dropfail:memory:graftdb;create=true", "bars_drop", keys,
        Some("code VARCHAR(16)"))
    }
    assert(e.stagingTable.startsWith("bars_drop_stg_"),
      s"exception must name the leaked staging table, got ${e.stagingTable}")
    assert(e.getCause.isInstanceOf[java.sql.SQLException] &&
      e.getCause.asInstanceOf[java.sql.SQLException].getSQLState == "40XL1")
    // the merge COMMITTED despite the cleanup failure
    assert(readTable("bars_drop") === Seq(("AAA", 20240101L, 5.0)))
    // the leaked table really exists (the shim swallowed the real drop) —
    // clean it up by the name the exception carries, proving the name is
    // actionable
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(s"DROP TABLE ${e.stagingTable}")
    finally c.close()
  }

  test("deduped-twin drop failure is typed and reported, never a silent leak") {
    // ADVICE r16: the staging table's failed DROP had the full
    // StagingCleanupException treatment while the deduped `_d` twin — a
    // real materialized table — swallowed EVERY SQLException, so it could
    // leak silently after a committed merge. Same contract now: typed
    // wrapper naming the leaked table, no retry (the merge committed,
    // and StagingCleanupException anywhere in the chain disqualifies the
    // transient-race classifier), and the OTHER temp's drop still runs —
    // staging must not leak alongside the deduped failure.
    import spark.implicits._
    ShimJdbc.ensureRegistered()
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_ddrop"))
    val keys = Seq("code", "trade_date")
    val delta = Seq(("AAA", 20240101L, 7.0)).toDF("code", "trade_date", "close_px")
    ShimJdbc.armStatementFault("dropdedupfail")
    val e = intercept[graft.sources.StagingCleanupException] {
      JdbcUpsert.upsertViaStagingRetry(delta,
        "jdbc:graftshim:dropdedupfail:memory:graftdb;create=true", "bars_ddrop", keys,
        Some("code VARCHAR(16)"))
    }
    assert(e.stagingTable.startsWith("bars_ddrop_stg_") && e.stagingTable.endsWith("_d"),
      s"exception must name the leaked deduped table, got ${e.stagingTable}")
    assert(e.getCause.isInstanceOf[java.sql.SQLException] &&
      e.getCause.asInstanceOf[java.sql.SQLException].getSQLState == "40XL1")
    // the merge COMMITTED despite the cleanup failure
    assert(readTable("bars_ddrop") === Seq(("AAA", 20240101L, 7.0)))
    // leak evidence is harvestable by the retry wrapper's reporter
    assert(JdbcUpsert.leakedStagingTables(e) === Seq(e.stagingTable))
    val c = java.sql.DriverManager.getConnection(url)
    try {
      // the staging twin must still have been dropped (one temp's failed
      // drop never skips the other's), and the leaked deduped table must
      // really exist — proving the exception's name is actionable
      val rs = c.getMetaData.getTables(null, null, null, Array("TABLE"))
      val live = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(3)).toList
      val stagingName = e.stagingTable.stripSuffix("_d")
      assert(!live.exists(_.equalsIgnoreCase(stagingName)),
        s"staging twin must still be dropped; live tables: $live")
      assert(live.exists(_.equalsIgnoreCase(e.stagingTable)),
        s"leaked deduped table should exist; live tables: $live")
      c.createStatement().executeUpdate(s"DROP TABLE ${e.stagingTable}")
    } finally c.close()
  }

  test("adversarial rows round-trip the staging upsert byte-exact (unicode/control/extremes)") {
    // VERDICT r15 #4: the DB-update path had only ever carried clean
    // synthetic bars. Replay the degenerate-set genre through
    // ensureTable → seed upsert → delta upsert → read-back:
    // multibyte text (CJK + a surrogate-pair emoji + cyrillic), NBSP and
    // ZWSP inside key VARCHARs, C0 control characters, tab/newline, and
    // ±extreme doubles. Parity is asserted BYTE-exact on the UTF-8
    // encoding of every string, not just String.equals, so a lossy
    // Derby/JDBC transcoding seam cannot hide behind Java string
    // normalization.
    import spark.implicits._
    JdbcUpsert.ensureTable(url,
      """CREATE TABLE bars_adv (
        |  k VARCHAR(64) NOT NULL PRIMARY KEY,
        |  px DOUBLE,
        |  txt VARCHAR(256))""".stripMargin)
    val seed = Seq(
      ("株式会社🚀", 1e30, "多字节 текст ☃"),
      ("café\u00A0nbsp", -1e30, "a\u00A0b"),
      ("a\u200Bb", java.lang.Double.MIN_NORMAL, "zwsp key"),
      ("ctl\u0001\u001F", java.lang.Double.MAX_VALUE, "c\u0001d\u001Fe"),
      ("tab\tnl", -java.lang.Double.MAX_VALUE, "x\ty\nz"))
      .toDF("k", "px", "txt")
    JdbcUpsert.upsertViaStagingRetry(seed, url, "bars_adv", Seq("k"),
      Some("k VARCHAR(64), txt VARCHAR(256)"))
    // The delta: the emoji key must MATCH its seed
    // row (update in place — multibyte keys survive the MERGE ON
    // comparison), and bare "ab" must NOT match "a<ZWSP>b" (insert —
    // zero-width characters are significant in Derby VARCHAR equality).
    val delta = Seq(
      ("株式会社🚀", -1e30, "多字节 текст ☃"),
      ("ab", 0.5, "no zwsp"))
      .toDF("k", "px", "txt")
    val retries = JdbcUpsert.upsertViaStagingRetry(delta, url, "bars_adv", Seq("k"),
      Some("k VARCHAR(64), txt VARCHAR(256)"))
    assert(retries === 0)
    val got = spark.read.format("jdbc").option("url", url).option("dbtable", "bars_adv").load()
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1)
    val want = Seq(
      ("ab", 0.5, "no zwsp"),
      ("a\u200Bb", java.lang.Double.MIN_NORMAL, "zwsp key"),
      ("café\u00A0nbsp", -1e30, "a\u00A0b"),
      ("ctl\u0001\u001F", java.lang.Double.MAX_VALUE, "c\u0001d\u001Fe"),
      ("tab\tnl", -java.lang.Double.MAX_VALUE, "x\ty\nz"),
      ("株式会社🚀", -1e30, "多字节 текст ☃")).sortBy(_._1)
    assert(got.length === want.length, s"row count: got ${got.toSeq}")
    got.zip(want).foreach { case ((gk, gp, gt), (wk, wp, wt)) =>
      assert(java.util.Arrays.equals(gk.getBytes("UTF-8"), wk.getBytes("UTF-8")),
        s"key bytes differ: ${gk.getBytes("UTF-8").toSeq} vs ${wk.getBytes("UTF-8").toSeq}")
      assert(java.util.Arrays.equals(gt.getBytes("UTF-8"), wt.getBytes("UTF-8")),
        s"txt bytes differ for key $wk")
      assert(java.lang.Double.compare(gp, wp) === 0, s"px differs for key $wk: $gp vs $wp")
    }
  }

  test("Derby VARCHAR equality pads trailing spaces: a trailing-space key MERGEs into its trimmed twin") {
    // Documented encoding seam probe (VERDICT r15 #4): SQL-standard PAD
    // SPACE comparison means Derby's MERGE ON k = k treats 'ts' and
    // 'ts ' as EQUAL keys, while Spark (and DuckDB, pinned in the
    // degenerate program) treats them as distinct strings. A delta whose
    // key differs from an existing row only by trailing spaces therefore
    // UPDATES that row instead of inserting — silent key coalescing at
    // the DB edge. Recipe for callers that need Spark-exact key
    // semantics: make trailing whitespace significant BEFORE the upsert
    // (escape/trim/length-prefix the key column).
    import spark.implicits._
    JdbcUpsert.ensureTable(url,
      """CREATE TABLE bars_pad (
        |  k VARCHAR(16) NOT NULL PRIMARY KEY,
        |  px DOUBLE)""".stripMargin)
    val seed = Seq(("ts", 1.0)).toDF("k", "px")
    JdbcUpsert.upsertViaStagingRetry(seed, url, "bars_pad", Seq("k"), Some("k VARCHAR(16)"))
    val delta = Seq(("ts ", 2.0)).toDF("k", "px")
    JdbcUpsert.upsertViaStagingRetry(delta, url, "bars_pad", Seq("k"), Some("k VARCHAR(16)"))
    val rows = spark.read.format("jdbc").option("url", url).option("dbtable", "bars_pad").load()
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows.length === 1, s"expected PAD SPACE coalescing to one row, got $rows")
    assert(rows.head._2 === 2.0, "the trailing-space delta must have updated the trimmed row")
    // The stored key keeps the ORIGINAL (seed) spelling — the UPDATE arm
    // only touches non-key columns.
    assert(rows.head._1 === "ts")
  }

  test("non-finite doubles are rejected loudly by the Derby arm (documented seam)") {
    // Derby DOUBLE has no NaN/Infinity representation (SQL standard
    // numeric): staging a non-finite px must fail loudly at the staging
    // WRITE, not corrupt the target. Pinned so a pipeline feeding
    // aggregate outputs (which CAN be NaN — 0/0 ratios) into the upsert
    // learns the constraint from a test, not production.
    import spark.implicits._
    JdbcUpsert.ensureTable(url,
      """CREATE TABLE bars_nan (
        |  k VARCHAR(16) NOT NULL PRIMARY KEY,
        |  px DOUBLE)""".stripMargin)
    val delta = Seq(("n", Double.NaN)).toDF("k", "px")
    val e = intercept[Exception] {
      JdbcUpsert.upsertViaStagingRetry(delta, url, "bars_nan", Seq("k"), Some("k VARCHAR(16)"))
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.isInstanceOf[java.sql.SQLException]),
      s"expected a SQLException in the chain, got $e")
    // target untouched
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "bars_nan").load().count() === 0)
  }

  test("coincident race + cleanup failure: retry succeeds but the leak is reported, not erased") {
    // ADVICE r15: when a transient merge race and a failed staging DROP
    // coincide, the DROP failure rides the retried exception only as a
    // suppressed cleanup error; a successful retry then swallows the
    // exception — and with it, before this round, the only record of
    // which staging table leaked. The wrapper must now (a) still classify
    // the failure as a transient race (the suppressed cleanup failure
    // must NOT suppress the retry the way a thrown
    // StagingCleanupException rightly does), (b) converge in one retry,
    // and (c) report the leaked table's name through onLeak before
    // swallowing — and the name must be actionable.
    import spark.implicits._
    ShimJdbc.ensureRegistered()
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE bars_leak"))
    val keys = Seq("code", "trade_date")
    val seed = Seq(("AAA", 20240101L, 1.0)).toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(seed, url, "bars_leak", keys, Some("code VARCHAR(16)"))

    val delta = Seq(("AAA", 20240101L, 2.0), ("BBB", 20240102L, 3.0))
      .toDF("code", "trade_date", "close_px")
    // Both one-shot faults armed: first MERGE → 23505 (the insert race),
    // then the failed attempt's staging DROP → 40XL1 (the coinciding
    // cleanup failure). The retry's own MERGE and DROP pass through.
    ShimJdbc.armStatementFault("mergerace")
    ShimJdbc.armStatementFault("dropfail")
    val leaked = scala.collection.mutable.ArrayBuffer.empty[String]
    val retries = JdbcUpsert.upsertViaStagingRetry(delta,
      "jdbc:graftshim:racedropfail:memory:graftdb;create=true", "bars_leak", keys,
      Some("code VARCHAR(16)"), onLeak = leaked += _)
    assert(retries === 1, s"expected exactly one retry, got $retries")
    assert(readTable("bars_leak") ===
      Seq(("AAA", 20240101L, 2.0), ("BBB", 20240102L, 3.0)))
    // Exactly one leak, named: the failed attempt's staging table.
    assert(leaked.size === 1 && leaked.head.startsWith("bars_leak_stg_"),
      s"expected one reported bars_leak_stg_* leak, got $leaked")
    // The named table really exists (the leak is real, the DROP never
    // ran), and the name is actionable — drop it. The SUCCESSFUL retry's
    // staging table must meanwhile be gone, so afterwards no debris.
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.createStatement().executeUpdate(s"DROP TABLE ${leaked.head}")
      val rs = c.createStatement().executeQuery(
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'BARS_LEAK_STG%'")
      assert(!rs.next(), "a staging table beyond the reported leak survived")
    } finally c.close()
  }

  test("VERDICT r17 #6: a leaked staging table is reported through onLeak at most once") {
    // If a later retry's exception re-carries an already-reported leak
    // (a wrapper re-raising with the prior chain suppressed),
    // onLeak-driven automation must not file the same cleanup twice.
    val seen = scala.collection.mutable.Set.empty[String]
    val reports = scala.collection.mutable.ArrayBuffer.empty[String]
    val e1 = new RuntimeException("merge race")
    e1.addSuppressed(new graft.sources.StagingCleanupException(
      "bars_stg_deadbeef", new java.sql.SQLException("lock", "40XL1")))
    JdbcUpsert.reportNewLeaks(e1, seen, reports += _)
    assert(reports.toSeq === Seq("bars_stg_deadbeef"))
    // same table rides the NEXT attempt's exception (wrapped chain)
    val e2 = new RuntimeException("merge race again", e1)
    e2.addSuppressed(new graft.sources.StagingCleanupException(
      "bars_stg_cafe0001", new java.sql.SQLException("lock", "40XL1")))
    JdbcUpsert.reportNewLeaks(e2, seen, reports += _)
    assert(reports.toSeq === Seq("bars_stg_deadbeef", "bars_stg_cafe0001"),
      s"duplicate leak report: $reports")
  }

  test("ADVICE r17: keys are guarded too — non-plain, absent-from-cols, or empty fail loudly") {
    // keys splice verbatim into the MERGE ON clause, the MySQL ODKU
    // clause, and the UNIQUE constraint text — the one identifier surface
    // VERDICT r16 #5's guard missed. A key must be a plain identifier AND
    // one of the frame's columns (anything else is an unvalidated splice
    // the guard exists to close), and an empty key list would emit a
    // malformed empty ON/UNIQUE clause.
    for (d <- Seq(graft.sources.AnsiMergeDialect, graft.sources.MySqlUpsertDialect)) {
      val absent = intercept[IllegalArgumentException] {
        d.upsertStatements("tgt", "tgt_stg_x", "tgt_stg_x_d",
          Seq("code", "px"), Seq("trade_date"))
      }
      assert(absent.getMessage.contains("keys"), s"${d.name}: $absent")
      val adversarial = intercept[IllegalArgumentException] {
        d.upsertStatements("tgt", "tgt_stg_x", "tgt_stg_x_d",
          Seq("code", "px"), Seq("pr`ice"))
      }
      assert(adversarial.getMessage.contains("keys") ||
        adversarial.getMessage.contains("not unquoted-safe"), s"${d.name}: $adversarial")
      val empty = intercept[IllegalArgumentException] {
        d.upsertStatements("tgt", "tgt_stg_x", "tgt_stg_x_d",
          Seq("code", "px"), Seq.empty)
      }
      assert(empty.getMessage.contains("keys"), s"${d.name}: $empty")
    }
  }

  test("ADVICE r17: schema-qualified targets are accepted; each segment stays guarded") {
    // "app.bars" is valid unquoted SQL and was accepted before the r17
    // guard — a latent API regression for any caller upserting into a
    // non-default schema. The TABLE position (and the staging/deduped
    // temps derived from it) now admit dot-separated plain segments;
    // column and key names keep the strict single-segment rule.
    val stmts = graft.sources.AnsiMergeDialect.upsertStatements(
      "appx.bars", "appx.bars_stg_1", "appx.bars_stg_1_d",
      Seq("code", "px"), Seq("code"))
    assert(stmts.last.contains("MERGE INTO appx.bars "), stmts.last)
    // MySQL's UNIQUE constraint name must stay a bare identifier even
    // when the deduped temp is schema-qualified.
    val my = graft.sources.MySqlUpsertDialect.upsertStatements(
      "appx.bars", "appx.bars_stg_1", "appx.bars_stg_1_d",
      Seq("code", "px"), Seq("code"))
    val alter = my.find(_.contains("ADD CONSTRAINT")).get
    assert(alter.contains("ADD CONSTRAINT bars_stg_1_d_uk UNIQUE"), alter)
    // Degenerate qualified forms stay rejected.
    for (bad <- Seq("appx..bars", ".bars", "appx.", "ap`px.bars", "a.b;DROP TABLE t")) {
      val ex = intercept[IllegalArgumentException] {
        graft.sources.AnsiMergeDialect.upsertStatements(
          bad, "tgt_stg_x", "tgt_stg_x_d", Seq("code", "px"), Seq("code"))
      }
      assert(ex.getMessage.contains("not unquoted-safe"), s"$bad: $ex")
    }
    // Columns/keys must NOT gain the dotted form.
    val dottedCol = intercept[IllegalArgumentException] {
      graft.sources.AnsiMergeDialect.upsertStatements(
        "tgt", "tgt_stg_x", "tgt_stg_x_d", Seq("co.de", "px"), Seq("px"))
    }
    assert(dottedCol.getMessage.contains("not unquoted-safe"), dottedCol.toString)
    // End-to-end on Derby: upsert into an explicitly-qualified target.
    import spark.implicits._
    JdbcUpsert.ensureTable(url, "CREATE SCHEMA APPX")
    JdbcUpsert.ensureTable(url, ddl.replace("CREATE TABLE bars", "CREATE TABLE APPX.bars"))
    val day1 = Seq(("AAA", 20240101L, 10.0), ("BBB", 20240101L, 20.0))
      .toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(day1, url, "APPX.bars",
      Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    val delta = Seq(("AAA", 20240101L, 11.5)).toDF("code", "trade_date", "close_px")
    JdbcUpsert.upsertViaStagingRetry(delta, url, "APPX.bars",
      Seq("code", "trade_date"), Some("code VARCHAR(16)"))
    val rows = readTable("APPX.bars")
    assert(rows === Seq(("AAA", 20240101L, 11.5), ("BBB", 20240101L, 20.0)))
  }
}

/** Test-only JDBC driver: wraps embedded Derby and injects faults. Its
  * modes (round 15 — deterministic twins of the nondeterministic
  * concurrent-writer race) arm a ONE-SHOT fault on plain `executeUpdate`:
  * `mergerace` throws SQLState 23505 on the first MERGE (the
  * both-NOT-MATCHED insert race, exactly as the loser sees it), `dropfail` throws 40XL1 on the first staging-table
  * DROP (the post-commit cleanup failure). Arm via [[armStatementFault]]
  * before the call under test; everything else passes through, so Spark's
  * distributed staging write works against the shim URL unchanged.
  * URL shape: `jdbc:graftshim:<mode>:<derby-suffix>`.
  */
object ShimJdbc {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
  import java.sql.{Connection, DriverManager, SQLException, Statement}

  private val registered = new java.util.concurrent.atomic.AtomicBoolean(false)
  // Armed one-shot faults, KEYED BY FAULT KIND (ADVICE r15): the old
  // single shared AtomicBoolean meant a test that armed but never fired
  // (e.g. an earlier assertion failed first) leaked its arm into the next
  // shim-mode test, which then misfired on an unrelated statement — a
  // confusing cascade. Keying prevents cross-kind misfires; the spec's
  // afterEach calls [[disarmAll]] so a stale arm cannot cross test
  // boundaries at all.
  private val armed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def ensureRegistered(): Unit =
    if (registered.compareAndSet(false, true))
      DriverManager.registerDriver(new ShimDriver)

  /** One-shot arm for a statement-fault kind (`"mergerace"` /
    * `"dropfail"`): the NEXT matching executeUpdate through a
    * statement-mode connection throws, then the mode passes everything
    * through — so a retry of the same logical operation succeeds, like a
    * real transient race. The combined `racedropfail` connection mode
    * consumes both kinds independently (arm each).
    */
  def armStatementFault(kind: String): Unit = armed.add(kind)

  /** Safety net against stale arms outliving a failed test (ADVICE r15). */
  def disarmAll(): Unit = armed.clear()

  /** Whether an armed fault of `kind` has not fired yet. */
  def isArmed(kind: String): Boolean = armed.contains(kind)

  private def consume(kind: String): Boolean = armed.remove(kind)

  private def handler(target: AnyRef, wrap: (Method, AnyRef) => AnyRef): InvocationHandler =
    (_, m: Method, args: Array[AnyRef]) =>
      try wrap(m, if (args == null) m.invoke(target) else m.invoke(target, args: _*))
      catch { case e: InvocationTargetException => throw e.getCause }

  /** Like [[handler]] but runs a check BEFORE invoking the target — the
    * injected fault must fire instead of the real statement, not after it.
    */
  private def preHandler(target: AnyRef, before: (Method, Array[AnyRef]) => Unit): InvocationHandler =
    (_, m: Method, args: Array[AnyRef]) => {
      before(m, args)
      try { if (args == null) m.invoke(target) else m.invoke(target, args: _*) }
      catch { case e: InvocationTargetException => throw e.getCause }
    }

  private def proxyPlainStatement(real: Statement, mode: String): Statement =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Statement]),
      preHandler(real, (m, args) =>
        if (m.getName == "executeUpdate" && args != null && args.nonEmpty) {
          val sql = args(0).asInstanceOf[String]
          if ((mode == "mergerace" || mode == "racedropfail") &&
              sql.startsWith("MERGE") && consume("mergerace"))
            throw new SQLException(
              "simulated concurrent-writer insert race (both NOT MATCHED)", "23505")
          if ((mode == "dropfail" || mode == "racedropfail") &&
              sql.startsWith("DROP TABLE") && !sql.endsWith("_d") && consume("dropfail"))
            throw new SQLException(
              "simulated lock timeout on the post-commit staging drop", "40XL1")
          if (mode == "dropdedupfail" &&
              sql.startsWith("DROP TABLE") && sql.endsWith("_d") && consume("dropdedupfail"))
            throw new SQLException(
              "simulated lock timeout on the post-commit deduped-twin drop", "40XL1")
        })).asInstanceOf[Statement]

  private[graft] def proxyConnection(real: Connection, mode: String): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      handler(real, (m, r) =>
        if (m.getName == "createStatement") proxyPlainStatement(r.asInstanceOf[Statement], mode)
        else r)).asInstanceOf[Connection]
}

/** TOP-LEVEL (not nested in [[ShimJdbc]]) because Spark's JDBC writer
  * re-resolves the matched driver by `getClass.getCanonicalName` and
  * `Class.forName`s it on executors — a nested class's canonical name
  * (`graft.ShimJdbc.ShimDriver`) is not its binary name and fails to load,
  * so the statement-fault modes (which go through Spark's distributed
  * staging write) need a plainly-loadable class with a no-arg constructor.
  */
class ShimDriver extends java.sql.Driver {
  import java.sql.{Connection, DriverManager}
  private val prefix = "jdbc:graftshim:"
  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(prefix)
  override def connect(url: String, info: java.util.Properties): Connection = {
    if (!acceptsURL(url)) return null // JDBC contract: null, not throw
    val rest = url.stripPrefix(prefix)
    val mode = rest.takeWhile(_ != ':')
    val real = DriverManager.getConnection(
      "jdbc:derby:" + rest.dropWhile(_ != ':').drop(1), info)
    ShimJdbc.proxyConnection(real, mode)
  }
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getPropertyInfo(u: String, i: java.util.Properties) =
    Array.empty[java.sql.DriverPropertyInfo]
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}
