package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Scaling-curve harness: replays registry queries over corpora grown ×k
  * from a base fixture dir and quotes, per op, wall-time growth (stepwise
  * ratios plus the least-squares log-log slope), memory observables and
  * an output-density check. Every `SCALING_r{N}.json` curve comes from it.
  * An op with slope ≥ 1.5 is named `WEAK`: a sub-quadratic design grows
  * about linearly (fixed overhead pulls the slope below 1 at small
  * scales), an accidental all-pairs or corpus-wide stage bends it toward 2.
  *
  * Routing: an op's corpus family follows from the parquet tables its
  * analyzed plan reads, checked in order — `documents`, `events`,
  * `embeddings`, and anything else is relational. Each family grows only
  * its own tables; replica 0 is always the original bytes.
  *  - documents: doc_id += r·10⁷ and every token is suffixed `~r`. Within
  *    a replica the near-dup structure is the original's; across replicas
  *    no token (hence no shingle, band or pair edge) matches, so clusters
  *    never merge and the duplicate fraction is scale-invariant.
  *  - events: user_id += r·10⁷, event_id += r·10⁸, everything else
  *    byte-identical. Every user's stream is a copy of an original one, so
  *    sessions, baskets, funnels and transitions never span replicas.
  *  - embeddings: vec_id += r·10⁶ and dimension i of every vector gets a
  *    per-(r, i) sign (bit 20 of an LCG seeded on r·64 + i). A diagonal ±1
  *    map is orthogonal, so within a replica every cosine and norm is the
  *    original's while across replicas they decorrelate (expected cosine
  *    0). The fixed query/centroid/prior sets (`vec_id < c`) stay in
  *    replica 0, so broadcast sides stay constant while candidates grow.
  *    Neighbor identity drifts toward cross-replica coincidences at scale,
  *    which is why the evidence here is wall growth and density, not
  *    neighbor sets.
  *  - relational: o_orderkey / l_orderkey += r·10⁷ and the five dimension
  *    tables are written through unchanged — facts grow against fixed
  *    dimensions and every foreign key still resolves. Arg 4
  *    (`table:keyCol,…`) also grows the named dimensions by shifting
  *    keyCol, for dimension-grain ops (customer-grain windows, part-grain
  *    string functions) whose curves would otherwise be trivially flat.
  *
  * Output density (`rows_vs_linear` = rows ÷ (k · rows at ×1)): ops whose
  * output is per entity (per pair, user, order) must read 1.000 — every
  * replica contributes an exact copy. Fixed-key ops (closed key sets,
  * LIMIT, top-k of the fixed query set) must read exactly 1/k. Anything
  * else means clusters merged or output keys leaked corpus cardinality.
  *
  * Method, per cell: min wall of 2 runs after a per-op warm-up at the
  * smallest scale. Persistent RDDs (localCheckpoint residue) are dropped
  * between runs. Every run hands the query a path-equivalent but
  * globally unique dir string (`…/x8/./.`), which misses the Tables and
  * tokenPairs plan caches (both key on the dir string): every run builds
  * from scratch, and no run can hit a cached plan whose checkpoint blocks
  * an earlier drop removed (that fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, as LocalCheckpointRDD cannot
  * recompute). A SparkListener sums task spill and shuffle bytes written
  * and maxes peak execution memory per run. Absolute seconds on a shared
  * box are indicative; the evidence is ratios and slopes within one run.
  *
  * Corpora are built once under `target/scaling/<family>/x<k>` outside
  * every timed region. `SPARK_GRAFT_SCALING_REUSE=1` reuses a table of an
  * existing corpus only if it carries `_SUCCESS` and exactly the row count
  * its recipe yields (k × base for grown tables); otherwise it is rebuilt.
  *
  * Run: `sbt -batch "Test/runMain graft.ScalingBench <baseDir> [k,k,…]
  * [ops] [table:keyCol,…]"` (curves are quoted over the sf0.1 fixtures;
  * defaults 1,8,64 and [[DefaultOps]]; the embeddings curves are usually
  * quoted at 1,16,256 — the 2k-vector base needs two decades for signal). Prints a `[route]` line per op, a
  * `[corpus]` line per built corpus, a `[scale]` JSON line per (op,
  * scale) and a final `[scale-summary]` JSON line. Not part of any gate.
  */
object ScalingBench {

  private final class TaskMetricsAgg extends SparkListener {
    val spill = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong(0)
    val peak = new java.util.concurrent.atomic.AtomicLong(0)
    def reset(): Unit = { spill.set(0); shuffleWrite.set(0); peak.set(0) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }
  }

  /** Ops run when no ops argument is given: the top-cost query of each
    * family whose plan carries an explicit scale claim. Names are
    * `SparkEntry.queries` keys, so the harness runs the declared bodies.
    */
  private val DefaultOps: Seq[String] = Seq(
    // documents
    "dedup_jaccard_pairs", // tokenPairs: materialized guarded postings + inverted-index join
    "dedup_ngram_jaccard", // hashed-shingle inverted index, df-guarded
    "dedup_components", // pointer-doubling CC over the pair graph, O(log n) rounds
    "text_langid_chargram", // corpus trigram profile → broadcast overlap join
    "text_langid", // corpus term profile → broadcast overlap join
    "text_term_freq", // per-language top-10 terms over all token counts
    // events
    "behavior_confidence", // basket pair support + broadcast antecedent counts
    "behavior_lift", // pair support / independence over (user, day) baskets
    "behavior_cooccurrence", // blocked basket self-join, candidates ∝ basket size
    "behavior_attribution", // ranked-first window + user-grain reduce
    "behavior_transitions", // per-user lag window → fixed transition matrix
    "cohort_retention", // two user-grain aggs + cohort agg
    "ts_sessionize", // per-user gap-based session islands
    "ts_active_concurrency", // interval overlap counts vs the day spine
    "ts_interarrival", // per-user lag deltas + distribution agg
    "ts_autocorr", // per-type lag-k autocorrelation over the daily series
    // embeddings
    "sim_cosine_topk", // brute-force top-5, 10 broadcast queries × corpus
    "sim_knn_label", // top-5 + label-vote window
    "sim_ann_lsh", // 8-bit hyperplane bucket join (bucket fill grows ∝ n/256)
    "sim_ann_ivf", // centroid assignment (corpus × 8) + in-cell probe
    "sim_ann_recall", // IVF top-5 vs exact top-5 overlap per query
    "sim_kmeans_step", // assignment + per-centroid mean recompute
    "sim_label_centroid", // per-label mean vector (10 labels)
    "dedup_embedding", // 200 broadcast priors-scan queries × corpus
    // relational
    "join_star_q3", // 3-table star, LIMIT 10
    "join_star_q5", // 5-table star + broadcast region/nation, per-nation agg
    "join_star_q7", // 2-nation exchange, per-(nations, year) agg
    "join_star_q10", // 4-table star, LIMIT 20
    "join_promo_share", // lineitem × broadcast part, single-row share
    "join_value_concentration", // per-part revenue vs broadcast global mean
    "join_skew_salted", // 8-way salted orders×customer, per-segment agg
    "agg_pricing_summary", // TPC-H Q1, closed (returnflag, linestatus) keys
    "win_topk_per_group", // per-customer top-3 window over orders
    "sub_correlated") // per-customer correlated aggregate over orders

  /** One table of a scaled corpus. `replica(base, r)` is replica r of the
    * base table (replica 0 must be the original rows); a table without a
    * recipe is written through unchanged.
    */
  private final case class CorpusTable(name: String,
      replica: Option[(DataFrame, Int) => DataFrame])

  /** The tables a family's corpus holds; `name` also names its dir. */
  private final case class Family(name: String, tables: Seq[CorpusTable])

  private val Dims = Seq("region", "nation", "customer", "supplier", "part")

  /** Shift `keyCol` by r·10⁷, every other column unchanged. */
  private def keyShift(keyCol: String)(df: DataFrame, r: Int): DataFrame =
    df.withColumn(keyCol, col(keyCol) + lit(r.toLong * 10000000L))

  private val Documents = Family("documents", Seq(CorpusTable("documents", Some { (base, r) =>
    val t = if (r == 0) col("text") else regexp_replace(col("text"), "(\\S+)", "$1~" + r)
    base.select(
      (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
      t.as("text"), col("lang"), col("source"),
      length(t).cast("long").as("n_chars"))
  })))

  private val Events = Family("events", Seq(CorpusTable("events", Some { (base, r) =>
    base.select(
      (col("event_id") + lit(r.toLong * 100000000L)).as("event_id"),
      col("ts"),
      (col("user_id") + lit(r.toLong * 10000000L)).as("user_id"),
      col("event_type"), col("value"), col("props"))
  })))

  private val Embeddings = Family("embeddings", Seq(CorpusTable("embeddings", Some { (base, r) =>
    val signed =
      if (r == 0) col("embedding")
      else transform(col("embedding"), (x, i) => {
        val lcg = (lit(r.toLong * 64L) + i.cast("long")) * lit(1103515245L) + lit(12345L)
        when(pmod(shiftright(lcg, 20), lit(2L)) === 0L, x).otherwise(x * lit(-1.0f))
      })
    base.select(
      (col("vec_id") + lit(r.toLong * 1000000L)).as("vec_id"),
      signed.as("embedding"),
      col("label"))
  })))

  /** Orders/lineitem grown against the dimensions; `extra` maps a
    * dimension to the key column that grows it too.
    */
  private def relational(extra: Seq[(String, String)]): Family = {
    val keys = extra.toMap
    Family(("relational" +: extra.map(_._1)).mkString("+"),
      Seq(CorpusTable("orders", Some(keyShift("o_orderkey"))),
        CorpusTable("lineitem", Some(keyShift("l_orderkey")))) ++
        Dims.map(t => CorpusTable(t, keys.get(t).map(keyShift))))
  }

  /** Parquet tables `op` reads when built over `dir`, from every plan
    * Spark optimizes while the op is built (see
    * [[SparkSpec.plansOptimizedDuring]]): materialized subtrees and
    * DataFrames rebuilt from `df.rdd` hide their sources from the final
    * plan. collectWithSubqueries, not collect: IN/EXISTS/scalar/lateral
    * subqueries live in plans embedded in expressions, which plain collect
    * never visits — a customer-only reading would route sub_in_filter or
    * join_existence to a corpus that does not grow their per-order work.
    * `dir` must come from [[SparkSpec.freshDir]], or the plan caches hand
    * back plans optimized before the walk started.
    */
  def tablesRead(spark: SparkSession, op: String, dir: String): Seq[String] =
    SparkSpec.plansOptimizedDuring(spark) {
      SparkEntry.queries(op)(spark, dir).queryExecution.optimizedPlan
    }.flatMap(_.collectWithSubqueries {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths
    }).flatten.map(_.getName.stripSuffix(".parquet")).distinct.sorted

  /** Base family of an op reading `tables`. */
  def familyOf(tables: Seq[String]): String =
    Seq("documents", "events", "embeddings").find(tables.contains).getOrElse("relational")

  /** Full-evaluation action: a bare `count()` lets Catalyst prune every
    * expression the count does not need (an aggregate-shaped op would
    * keep only its grouping keys, dropping the windows feeding its
    * aggregates). Hashing every output column makes nothing prunable; the
    * row count rides the same single action.
    */
  private def evalAll(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)")).head()
    r.getLong(0)
  }

  private def csv(arg: Option[String]): Option[Seq[String]] =
    arg.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScalingBench <baseDir> [k,k,…] [ops] [table:keyCol,…]")
    val baseDir = args(0)
    val scales = csv(args.lift(1)).map(_.map(_.toInt)).getOrElse(Seq(1, 8, 64)).sorted
    val ops = csv(args.lift(2)).getOrElse(DefaultOps)
    val extraRep = csv(args.lift(3)).getOrElse(Seq.empty)
      .map { s => val p = s.split(":"); (p(0), p(1)) }
    val reuse = sys.env.get("SPARK_GRAFT_SCALING_REUSE").contains("1")

    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("scaling-bench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val agg = new TaskMetricsAgg
    spark.sparkContext.addSparkListener(agg)

    val families = Map("documents" -> Documents, "events" -> Events,
      "embeddings" -> Embeddings, "relational" -> relational(extraRep))
    val familyByOp = ops.map { op =>
      val tables = tablesRead(spark, op, SparkSpec.freshDir(baseDir))
      val f = families(familyOf(tables))
      println(s"""[route] {"op":"$op","family":"${f.name}",""" +
        s""""tables":[${tables.map(t => s""""$t"""").mkString(",")}]}""")
      op -> f
    }.toMap

    val baseRows = scala.collection.mutable.Map.empty[String, Long]
    def baseCount(t: String): Long =
      baseRows.getOrElseUpdate(t, spark.read.parquet(s"$baseDir/$t.parquet").count())

    /** Writes (or, under reuse, verifies) each table of the ×k corpus. */
    def buildCorpus(f: Family, k: Int): String = {
      val dir = s"target/scaling/${f.name.replace('+', '_')}/x$k"
      val rows = f.tables.map { t =>
        val path = s"$dir/${t.name}.parquet"
        val want = baseCount(t.name) * (if (t.replica.isDefined) k else 1)
        val reused = reuse && Files.exists(Paths.get(s"$path/_SUCCESS")) &&
          spark.read.parquet(path).count() == want
        if (!reused) {
          val base = spark.read.parquet(s"$baseDir/${t.name}.parquet")
          t.replica
            .map(rep => (0 until k).map(rep(base, _)).reduce(_ unionByName _).repartition(32))
            .getOrElse(base)
            .write.mode("overwrite").parquet(path)
        }
        s""""${t.name}":{"rows":$want,"reused":$reused}"""
      }
      println(s"""[corpus] {"family":"${f.name}","x":$k,"tables":{${rows.mkString(",")}}}""")
      dir
    }

    val dirs = (for (f <- ops.map(familyByOp).distinct; k <- scales)
      yield (f.name, k) -> buildCorpus(f, k)).toMap
    def dirOf(op: String, k: Int): String = dirs((familyByOp(op).name, k))

    def dropCheckpoints(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    case class Cell(op: String, k: Int, rows: Long, wallS: Double,
        spillMb: Double, shuffleMb: Double, peakMb: Double)

    ops.foreach { op =>
      evalAll(SparkEntry.queries(op)(spark, SparkSpec.freshDir(dirOf(op, scales.head))))
      dropCheckpoints()
    }

    val cells = for (op <- ops; k <- scales) yield {
      val runs = (0 until 2).map { _ =>
        dropCheckpoints()
        agg.reset()
        val t0 = System.nanoTime()
        val n = evalAll(SparkEntry.queries(op)(spark, SparkSpec.freshDir(dirOf(op, k))))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // let the async listener bus drain
        (wall, n, agg.spill.get / 1e6, agg.shuffleWrite.get / 1e6, agg.peak.get / 1e6)
      }
      val best = runs.minBy(_._1)
      val c = Cell(op, k, best._2, best._1, best._3, best._4, best._5)
      println(f"""[scale] {"op":"${c.op}","x":${c.k},"rows":${c.rows},""" +
        f""""wall_s":${c.wallS}%.2f,"spill_mb":${c.spillMb}%.1f,""" +
        f""""shuffle_write_mb":${c.shuffleMb}%.1f,"peak_task_mem_mb":${c.peakMb}%.1f}""")
      c
    }

    val summaries = ops.map { op =>
      val cs = cells.filter(_.op == op)
      val xs = cs.map(c => math.log(c.k.toDouble))
      val ys = cs.map(c => math.log(c.wallS))
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
      val ratios = cs.sliding(2).collect { case Seq(a, b) =>
        f""""x${a.k}_to_x${b.k}":${b.wallS / a.wallS}%.2f""" }.mkString(",")
      val r1 = cs.head.rows.toDouble
      val density = cs.map(c =>
        f""""x${c.k}":${c.rows / (c.k * r1)}%.3f""").mkString(",")
      val verdict = if (slope >= 1.5) "WEAK" else "subquadratic"
      f"""{"op":"$op","family":"${familyByOp(op).name}","slope":$slope%.3f,""" +
        f""""verdict":"$verdict","wall_ratios":{$ratios},"rows_vs_linear":{$density}}"""
    }
    val base = baseRows.toSeq.sorted.map { case (t, n) => s""""$t":$n""" }.mkString(",")
    println(s"""[scale-summary] {"scales":[${scales.mkString(",")}],"base_rows":{$base},""" +
      s""""ops":[${summaries.mkString(",")}]}""")
    spark.stop()
  }
}
