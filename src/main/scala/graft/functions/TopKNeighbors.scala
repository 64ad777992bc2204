package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Record types for [[TopKNeighbors]] (top-level for the same cyclic-
  * reference reason as [[BottomTwoTypes]]).
  */
object TopKNeighborsTypes {
  /** ns = sim IS NULL (sorts last, matching DESC NULLS LAST); s = the
    * similarity; k = the neighbor id (tie-break / output key).
    */
  final case class In(ns: Boolean, s: Double, k: Long)
  /** `items` is kept sorted best-first and never exceeds K. */
  final case class Buf(items: Seq[In])
}

/** Bounded top-K-by-(sim DESC NULLS LAST, key ASC) aggregate — the
  * BottomTwo/SecondMax pattern at K=5 (VERDICT r19 #1): the per-query
  * top-k that `sim_cosine_topk` / `sim_knn_label` previously computed
  * with `row_number` over `Window.partitionBy(query_id)` becomes an O(K)
  * per-row push into a K-slot buffer with an O(K²)=O(1) merge, map-side
  * combinable like any built-in.
  *
  * Why: the window shape's Partial WindowGroupLimit bounds the rows that
  * SHUFFLE, but its required child ordering still SORTS every joined
  * input partition — per-task state ∝ partition size, which the x2048
  * embeddings probe measured doubling 41.9→83.9 MB as the corpus doubled
  * under a pinned partition count. This buffer makes the bound INTRINSIC:
  * partial state is (#queries in the task's hash map) × K slots — flat in
  * the corpus no matter how deployment sizes partitions — and the sort
  * disappears entirely (same argument as BottomTwo.scala, "the same
  * bound made direct").
  *
  * Ordering contract (mirrors the replaced window, Spark sort semantics
  * on doubles): non-NULL sims first (DESC NULLS LAST); IEEE `==` ties
  * (0.0 with −0.0) and NaN pairs tie and fall through to the ascending
  * key; a lone NaN ranks FIRST among non-nulls (Spark orders NaN greatest,
  * so `sim DESC` puts it on top). Unreachable-NaN note: every caller
  * rounds sim through Exact.roundN's TRY_CAST, which maps NaN to NULL
  * before the aggregate — the NaN branch exists so the comparator is
  * total, pinned by TopKNeighborsSpec's fuzz either way.
  *
  * PRECONDITION (as BottomTwo): `In.k` is a non-nullable Long — a NULL
  * key fails loudly at encoding time. Both callers key on vec_id, and a
  * NULL vec_id row cannot reach the aggregate at all: the candidate join's
  * `query_id =!= neighbor_id` predicate is NULL for it, so the join drops
  * it (degenerate sets null vec_id; the sweep runs green on this).
  */
/** Shared registered instances (round 21, VERDICT r20 #3): every consumer
  * used to build its own `udaf(new TopKNeighbors(k))` per DataFrame
  * construction, so each invocation allocated a fresh
  * UserDefinedAggregator whose ScalaAggregator expression re-resolved the
  * product encoders and re-keyed the codegen/plan caches — the measured
  * ~0.2-0.4 s cold-plan constant per consumer in the round-20 bench
  * disposal (BASELINE.md r20). One module-level instance per K gives every
  * plan the SAME function object, so encoder resolution happens once per
  * JVM and identical sub-plans hash identically across queries. Pure
  * reuse: the aggregator is immutable and stateless between rows, so
  * sharing cannot change results.
  */
object TopKNeighbors {
  /** K=5 — the exact/IVF/LSH top-5 consumers. */
  val top5: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKNeighbors(5))
  /** K=10 — scan_sample_stratified's per-language LCG sample. */
  val top10: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKNeighbors(10))
}

final class TopKNeighbors(k: Int) extends Aggregator[
    TopKNeighborsTypes.In, TopKNeighborsTypes.Buf, TopKNeighborsTypes.Buf] {

  import TopKNeighborsTypes.{Buf, In}

  /** Strict "a ranks before b" under (sim DESC NULLS LAST, key ASC). */
  private def before(a: In, b: In): Boolean =
    if (a.ns != b.ns) b.ns // non-null sim first
    else if (!a.ns && !(a.s == b.s || (a.s.isNaN && b.s.isNaN)))
      java.lang.Double.compare(a.s, b.s) > 0 // NaN greatest == ranks first
    else a.k < b.k // both NULL, or sims tie → ascending key

  /** Insert keeping `items` sorted best-first, capped at K. Returns the
    * SAME Seq reference when v is rejected, so the hot path (a candidate
    * worse than the current K-th) is one comparison and zero allocation.
    * SMALL-K ASSUMPTION (ADVICE r21 #4): the accepted-candidate path is
    * an O(K) linear insert (indexWhere + Seq rebuild) — right for the
    * registered K ≤ 10 instances, wrong for a hypothetical top-1000;
    * switch to a bounded heap before registering a large-K instance.
    */
  private def push(items: Seq[In], v: In): Seq[In] =
    if (items.size == k && !before(v, items.last)) items
    else {
      val i = items.indexWhere(before(v, _))
      val at = if (i < 0) items.size else i
      ((items.take(at) :+ v) ++ items.drop(at)).take(k)
    }

  override def zero: Buf = Buf(Vector.empty)

  override def reduce(b: Buf, v: In): Buf = {
    val ni = push(b.items, v)
    if (ni eq b.items) b else Buf(ni)
  }

  override def merge(a: Buf, b: Buf): Buf =
    Buf(b.items.foldLeft(a.items)(push))

  override def finish(b: Buf): Buf = b

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Buf] = Encoders.product[Buf]
}
