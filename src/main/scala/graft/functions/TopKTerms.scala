package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Record types for [[TopKTerms]] (top-level for the same cyclic-reference
  * reason as [[BottomTwoTypes]]/[[TopKNeighborsTypes]]).
  */
object TopKTermsTypes {
  /** c = the count (non-null by construction — aggregate output); t = the
    * term/gram string (tie-break and output key).
    */
  final case class In(c: Long, t: String)
  /** `items` is kept sorted best-first ((c DESC, t ASC)) and never exceeds
    * K; slot position = row_number under that total order.
    */
  final case class Buf(items: Seq[In])
}

/** Bounded top-K-by-(count DESC, term ASC) aggregate over STRING keys —
  * the [[TopKNeighbors]] pattern lifted to the text profile family
  * (round 22, VERDICT r21 #7: the "aggregator keys are Long" limitation
  * was self-imposed). Replaces the two-phase prof_pid-salted row_number
  * windows in text_term_freq / text_langid / text_langid_chargram: the
  * two-phase shape bounded the per-language sort to ≤N·partitions
  * candidate rows, but still paid one extra Exchange (the aggregated
  * vocabulary is hash-partitioned by (lang, term); the phase-1 window
  * needs (lang, prof_pid)) plus two sorts. The K-slot aggregate reduces
  * the vocabulary map-side into ≤#languages × K slots — the
  * per-partition-top-K-is-a-superset argument made intrinsic — with no
  * sort and no salt column, and its group key count (#languages) is far
  * below the ObjectHashAggregate 128-key sort-fallback threshold.
  *
  * ORDERING CONTRACT: (c DESC, t ASC) where the string comparison is by
  * CODE POINT — UTF-8 binary order, matching Spark's UTF8String sort
  * order and DuckDB's default binary collation. Java's String.compareTo
  * is UTF-16 code-UNIT order, which DIVERGES above the BMP (a
  * supplementary character sorts below U+E000..U+FFFF in code units but
  * above them in code points / UTF-8 bytes), so [[codePointCompare]]
  * walks code points explicitly; ProfileTopKParitySpec fuzzes it against
  * Spark's own sort on astral-plane terms.
  *
  * PRECONDITIONS (as TopKNeighbors): `In.t` non-null (every consumer
  * feeds split/concat output, whose elements are never null — a null
  * fails loudly at the comparator); counts are exact longs.
  */
object TopKTerms {
  /** K=10 — text_term_freq's per-language top-10 terms. */
  val top10: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKTerms(10))
  /** K=20 — text_langid's per-language term profile. */
  val top20: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKTerms(20))
  /** K=30 — text_langid_chargram's per-language trigram profile. */
  val top30: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKTerms(30))

  /** Code-point (= UTF-8 binary = Spark UTF8String) string comparison.
    * Precondition: both strings are valid UTF-16, with no unpaired
    * surrogate. A lone surrogate compares here as its code unit
    * (U+D800–U+DFFF, below U+E000), but it has no UTF-8 encoding (Java
    * writes it as `?`), so the two orders can disagree. Strings decoded
    * from a Spark column never carry one — UTF8String decoding replaces
    * malformed bytes with U+FFFD — which is what every caller feeds.
    */
  private[functions] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }
}

final class TopKTerms(k: Int) extends Aggregator[
    TopKTermsTypes.In, TopKTermsTypes.Buf, TopKTermsTypes.Buf] {

  import TopKTermsTypes.{Buf, In}

  /** Strict "a ranks before b" under (c DESC, t ASC code-point). */
  private def before(a: In, b: In): Boolean =
    if (a.c != b.c) a.c > b.c
    else TopKTerms.codePointCompare(a.t, b.t) < 0

  /** Insert keeping `items` sorted best-first, capped at K (same O(K)
    * linear-insert shape as TopKNeighbors — fine at K ≤ 30; revisit the
    * structure before registering a large-K instance).
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
