package graft

import graft.llm.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-22 parity pin for dedup_embedding's packed-decimal argmax
  * (VERDICT r21 #3): the best-prior pick is two `max_by(…, packed)`
  * aggregates over packed = s4·10²⁰ − prior_id, s4 = round(sim·10⁴)
  * (−2·10⁴ for NULL sim). The risky part is the PACKING — decimal
  * exactness of the 4dp sim, the NULL sentinel, monotonicity in
  * (sim DESC NULLS LAST, prior_id ASC), and no field overlap at extreme
  * prior ids — so this suite fuzzes the reduction over the production
  * key, `Dedup.packedSimIdKey`, against a row_number window reference on
  * constructed adversarial rows. The
  * query-level wiring (join, cosine, output columns) is pinned by
  * IvfParitySpec's dedup_embedding test against the r20 window body on
  * the real fixtures, and the no-fallback plan shape by PlanSpec.
  */
class EmbeddingArgmaxSpec extends SparkSpec {

  /** The registered query's packed reduction over the production key. */
  private def packedPick(rows: DataFrame): DataFrame =
    rows.withColumn("packed", Dedup.packedSimIdKey(col("sim"), col("prior_id")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("prior_id"), col("packed")).as("best_prior_id"),
        max_by(col("sim"), col("packed")).as("sim"))

  /** The r20 window reference: rn=1 under (sim DESC NULLS LAST, prior ASC). */
  private def windowPick(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc_nulls_last, col("prior_id"))
    rows.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("prior_id").as("best_prior_id"), col("sim"))
  }

  private def asSet(df: DataFrame): Set[(Long, Long, Option[Double])] =
    df.collect().toSet[org.apache.spark.sql.Row].map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))

  test("packed max_by equals the window pick on adversarial ties/NULLs/extremes") {
    import spark.implicits._
    // Hand-built corner groups: exact 4dp ties broken by prior_id, NULL
    // sims losing to any real sim (including −1.0), all-NULL groups,
    // extreme prior ids at both Long ends, ±0.0, single-row groups.
    val corner: Seq[(Long, Long, Option[Double])] = Seq(
      (1L, 7L, Some(0.5d)), (1L, 3L, Some(0.5d)), (1L, 9L, Some(0.4999d)),
      (2L, 5L, None), (2L, 6L, Some(-1.0d)),
      (3L, 11L, None), (3L, 12L, None),
      (4L, Long.MaxValue, Some(0.1234d)), (4L, Long.MinValue + 1, Some(0.1234d)),
      (5L, -4L, Some(0.0d)), (5L, -8L, Some(-0.0d)),
      (6L, 42L, Some(1.0d)), (6L, 41L, Some(0.9999d)), (6L, 43L, Some(1.0d)),
      (7L, 0L, Some(-0.9999d)))
    // Fuzz: 400 groups (crosses the 128-key hash-map threshold class) ×
    // ~6 rows of LCG-derived 4dp sims with planted collisions and NULLs.
    val rnd = new scala.util.Random(20260819L)
    val fuzz = (0 until 400).flatMap { g =>
      (0 until 1 + rnd.nextInt(6)).map { i =>
        val sim = rnd.nextInt(5) match {
          case 0 => None
          case 1 => Some(0.25d) // planted cross-row tie
          case _ => Some(math.rint(rnd.nextDouble() * 20000 - 10000) / 10000.0)
        }
        (100L + g, rnd.nextLong() % 1000000007L, sim)
      }
    }
    val rows = (corner ++ fuzz).toDF("vec_id", "prior_id", "sim")
    val got = asSet(packedPick(rows))
    val want = asSet(windowPick(rows))
    assert(got == want,
      s"packed argmax diverged from the window pick:\n only got=${got -- want}\n only want=${want -- got}")
  }
}
