package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.JdbcUpsert
import graft.streaming.StreamingUpsert

/** End-to-end incremental pipeline: stream of events → per-key aggregate →
  * foreachBatch MERGE upsert into Derby. The reference's daily-update loop
  * as a continuous job; asserts the final table equals the batch aggregate
  * of everything streamed, with updates (not duplicates) across batches.
  */
class StreamingUpsertSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftstream;create=true"

  test("streaming upsert keeps one MERGEd row per key across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    JdbcUpsert.ensureTable(url,
      """CREATE TABLE user_totals (
        |  user_id BIGINT NOT NULL PRIMARY KEY,
        |  n_events BIGINT,
        |  sum_value DOUBLE)""".stripMargin)

    val rows = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "value").orderBy("event_id").limit(400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val stream = MemoryStream[(Long, Long, Double)]
    val agg = stream.toDF().toDF("event_id", "user_id", "value")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    val q = StreamingUpsert.upsertSink(agg, url, "user_totals", Seq("user_id")).start()

    val (a, b) = rows.splitAt(200)
    stream.addData(a.toIndexedSeq); q.processAllAvailable()
    stream.addData(b.toIndexedSeq); q.processAllAvailable()
    q.stop()

    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "user_totals").load()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)

    val expected = rows.groupBy(_._2).map { case (u, es) =>
      (u, es.length.toLong,
        BigDecimal(es.map(_._3).sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toArray.sortBy(_._1)

    assert(got.length === expected.length) // one row per user — updated, not appended
    got.zip(expected).foreach { case ((gu, gn, gs), (eu, en, es)) =>
      assert(gu === eu); assert(gn === en)
      assert(math.abs(gs - es) < 0.02, s"user $gu: $gs vs $es")
    }
  }

  test("restart from checkpoint resumes state without losing or duplicating") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    JdbcUpsert.ensureTable(url,
      """CREATE TABLE user_totals_ck (
        |  user_id BIGINT NOT NULL PRIMARY KEY,
        |  n_events BIGINT)""".stripMargin)
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_ck").toString

    val rows = Tables.events(spark, sf0001)
      .select("event_id", "user_id").orderBy("event_id").limit(300)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val stream = MemoryStream[(Long, Long)]
    def agg = stream.toDF().toDF("event_id", "user_id")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    def startQuery() = StreamingUpsert
      .upsertSink(agg, url, "user_totals_ck", Seq("user_id"))
      .option("checkpointLocation", checkpoint).start()

    val (a, b) = rows.splitAt(150)
    val q1 = startQuery()
    stream.addData(a.toIndexedSeq); q1.processAllAvailable(); q1.stop()
    // a NEW query from the SAME checkpoint: offsets + aggregation state
    // resume, so batch b merges on top of a's totals — the crash-restart
    // contract of the incremental pipeline.
    val q2 = startQuery()
    stream.addData(b.toIndexedSeq); q2.processAllAvailable(); q2.stop()

    val got = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "user_totals_ck").load()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expected = rows.groupBy(_._2).map { case (u, es) => (u, es.length.toLong) }
      .toArray.sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
  }
}
