package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.IncrementalPipeline

/** End-to-end daily-update workflow: parquet source → watermark-filtered
  * delta → MERGE upsert into Derby, across three scheduled "days".
  */
class IncrementalPipelineSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftpipe;create=true"
  private val srcDir = Files.createTempDirectory("graft_incr").toString

  test("incremental loads pick up exactly the new rows; re-runs are no-ops") {
    import spark.implicits._
    graft.sources.JdbcUpsert.ensureTable(url,
      """CREATE TABLE bars (
        |  code VARCHAR(16) NOT NULL,
        |  trade_date BIGINT NOT NULL,
        |  close_px DOUBLE,
        |  PRIMARY KEY (code, trade_date))""".stripMargin)

    def runOnce() = IncrementalPipeline.run(spark, srcDir, url, "bars",
      keys = Seq("code", "trade_date"), watermarkCol = "trade_date",
      stagingColumnTypes = Some("code VARCHAR(16)"))
    def tableRows() = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "bars").load().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))

    // day 1: full history
    Seq(("AAA", 20240101L, 10.0), ("BBB", 20240101L, 20.0))
      .toDF("code", "trade_date", "close_px")
      .write.mode("overwrite").parquet(srcDir)
    val r1 = runOnce()
    assert(r1.watermark === None && r1.deltaRows === 2)
    assert(tableRows().length === 2)

    // re-run with nothing new: no-op
    val r2 = runOnce()
    assert(r2.watermark === Some(20240101L) && r2.deltaRows === 0)

    // day 2: source grows by one day (old rows unchanged in source)
    Seq(("AAA", 20240101L, 10.0), ("BBB", 20240101L, 20.0),
        ("AAA", 20240102L, 11.0), ("BBB", 20240102L, 21.0))
      .toDF("code", "trade_date", "close_px")
      .write.mode("overwrite").parquet(srcDir)
    val r3 = runOnce()
    assert(r3.watermark === Some(20240101L) && r3.deltaRows === 2)
    assert(tableRows().toSeq === Seq(
      ("AAA", 20240101L, 10.0), ("AAA", 20240102L, 11.0),
      ("BBB", 20240101L, 20.0), ("BBB", 20240102L, 21.0)))

    // transform hook applies before the upsert
    Seq(("AAA", 20240103L, 12.0)).toDF("code", "trade_date", "close_px")
      .write.mode("append").parquet(srcDir)
    val r4 = IncrementalPipeline.run(spark, srcDir, url, "bars",
      keys = Seq("code", "trade_date"), watermarkCol = "trade_date",
      transform = df => df.withColumn("close_px", col("close_px") * 2),
      stagingColumnTypes = Some("code VARCHAR(16)"))
    assert(r4.deltaRows === 1)
    assert(tableRows().contains(("AAA", 20240103L, 24.0)))
  }

  /** Round 14 (calendar-era companion): the watermark domain includes
    * NEGATIVE values — an epoch-day watermark is negative for any
    * pre-1970 date, and an id-typed one can be signed. The first-run
    * "no prior state" case is `None`, not 0 (maxWatermark returns
    * Option; run() `fold`s it): a `coalesce(max, 0)` shortcut would make
    * the first load of an all-negative source skip EVERY row — full
    * history silently never ingested, the worst failure mode a scheduled
    * pipeline has. This pins that the full load, the no-op re-run, and a
    * delta that crosses zero all work on a signed domain.
    */
  test("negative watermark domain: first load is full, delta crosses zero") {
    import spark.implicits._
    val url2 = "jdbc:derby:memory:graftpipeneg;create=true"
    val src2 = Files.createTempDirectory("graft_incr_neg").toString
    graft.sources.JdbcUpsert.ensureTable(url2,
      """CREATE TABLE bars (
        |  code VARCHAR(16) NOT NULL,
        |  epoch_day BIGINT NOT NULL,
        |  close_px DOUBLE,
        |  PRIMARY KEY (code, epoch_day))""".stripMargin)

    def runOnce() = IncrementalPipeline.run(spark, src2, url2, "bars",
      keys = Seq("code", "epoch_day"), watermarkCol = "epoch_day",
      stagingColumnTypes = Some("code VARCHAR(16)"))
    def tableRows() = spark.read.format("jdbc").option("url", url2)
      .option("dbtable", "bars").load().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))

    // day 1: ALL-negative history (1968-era epoch days). A zero-defaulted
    // watermark would filter epoch_day > 0 and load nothing.
    Seq(("AAA", -731L, 10.0), ("AAA", -730L, 11.0), ("BBB", -731L, 20.0))
      .toDF("code", "epoch_day", "close_px")
      .write.mode("overwrite").parquet(src2)
    val r1 = runOnce()
    assert(r1.watermark === None && r1.deltaRows === 3,
      s"first load of an all-negative domain must be FULL, got $r1")
    assert(tableRows().length === 3)

    // re-run: the stored high-water mark is NEGATIVE (-730) and must be
    // used as-is — a no-op, not a re-load
    val r2 = runOnce()
    assert(r2.watermark === Some(-730L) && r2.deltaRows === 0)

    // delta crossing zero: one pre-epoch row newer than the mark, one
    // post-epoch row; both load, older rows don't
    Seq(("AAA", -731L, 10.0), ("AAA", -730L, 11.0), ("BBB", -731L, 20.0),
        ("BBB", -1L, 21.0), ("AAA", 5L, 12.0))
      .toDF("code", "epoch_day", "close_px")
      .write.mode("overwrite").parquet(src2)
    val r3 = runOnce()
    assert(r3.watermark === Some(-730L) && r3.deltaRows === 2)
    assert(tableRows().toSeq === Seq(
      ("AAA", -731L, 10.0), ("AAA", -730L, 11.0), ("AAA", 5L, 12.0),
      ("BBB", -731L, 20.0), ("BBB", -1L, 21.0)))
  }

  test("a merge race during the daily load is retried, not fatal") {
    // The shim fails the load's first MERGE with the concurrent-writer
    // insert race (SQLState 23505); run() must re-run the upsert and land
    // the delta once, with no staging table left behind.
    import spark.implicits._
    ShimJdbc.ensureRegistered()
    val raceUrl = "jdbc:graftshim:mergerace:memory:graftpiperace;create=true"
    val plainUrl = "jdbc:derby:memory:graftpiperace;create=true"
    val src = Files.createTempDirectory("graft_incr_race").toString
    graft.sources.JdbcUpsert.ensureTable(plainUrl,
      """CREATE TABLE bars (
        |  code VARCHAR(16) NOT NULL,
        |  trade_date BIGINT NOT NULL,
        |  close_px DOUBLE,
        |  PRIMARY KEY (code, trade_date))""".stripMargin)
    Seq(("AAA", 20240101L, 10.0), ("BBB", 20240101L, 20.0))
      .toDF("code", "trade_date", "close_px")
      .write.mode("overwrite").parquet(src)

    ShimJdbc.armStatementFault("mergerace")
    val (stats, fired) =
      try {
        val stats = IncrementalPipeline.run(spark, src, raceUrl, "bars",
          keys = Seq("code", "trade_date"), watermarkCol = "trade_date",
          stagingColumnTypes = Some("code VARCHAR(16)"))
        (stats, !ShimJdbc.isArmed("mergerace"))
      } finally ShimJdbc.disarmAll()
    assert(fired, "the armed merge race never fired")
    assert(stats.watermark === None && stats.deltaRows === 2)
    val rows = spark.read.format("jdbc").option("url", plainUrl)
      .option("dbtable", "bars").load().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(rows === Seq(("AAA", 20240101L, 10.0), ("BBB", 20240101L, 20.0)))
    val c = java.sql.DriverManager.getConnection(plainUrl)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'BARS_STG%'")
      assert(!rs.next(), "the failed attempt left a staging table")
    } finally c.close()
  }
}
