package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference pipeline's complete daily-update workflow (SURVEY §3.1
  * lifecycle 2) as one orchestrated call:
  *
  *   1. read the target's high-water mark (`SELECT MAX(watermarkCol)` —
  *      pushed down to the database),
  *   2. read only newer rows from the source (filter pushed into the scan),
  *   3. optional transform,
  *   4. idempotent keyed MERGE upsert of the delta, re-run on a
  *      concurrent-writer race.
  *
  * Re-running with no new source rows is a no-op; re-running after a crash
  * mid-merge re-MERGEs the same keys — the pipeline is idempotent end to
  * end, which is the property that makes unattended scheduled runs safe.
  * At scale every step is distributed except the one watermark scalar.
  */
object IncrementalPipeline {

  final case class RunStats(watermark: Option[Long], deltaRows: Long)

  /** Run one incremental load from a parquet source into a JDBC target.
    *
    * @param watermarkCol monotonically increasing column (epoch day, id…)
    *                     present in both source and target
    */
  def run(spark: SparkSession, sourceParquet: String, url: String, table: String,
      keys: Seq[String], watermarkCol: String,
      transform: DataFrame => DataFrame = identity,
      stagingColumnTypes: Option[String] = None): RunStats = {
    val wm = JdbcUpsert.maxWatermark(spark, url, table, watermarkCol)
    val source = spark.read.parquet(sourceParquet)
    val delta = transform(wm.fold(source)(w => source.filter(col(watermarkCol) > w)))
    val n = delta.count()
    if (n > 0) {
      JdbcUpsert.upsertViaStagingRetry(delta, url, table, keys, stagingColumnTypes)
    }
    RunStats(wm, n)
  }
}
