package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.sources.JdbcUpsert

/** Streaming → keyed JDBC upsert: the reference pipeline's
  * incremental-update loop (watermark → fetch delta → upsert) expressed as
  * a continuous job. Spark has no JDBC streaming sink, so the canonical
  * composition is `foreachBatch` + the batch upsert: each micro-batch is
  * MERGEd by key, which makes the whole pipeline effectively-once — a
  * replayed batch (restart, retry) re-MERGEs the same keys to the same
  * values instead of duplicating rows.
  *
  * At scale each micro-batch writes its staging table with the distributed
  * JDBC writer and the database does one set-based MERGE; state on the
  * Spark side is whatever the upstream aggregation needs, nothing here.
  */
object StreamingUpsert {

  /** Attach an idempotent JDBC upsert sink to a streaming DataFrame. */
  def upsertSink(stream: DataFrame, url: String, table: String, keys: Seq[String],
      stagingColumnTypes: Option[String] = None): DataStreamWriter[Row] = {
    val upsertBatch: (DataFrame, Long) => Unit = (batch, _) =>
      if (!batch.isEmpty)
        JdbcUpsert.upsertViaStagingRetry(batch, url, table, keys, stagingColumnTypes)
    stream.writeStream.outputMode("update").foreachBatch(upsertBatch)
  }
}
