package graftbench

import scala.collection.mutable

import com.codahale.metrics.Histogram
import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Pure arithmetic of the traced run, kept apart so SelfTest can pin it. */
object TraceMath {

  /** Spark UI's scheduler delay: the part of a task's wall time that is
    * neither running, deserializing, serializing its result nor shipping
    * it back. `gettingResultMs` is already a duration (finish − the time
    * the driver started fetching the result), 0 when the result was
    * inline. Clamped at 0: the components come from two clocks.
    */
  def schedulerDelayMs(durationMs: Long, runMs: Long, deserializeMs: Long,
      resultSerializeMs: Long, gettingResultMs: Long): Long =
    math.max(0L, durationMs - runMs - deserializeMs - resultSerializeMs - gettingResultMs)

  def gettingResultMs(gettingResultStart: Long, finish: Long): Long =
    if (gettingResultStart > 0L) finish - gettingResultStart else 0L

  /** Sum of the histogram samples recorded between two readings.
    * Codahale histograms keep no running sum, but their reservoir keeps
    * every sample while the count is at most its size (1028), which a
    * fresh JVM running one pass stays under; past that the sum is
    * estimated as the mean × the new samples.
    */
  def histogramSumDelta(countBefore: Long, sumBefore: Double, countAfter: Long,
      sumAfter: Double, meanAfter: Double, reservoir: Int): Double =
    if (countAfter <= reservoir) sumAfter - sumBefore
    else meanAfter * (countAfter - countBefore)
}

/** Everything the traced run observes of Spark, through hooks it registers
  * itself: a SparkListener (jobs, stages, tasks, executor and shuffle
  * metrics), a QueryExecutionListener (Catalyst phases) and the static
  * CodegenMetrics histograms.
  */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  private def max(k: String, v: Double): Unit = sums(k) = math.max(sums.getOrElse(k, 0.0), v)

  /** Start time of each running job, and whether it started inside a call
    * to the sources entry points: those jobs are summed apart as
    * `sources.stage_job_s`. */
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  @volatile var inSources = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("scheduler.jobs", 1)
    jobStart(e.jobId) = (e.time, inSources)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, sources) =>
      if (sources) add("sources.stage_job_s", (e.time - t0) / 1e3)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("scheduler.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("scheduler.tasks", 1)
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      add("scheduler.delay_s", TraceMath.schedulerDelayMs(i.duration, m.executorRunTime,
        m.executorDeserializeTime, m.resultSerializationTime,
        TraceMath.gettingResultMs(i.gettingResultTime, i.finishTime)) / 1e3)
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("shuffle.spill_disk_mb", m.diskBytesSpilled / 1048576.0)
      max("memory.peak_exec_mb", m.peakExecutionMemory / 1048576.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      add("catalyst.executions", 1)
      val phases = qe.tracker.phases
      for (p <- Seq("analysis", "optimization", "planning"))
        add(s"catalyst.${p}_s", phases.get(p).map(_.durationMs).getOrElse(0L) / 1e3)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def hist: Histogram = CodegenMetrics.METRIC_COMPILATION_TIME
  private def histSum: Double = hist.getSnapshot.getValues.map(_.toDouble).sum
  private var codegenBase = (0L, 0.0)

  /** Zero every counter; the next `snapshot` covers only what follows. */
  def reset(spark: SparkSession): Unit = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      sums.clear()
      jobStart.clear()
      codegenBase = (hist.getCount, histSum)
    }
  }

  def snapshot(spark: SparkSession): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      val sum = TraceMath.histogramSumDelta(codegenBase._1, codegenBase._2,
        hist.getCount, histSum, hist.getSnapshot.getMean, 1028)
      val base = Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "scheduler.delay_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
        "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
        "shuffle.spill_disk_mb", "memory.peak_exec_mb", "catalyst.executions",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "sources.stage_job_s")
        .map(k => k -> sums.getOrElse(k, 0.0))
      (base ++ Seq(
        "codegen.compile_s" -> sum / 1e3,
        "codegen.compiles" -> (hist.getCount - codegenBase._1).toDouble)).toMap
    }
  }
}

object SparkTrace {
  def install(spark: SparkSession): SparkTrace = {
    val t = new SparkTrace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
