package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes two plan files per named query into `outDir`: the
  * `.explain("formatted")` output as `<query>_<tag>.txt`, and the AQE-final
  * physical plan as `<query>_<tag>_final.txt` — the optimization-round
  * evidence artifacts under `plans/`. The final plan is taken after
  * counting the rows of the query's OWN plan: `df.count()` would run a
  * separate aggregate plan and leave `df`'s adaptive plan unexecuted.
  *
  * Usage: Test/runMain graft.ExplainDump <tag> <q1,q2,...> <sfDir> <outDir>
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.ExplainDump <tag> <q1,q2,...> <sfDir> <outDir>")
    val Array(tag, ops, dir, outDir) = args
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    def write(name: String, text: String): Unit = {
      Files.writeString(out.resolve(name), text)
      println(s"[explain] wrote ${out.resolve(name)}")
    }
    ops.split(",").map(_.trim).filter(_.nonEmpty).foreach { op =>
      val df = SparkEntry.queries(op)(spark, dir)
      write(s"${op}_$tag.txt",
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      df.queryExecution.toRdd.count()
      write(s"${op}_${tag}_final.txt", df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
