package graftbench

import graft.sources.AnsiMergeDialect

/** Checks of the traced run's arithmetic: the scheduler-delay formula, the
  * codegen histogram delta and the statement-kind classification, the last
  * on the statement texts the program's own MERGE dialect generates.
  * Exits 1 on the first wrong answer.
  */
object SelfTest {
  private var checks = 0
  private def eq[A](what: String, got: A, want: A): Unit = {
    checks += 1
    if (got != want) {
      System.err.println(s"selftest FAILED $what: got $got, want $want")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    eq("delay", TraceMath.schedulerDelayMs(100, 60, 10, 5, 5), 20L)
    eq("delay clamps at 0", TraceMath.schedulerDelayMs(50, 60, 0, 0, 0), 0L)
    eq("inline result", TraceMath.gettingResultMs(0L, 1000L), 0L)
    eq("fetched result", TraceMath.gettingResultMs(990L, 1000L), 10L)
    eq("exact sum", TraceMath.histogramSumDelta(10, 100.0, 20, 250.0, 12.5, 1028), 150.0)
    eq("estimated sum", TraceMath.histogramSumDelta(1000, 0.0, 1100, 0.0, 2.0, 1028), 200.0)

    val stg = "daily_orders_stg_0123456789ab"
    val cols = Seq("o_orderkey", "o_day")
    eq("dialect statements", AnsiMergeDialect.upsertStatements(
      "daily_orders", stg, s"${stg}_d", cols, Seq("o_orderkey")).map(StatementKind.of),
      Seq("dedup", "dedup", "merge"))
    eq("staging insert", StatementKind.of(
      s"""INSERT INTO $stg ("o_orderkey","o_day") VALUES (?,?)"""), "stage_insert")
    eq("staging create", StatementKind.of(s"CREATE TABLE $stg (o_orderkey BIGINT)"), "other")
    eq("staging drop", StatementKind.of(s"DROP TABLE ${stg}_d"), "drop")
    eq("watermark", StatementKind.of(
      "SELECT * FROM (SELECT MAX(o_day) AS w FROM daily_orders) SPARK_GEN_SUBQ_7 WHERE 1=0"),
      "watermark")
    eq("target insert", StatementKind.of(
      """INSERT INTO daily_orders ("o_orderkey") VALUES (?)"""), "other")
    eq("normalize", StatementKind.normalize(
      s"MERGE INTO t USING ${stg}_d s ON 1=1 -- SPARK_GEN_SUBQ_12"),
      "MERGE INTO t USING daily_orders_stg_#_d s ON 1=1 -- SPARK_GEN_SUBQ_#")
    eq("registry order is the name hash", Main.registryOrder(Seq("b", "a", "c")),
      Seq("a", "b", "c").sortBy(n => (scala.util.hashing.MurmurHash3.stringHash(n), n)))

    val dir = java.nio.file.Files.createTempDirectory("selftest")
    val plan = Seq("load 1", "load 2", "restate 2", "load 3", "load 4", "restate 4")
    java.nio.file.Files.write(dir.resolve("plan.txt"), plan.mkString("\n").getBytes)
    eq("upsert passes keep a restatement with its load", Main.upsertPlan(dir.toString, 2),
      Seq(plan.take(3), plan.drop(3)))
    dir.toFile.listFiles.foreach(_.delete())
    dir.toFile.delete()
    println(s"selftest ok: $checks checks")
  }
}
