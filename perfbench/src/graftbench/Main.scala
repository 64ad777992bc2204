package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.jdbc.JdbcDialects

import graft.SparkEntry
import graft.sources.{IncrementalPipeline, JdbcUpsert}

/** One benchmark JVM: set up, run one workload's timed passes, write a
  * JSON record of what it did. run.py turns records into metrics and checks
  * the outputs against DuckDB.
  *
  * usage: Main <workload> <dataDir> <workDir> <outFile> <cpus> <trace 0|1> <size> <passes>
  *
  * The timed part is `passes` passes of equal work, timed one by one. A
  * registry pass runs a fixed sample of the registry, `size` = "o,f,s,l"
  * queries of the operators, functions, streaming and llm modules; the
  * upsert passes cut the plan file written into `workDir` into `passes`
  * runs of consecutive days.
  */
object Main {
  type Rec = mutable.LinkedHashMap[String, Any]

  val DerbyUrl = "jdbc:derby:memory:graftbench;create=true"
  val Target = "daily_orders"
  val StagingTypes = "o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(16)"
  val TargetDdl =
    s"""CREATE TABLE $Target (o_orderkey BIGINT NOT NULL PRIMARY KEY, o_custkey BIGINT,
       |o_orderstatus VARCHAR(1), o_totalprice DOUBLE, o_orderpriority VARCHAR(16),
       |o_day BIGINT)""".stripMargin

  /** The fixed order of a registry pass: the name hash `graft.Bench` uses. */
  def registryOrder(names: Iterable[String]): Seq[String] =
    names.toSeq.sortBy(n => (MurmurHash3.stringHash(n), n))

  val Modules = Seq("operators", "functions", "streaming", "llm")

  def moduleOf(name: String): String =
    if (graft.llm.LlmOps.defs.exists(_.name == name)) "llm"
    else if (graft.functions.Scalars.defs.exists(_.name == name)) "functions"
    else if (graft.streaming.StreamShaped.defs.exists(_.name == name)) "streaming"
    else "operators"

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, outFile, cpus, traceArg, sizeArg, passesArg) = args
    val trace = traceArg == "1"
    val out = new Rec
    out("workload") = workload

    // Same statement cache in both modes: the run's statement texts are
    // read back from it for the dialect/statement identity check.
    System.setProperty("derby.language.statementCacheSize", "20000")
    System.setProperty("derby.stream.error.file", s"$workDir/derby.log")
    if (trace && workload == "upsert_daily") out("jdbc_driver") = TimingDriver.install(DerbyUrl)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(SparkTrace.install(spark)) else None
    out("setup_session_s") = sinceStart
    // The warm-up graft.Bench runs before its timed pass.
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries("scan_full")(spark, dataDir).count()
    out("setup_warmup_s") = sinceStart
    if (workload == "upsert_daily") seedTarget(spark, workDir)
    out("setup_s") = sinceStart

    val jit = ManagementFactory.getCompilationMXBean
    val work: Seq[() => Seq[Rec]] = workload match {
      case "registry" =>
        val names = registrySample(sizeArg.split(",").map(_.toInt).toSeq, out)
        Seq.fill(passesArg.toInt)(() => registryPass(spark, dataDir, names))
      case "upsert_daily" =>
        upsertPlan(workDir, passesArg.toInt).map(lines => () => upsertPass(spark, workDir, lines, tracer))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val passTimes, passCpu, passJit, passSteal = mutable.ArrayBuffer.empty[Double]
    tracer.foreach(_.reset(spark))
    JdbcStats.reset()
    out("ops") = work.zipWithIndex.flatMap { case (pass, i) =>
      val (t0, c0, j0, s0) = (System.nanoTime(), javaThreadsCpuS, jit.getTotalCompilationTime, cpuJiffies)
      val ops = pass()
      passTimes += (System.nanoTime() - t0) / 1e9
      passCpu += javaThreadsCpuS - c0
      passJit += (jit.getTotalCompilationTime - j0) / 1e3
      val s1 = cpuJiffies
      passSteal += (s1._1 - s0._1).toDouble / math.max(1L, s1._2 - s0._2)
      ops.foreach(_("pass") = i)
      ops
    }
    out("pass_times_s") = passTimes.toSeq
    out("pass_cpu_s") = passCpu.toSeq
    // What the JIT compilers took in each pass (most in the first ones),
    // and the share of the box's CPU time the hypervisor gave to other
    // guests while the pass ran.
    out("pass_jit_s") = passJit.toSeq
    out("pass_steal") = passSteal.toSeq
    tracer.foreach(t => out("layers") = t.snapshot(spark) ++
      (if (workload == "upsert_daily") JdbcStats.snapshot else Map.empty))
    if (workload == "upsert_daily") checkTarget(workDir, out)
    out("peak_rss_mb") = peakRssMb
    out("xmx_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out)
    Files.write(Paths.get(outFile), json.getBytes(StandardCharsets.UTF_8))
  }

  /** The registry sample: the first `counts(i)` queries of module
    * `Modules(i)` in the registry order, the sample run in that order.
    */
  private def registrySample(counts: Seq[Int], out: Rec): Seq[String] = {
    val byModule = registryOrder(SparkEntry.queries.keys).groupBy(moduleOf)
    val names = registryOrder(Modules.zip(counts).flatMap { case (m, n) =>
      byModule.getOrElse(m, Nil).take(n)
    })
    out("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    names
  }

  private def registryPass(spark: SparkSession, dataDir: String, names: Seq[String]): Seq[Rec] = {
    val queries = SparkEntry.queries
    names.map { name =>
      val op = new Rec
      op("name") = name
      op("module") = moduleOf(name)
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = queries(name)(spark, dataDir)
        t1 = System.nanoTime()
        op("rows") = df.count()
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          op("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
      op("build_s") = (t1 - t0) / 1e9
      op("exec_s") = (System.nanoTime() - t1) / 1e9
      op
    }
  }

  /** Set-up of upsert_daily: boot Derby, create the target and load the
    * history that precedes the timed days.
    */
  private def seedTarget(spark: SparkSession, workDir: String): Unit = {
    JdbcUpsert.ensureTable(DerbyUrl, TargetDdl)
    spark.read.parquet(s"$workDir/history.parquet").write.mode("append")
      .option("createTableColumnTypes", StagingTypes)
      .jdbc(DerbyUrl, Target, new java.util.Properties)
  }

  /** The plan file of upsert_daily lists, in order, daily slices to load
    * through IncrementalPipeline.run and restatements to apply through
    * upsertViaStagingRetry. It is cut into `passes` passes with the same
    * number of loads each; a restatement stays in the pass of the load
    * before it.
    */
  def upsertPlan(workDir: String, passes: Int): Seq[Seq[String]] = {
    val lines = Files.readAllLines(Paths.get(workDir, "plan.txt")).asScala.filter(_.nonEmpty).toSeq
    val perPass = math.max(1, lines.count(_.startsWith("load ")) / passes)
    var loads = 0
    lines.map { l =>
      if (l.startsWith("load ")) loads += 1
      ((loads - 1) / perPass, l)
    }.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
  }

  /** One timed pass of upsert_daily: its plan lines, in order. */
  private def upsertPass(spark: SparkSession, workDir: String, lines: Seq[String],
      tracer: Option[SparkTrace]): Seq[Rec] = {
    val source = Paths.get(workDir, "source")
    Files.createDirectories(source)
    lines.map { line =>
      val Array(kind, file) = line.split(" ")
      val op = new Rec
      op("name") = s"$kind:$file"
      op("module") = "sources"
      op("kind") = kind
      if (kind == "load")
        Files.move(Paths.get(workDir, "slices", file), source.resolve(file),
          StandardCopyOption.ATOMIC_MOVE)
      val t0 = System.nanoTime()
      tracer.foreach(_.inSources = true)
      try {
        if (kind == "load") {
          op("rows") = IncrementalPipeline.run(spark, source.toString, DerbyUrl, Target,
            Seq("o_orderkey"), "o_day", stagingColumnTypes = Some(StagingTypes)).deltaRows
        } else {
          val df = spark.read.parquet(Paths.get(workDir, "restate", file).toString)
          op("retries") = JdbcUpsert.upsertViaStagingRetry(df, DerbyUrl, Target,
            Seq("o_orderkey"), stagingColumnTypes = Some(StagingTypes))
        }
      } catch {
        case e: Throwable =>
          op("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      } finally tracer.foreach(_.inSources = false)
      op("build_s") = 0.0
      op("exec_s") = (System.nanoTime() - t0) / 1e9
      op
    }
  }

  /** After the pass: dump the target for the DuckDB comparison, count
    * leftover staging tables, and record the dialect Spark resolved and the
    * statement texts Derby compiled.
    */
  private def checkTarget(workDir: String, out: Rec): Unit = {
    out("dialect") = JdbcDialects.get(DerbyUrl).getClass.getName
    def own(texts: Iterable[String]) =
      texts.filterNot(t => t.contains("SYSCS_DIAG") || t.contains("SYS.SYSTABLES")).toSet
    val shim = own(JdbcStats.texts.asScala)
    val c = DriverManager.getConnection(DerbyUrl)
    try {
      def strings(sql: String): Seq[String] = {
        val rs = c.createStatement().executeQuery(sql)
        val b = mutable.ArrayBuffer.empty[String]
        while (rs.next()) b += rs.getString(1)
        b.toSeq
      }
      out("leftover_staging") = strings(
        "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T' " +
          "AND UPPER(TABLENAME) LIKE '%\\_STG\\_%' ESCAPE '\\'").size
      val cached = own(strings("SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE")
        .map(StatementKind.normalize))
      out("statement_digest") = java.security.MessageDigest.getInstance("SHA-256")
        .digest(cached.toSeq.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      if (shim.nonEmpty) out("statement_text_match") = shim == cached
      val rs = c.createStatement().executeQuery(
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, o_day " +
          s"FROM $Target ORDER BY o_orderkey")
      val sb = new StringBuilder("o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderpriority,o_day\n")
      while (rs.next()) {
        sb.append(rs.getLong(1)).append(',').append(rs.getLong(2)).append(',')
          .append(rs.getString(3)).append(',').append(java.lang.Double.toString(rs.getDouble(4)))
          .append(',').append(rs.getString(5)).append(',').append(rs.getLong(6)).append('\n')
      }
      Files.write(Paths.get(workDir, "target.csv"), sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally c.close()
  }

  /** CPU seconds of the JVM's Java threads: the client thread, Spark's task
    * threads and Spark's own, not the JIT compilers or the collector. */
  def javaThreadsCpuS: Double = {
    val threads = ManagementFactory.getThreadMXBean
    threads.getAllThreadIds.map(threads.getThreadCpuTime).filter(_ > 0).sum / 1e9
  }

  /** (steal, total) jiffies of all CPUs since boot, from /proc/stat. */
  def cpuJiffies: (Long, Long) = {
    val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (v(7), v.take(8).sum)
  }

  /** The JVM's resident-set high-water mark. In local mode the driver and
    * the executors share this one process.
    */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
