package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val dirCounter = new AtomicInteger(0)

  /** `dir` as a path-equivalent string (`dir/./.…`) that no earlier call
    * returned, so the Tables and tokenPairs plan caches — both keyed on
    * the dir string — miss and the query is built from scratch.
    */
  def freshDir(dir: String): String = dir + ("/." * dirCounter.incrementAndGet())

  /** Optimized logical plans of everything Spark optimizes while `body`
    * runs. That includes subtrees a query materializes while it is built
    * (`Dedup.materialize`) or rebuilds from `df.rdd`, which its own plan
    * shows only as an opaque LogicalRDD.
    */
  def plansOptimizedDuring(spark: SparkSession)(body: => Any): Seq[LogicalPlan] = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]
    spark.experimental.extraOptimizations = Seq(new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = { plans.add(plan); plan }
    })
    try body finally spark.experimental.extraOptimizations = Nil
    plans.asScala.toSeq
  }
}
