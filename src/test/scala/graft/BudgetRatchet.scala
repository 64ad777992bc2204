package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The golden-file ratchet the budget specs share: a committed TSV holds
  * one row per query, and a query missing from it, a row for a query that
  * no longer exists, or a row that differs from the measurement fails the
  * suite.
  *
  * Update workflow: when a plan change is INTENTIONAL, re-run the spec
  * with `SPARK_GRAFT_UPDATE_BUDGETS=1` to rewrite its golden files from
  * the measurements, then justify the diff in the commit message. The git
  * diff of the golden file IS the review surface.
  */
trait BudgetRatchet { this: AnyFunSuite =>
  import BudgetRatchet.UpdateSwitch

  /** Check `actual` (query, tab-separated fields) against the golden file
    * at `path`, rewriting the file first when the update switch is set.
    * `columns` names the fields for the file's header line; `what` names
    * the budget in the failure message.
    */
  def assertMatchesBudget(path: Path, what: String, columns: String,
      actual: Seq[(String, String)]): Unit = {
    if (sys.env.contains(UpdateSwitch)) {
      val header = s"# query\t$columns — regenerate with $UpdateSwitch=1 " +
        s"sbt 'testOnly ${getClass.getName}'"
      Files.createDirectories(path.getParent)
      Files.write(path, (header +: actual.map { case (n, row) => s"$n\t$row" }).asJava)
      info(s"rewrote $path with ${actual.size} entries")
    }
    assert(Files.exists(path), s"$path missing — run once with $UpdateSwitch=1 to seed it")
    val expected: Map[String, String] = Files.readAllLines(path).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l => val f = l.split("\t", 2); f(0) -> (if (f.length > 1) f(1) else "") }.toMap
    val names = actual.map(_._1)
    val missing = names.filterNot(expected.contains)
    val stale = expected.keys.toSeq.sorted.filterNot(names.contains)
    val drifted = actual.flatMap { case (n, row) =>
      expected.get(n).collect { case e if e != row => s"$n: '$e' -> '$row'" }
    }
    assert(missing.isEmpty && stale.isEmpty && drifted.isEmpty,
      s"""$what drift (intentional? regenerate the golden file and justify in the commit):
         |  unbudgeted queries: ${missing.mkString(", ")}
         |  stale budget rows:  ${stale.mkString(", ")}
         |  drifted rows (query\t$columns):
         |    ${drifted.mkString("\n    ")}""".stripMargin)
  }
}

object BudgetRatchet {
  /** Set (to anything) to rewrite the golden files instead of trusting them. */
  val UpdateSwitch = "SPARK_GRAFT_UPDATE_BUDGETS"

  /** (shuffle, broadcast) exchange counts in a physical-plan string. The
    * negative lookbehind keeps `BroadcastExchange` and `ReusedExchange`
    * out of the shuffle count.
    */
  def exchangeCounts(plan: String): (Int, Int) =
    ("(?<![A-Za-z])Exchange ".r.findAllIn(plan).size,
      "(?<![A-Za-z])BroadcastExchange".r.findAllIn(plan).size)
}
