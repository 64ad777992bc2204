package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import java.util.logging.Logger

import scala.jdk.CollectionConverters._

/** Statement kinds of the upsert protocol, from the statement text alone. */
object StatementKind {
  private val Staging = "_stg_[0-9a-f]{12}"
  private val StageInsert = s"(?is)^\\s*INSERT\\s+INTO\\s+\\S*$Staging\\s.*".r
  private val DedupCreate = s"(?is)^\\s*CREATE\\s+TABLE\\s+\\S*${Staging}_d\\s.*".r
  private val DedupInsert = s"(?is)^\\s*INSERT\\s+INTO\\s+\\S*${Staging}_d\\s.*".r

  /** One of stage_insert, dedup, merge, drop, watermark, other. */
  def of(sql: String): String = sql match {
    case DedupCreate() | DedupInsert() => "dedup"
    case StageInsert() => "stage_insert"
    case s if s.trim.toUpperCase.startsWith("MERGE ") => "merge"
    case s if s.trim.toUpperCase.startsWith("DROP TABLE ") => "drop"
    case s if s.toUpperCase.contains("SELECT MAX(") => "watermark"
    case _ => "other"
  }

  /** Statement text with the per-run parts (staging-table suffixes and
    * Spark's generated subquery aliases) replaced, so texts from two runs
    * can be compared.
    */
  def normalize(sql: String): String =
    sql.replaceAll(Staging, "_stg_#").replaceAll("SPARK_GEN_SUBQ_\\d+", "SPARK_GEN_SUBQ_#")
}

/** Counters of the JDBC boundary, shared by every connection the timing
  * driver hands out (the staging write runs on executor threads).
  */
object JdbcStats {
  val kinds = Seq("stage_insert", "dedup", "merge", "drop", "watermark", "other")
  private val seconds = kinds.map(_ -> new DoubleAdder).toMap
  val statements = new AtomicLong
  val stageRows = new AtomicLong
  val mergedRows = new AtomicLong
  val connections = new AtomicLong
  /** Normalized text of every statement since install; never reset. */
  val texts: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  def record(sql: String, nanos: Long, batchRows: Long, updated: Long): Unit = {
    val k = StatementKind.of(sql)
    seconds(k).add(nanos / 1e9)
    statements.incrementAndGet()
    if (k == "stage_insert") stageRows.addAndGet(batchRows)
    if (k == "merge") mergedRows.addAndGet(updated)
    texts.add(StatementKind.normalize(sql))
  }

  def reset(): Unit = {
    seconds.values.foreach(_.reset())
    Seq(statements, stageRows, mergedRows, connections).foreach(_.set(0))
  }

  def snapshot: Map[String, Double] = {
    val staged = stageRows.get.toDouble
    Map(
      "derby.stage_insert_s" -> seconds("stage_insert").sum,
      "derby.dedup_s" -> seconds("dedup").sum,
      "derby.merge_s" -> seconds("merge").sum,
      "derby.drop_s" -> seconds("drop").sum,
      "derby.watermark_s" -> seconds("watermark").sum,
      "derby.stage_rows" -> staged,
      "derby.statements" -> statements.get.toDouble,
      "derby.connections" -> connections.get.toDouble,
      "derby.merged_per_staged_row" -> (if (staged > 0) mergedRows.get / staged else 0.0))
  }
}

/** A `java.sql.Driver` at the JDBC boundary that delegates every call to
  * Derby's embedded driver and times each statement by kind. It accepts
  * the same `jdbc:derby:` URLs, so Spark resolves the same dialect, and it
  * forwards each statement's text object unchanged.
  */
final class TimingDriver extends java.sql.Driver {
  private def delegate = TimingDriver.delegate
  def connect(url: String, info: Properties): Connection = {
    val c = delegate.connect(url, info)
    if (c == null) null
    else {
      JdbcStats.connections.incrementAndGet()
      TimingDriver.proxy(classOf[Connection], c, new TimingDriver.ConnectionHandler(c))
    }
  }
  def acceptsURL(url: String): Boolean = delegate.acceptsURL(url)
  def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    delegate.getPropertyInfo(url, info)
  def getMajorVersion: Int = delegate.getMajorVersion
  def getMinorVersion: Int = delegate.getMinorVersion
  def jdbcCompliant(): Boolean = delegate.jdbcCompliant()
  def getParentLogger: Logger = delegate.getParentLogger
}

object TimingDriver {
  @volatile private var delegate: java.sql.Driver = _

  /** Put the timing driver in front of every registered driver that takes
    * `url`; returns the class name of the driver it wraps.
    */
  def install(url: String): String = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val taken = DriverManager.getDrivers.asScala.filter(_.acceptsURL(url)).toList
    require(taken.nonEmpty, s"no JDBC driver accepts $url")
    delegate = taken.head
    taken.foreach(DriverManager.deregisterDriver)
    DriverManager.registerDriver(new TimingDriver)
    delegate.getClass.getName
  }

  private def proxy[T](iface: Class[T], target: AnyRef, h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h).asInstanceOf[T]

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def updated(r: AnyRef): Long = r match {
    case i: java.lang.Integer => math.max(0, i.intValue).toLong
    case l: java.lang.Long => math.max(0L, l.longValue)
    case a: Array[Int] => a.count(_ != Statement.EXECUTE_FAILED).toLong
    case a: Array[Long] => a.count(_ != Statement.EXECUTE_FAILED).toLong
    case _ => 0L
  }

  private final class ConnectionHandler(c: Connection) extends InvocationHandler {
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val r = TimingDriver.invoke(c, m, args)
      m.getName match {
        case "createStatement" =>
          proxy(classOf[Statement], r, new StatementHandler(r.asInstanceOf[Statement], None))
        case "prepareStatement" =>
          proxy(classOf[PreparedStatement], r,
            new StatementHandler(r.asInstanceOf[Statement], Some(args(0).asInstanceOf[String])))
        case _ => r
      }
    }
  }

  /** Times execute* calls. A plain statement carries its text in the call;
    * a prepared one was given it at prepare time. Batched rows are counted
    * at addBatch and attributed when the batch executes.
    */
  private final class StatementHandler(s: Statement, prepared: Option[String])
      extends InvocationHandler {
    private var batchRows = 0L
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      if (name == "addBatch") batchRows += 1
      if (!name.startsWith("execute")) TimingDriver.invoke(s, m, args)
      else {
        val sql = prepared.orElse(Option(args).flatMap(_.headOption).collect {
          case t: String => t
        }).getOrElse("")
        val rows = if (name == "executeBatch") { val b = batchRows; batchRows = 0; b } else 1L
        val t0 = System.nanoTime()
        val r = TimingDriver.invoke(s, m, args)
        JdbcStats.record(sql, System.nanoTime() - t0, rows,
          if (name.startsWith("executeQuery")) 0L else updated(r))
        r
      }
    }
  }
}
