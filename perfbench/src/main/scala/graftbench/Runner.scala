package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}

import graft.sql.{GraftDatabase, Parser}

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, fixtures: String, work: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixtures"), need("work"), need("cores").toInt)
  }
}

/** One measured statement or operator call. */
final case class Op(stmt: Int, kind: String, ms: Double, ok: Boolean)

/** Warehouse accounting for one write: files new or changed (by size or
  * mtime) between the snapshots taken around it.
  */
object Warehouse {
  type Snapshot = Map[String, (Long, Long)]

  def snapshot(dir: Path): Snapshot = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
      val m = Files.getLastModifiedTime(p).toInstant
      dir.relativize(p).toString ->
        (Files.size(p), m.getEpochSecond * 1000000000L + m.getNano)
    }.toMap
    finally s.close()
  }

  def written(before: Snapshot, after: Snapshot): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.values.map(_._1).sum, changed.size.toLong)
  }

  def live(s: Snapshot): (Long, Long) = (s.values.map(_._1).sum, s.size.toLong)
}

/** Owns the session, the database under test and every measurement of one
  * run. Workloads drive it through [[read]], [[write]] and [[gate]].
  */
final class Runner(val o: Opts) {
  var spark: SparkSession = _
  var db: GraftDatabase = _
  var warehouse: Path = _
  var trace: Trace = Trace.Off
  var tracer: Option[Tracer] = None

  val ops = mutable.ArrayBuffer.empty[Op]
  val problems = mutable.ArrayBuffer.empty[String]
  val rowsOut = mutable.Map.empty[Int, Long]
  // warehouse accounting of each traced write
  val writeBytes = mutable.ArrayBuffer.empty[Long]
  val writeFiles = mutable.ArrayBuffer.empty[Long]
  val readsAfterWrite = mutable.Set.empty[Int]
  private var lastWasWrite = false
  private var stmtSeq = 0
  private var warehouseSeq = 0
  var heapPeak = 0L

  def fixture(name: String): String = s"${o.fixtures}/$name.parquet"

  def fail(msg: String): Unit = {
    problems += msg
    System.err.println(s"[graftbench] FAILED $msg")
  }

  /** Starts (or restarts) the session, opens a fresh warehouse and
    * registers the workload's fixture tables with the engine.
    */
  def setUp(tables: Seq[String]): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warehouseSeq += 1
    warehouse = Paths.get(o.work, "warehouse", warehouseSeq.toString)
    Files.createDirectories(warehouse)
    db = new GraftDatabase(spark, warehouse.toString)
    tables.foreach(t => db.registerParquet(t, fixture(t)))
  }

  /** Switches span recording and the listener on or off between units. */
  def tracing(on: Boolean): Unit = {
    if (on && tracer.isEmpty) tracer = Some(new Tracer(spark.sparkContext))
    tracer.foreach(t => if (on) t.attach() else if (trace.enabled) t.detach())
    trace = if (on) tracer.get else Trace.Off
  }

  private def nextStmt(): Int = { stmtSeq += 1; stmtSeq }

  private def record(stmt: Int, kind: String, t0: Long, ok: Boolean): Unit = {
    ops += Op(stmt, kind, (System.nanoTime() - t0) / 1e6, ok)
    if (trace.enabled) heapPeak = math.max(heapPeak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** A SELECT: from the call to the last row collected. */
  def read(sql: String): Option[Array[Row]] = {
    val id = nextStmt()
    if (trace.enabled) trace.span(id, "sql.Parser")(Parser.parse(sql))
    val t0 = System.nanoTime()
    val out = Try {
      val df = trace.span(id, "sql.GraftDatabase.build")(db.select(sql))
        .fold(e => throw new IllegalStateException(e.msg), identity)
      trace.span(id, "spark.catalyst.plan")(df.queryExecution.executedPlan)
      trace.span(id, "spark.exec")(df.collect())
    }
    record(id, "read", t0, out.isSuccess)
    if (trace.enabled && lastWasWrite) readsAfterWrite += id
    lastWasWrite = false
    out match {
      case Success(rows) => rowsOut(id) = rows.length; Some(rows)
      case Failure(e) => fail(s"read #$id: ${e.getMessage} :: $sql"); None
    }
  }

  /** A DDL or DML statement. Traced runs also diff the warehouse around it. */
  def write(sql: String): Boolean = {
    val id = nextStmt()
    if (trace.enabled) trace.span(id, "sql.Parser")(Parser.parse(sql))
    val before = if (trace.enabled) Warehouse.snapshot(warehouse) else null
    val t0 = System.nanoTime()
    val error = Try(trace.span(id, "sql.GraftDatabase.write")(db.query(sql))) match {
      case Success(Right(_)) => None
      case Success(Left(e)) => Some(e.msg)
      case Failure(e) => Some(e.getMessage)
    }
    record(id, "write", t0, error.isEmpty)
    lastWasWrite = true
    if (trace.enabled) {
      val (b, f) = Warehouse.written(before, Warehouse.snapshot(warehouse))
      writeBytes += b
      writeFiles += f
    }
    error.foreach(e => fail(s"write #$id: $e :: $sql"))
    error.isEmpty
  }

  /** One operator-gate call from `SparkEntry.queries`, collected. */
  def gate(name: String, phase: String, dir: String): Option[Array[Row]] = {
    val fn = graft.SparkEntry.queries(name)
    val id = nextStmt()
    val t0 = System.nanoTime()
    val out = Try(trace.span(id, s"queries.$phase")(fn(spark, dir).collect()))
    record(id, phase, t0, out.isSuccess)
    out match {
      case Success(rows) => Some(rows)
      case Failure(e) => fail(s"$name ($phase): ${e.getMessage}"); None
    }
  }

  /** Used heap in MB after a full collection. */
  def heapAfterGc(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Order-insensitive canonical hashing of result rows. Numbers are
  * rounded to two decimals and printed without type, so an engine that
  * returns a long where Spark returns a double still compares equal.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "∅"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => num(new java.math.BigDecimal(d))
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => num(b)
    case n: java.lang.Number => n.toString
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(b: java.math.BigDecimal): String =
    b.setScale(2, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString

  def row(r: Row): String = r.toSeq.map(value).mkString("\u0001")

  def rows(rs: Iterable[Row]): String = strings(rs.map(row))

  def strings(rs: Iterable[String]): String = sha256(rs.toSeq.sorted.mkString("\n"))

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}
