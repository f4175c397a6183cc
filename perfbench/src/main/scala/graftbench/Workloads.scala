package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row

/** A closed-loop workload: one client thread issues the next operation as
  * soon as the previous one returns.
  */
trait Workload {
  /** Fixture tables registered with the engine at set-up. */
  def tables: Seq[String]
  /** Units run at set-up to prime statistics, caches and the JIT. */
  def warmUnits: Int
  /** Seconds one unit takes on the reference machine (4 cores). A run of
    * `--seconds s` measures round(s / unitSeconds) units, at least one, so
    * every run does the same work whatever the machine's speed that day.
    */
  def unitSeconds: Double
  /** One unit of work: a round of templates, an epoch or a pass. Warm-up
    * units draw from a stream of their own, not from the measured one.
    */
  def unit(r: Runner, warm: Boolean): Unit
  /** Output checks that need work outside the timed region. */
  def verify(r: Runner): Unit
  /** Digest of the first operations the seed generates. */
  def streamDigest: String
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "dialect_joins" => new DialectWorkload(seed, Templates.joins,
      Seq("region", "nation", "customer", "supplier", "orders"), warmUnits = 1, unitSeconds = 4.5)
    case "dialect_scans" => new DialectWorkload(seed, Templates.scans,
      Seq("orders", "lineitem"), warmUnits = 6, unitSeconds = 1.6)
    case "dml_mixed" => new DmlWorkload(seed)
    case "corpus_pipeline" => new CorpusWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Literal domains of the fixture tables (see perfbench/fixtures.py). */
object Domain {
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
    "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val Flags = Seq("A", "N", "R")
}

/** Statement templates. Each draws fresh literals from the fixture domains
  * and returns rows for nearly every draw.
  */
object Templates {
  import Domain._
  type Template = Random => String

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))
  private def between(r: Random, lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)

  /** Selective 2–5-table comma joins and a join GROUP BY: planning-heavy. */
  val joins: Seq[Template] = Seq(
    r => "SELECT c_custkey, c_name, n_name FROM customer c, nation n " +
      s"WHERE c.c_nationkey = n.n_nationkey AND n.n_name = '${pick(r, Nations)}' " +
      s"AND c.c_acctbal > ${between(r, 7000, 9500)}",
    r => "SELECT c_name, c_mktsegment, n_name FROM customer c, nation n, region r " +
      "WHERE c.c_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey " +
      s"AND r.r_name = '${pick(r, Regions)}' AND c.c_mktsegment = '${pick(r, Segments)}' " +
      s"AND c.c_acctbal > ${between(r, 9000, 9800)}",
    r => "SELECT o_orderkey, o_totalprice, c_name FROM orders o, customer c " +
      s"WHERE o.o_custkey = c.c_custkey AND c.c_mktsegment = '${pick(r, Segments)}' " +
      s"AND o.o_totalprice > ${between(r, 490000, 498000)}",
    r => "SELECT o_orderkey, c_name, n_name FROM orders o, customer c, nation n, region r " +
      "WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey " +
      s"AND n.n_regionkey = r.r_regionkey AND r.r_name = '${pick(r, Regions)}' " +
      s"AND o.o_orderpriority = '${pick(r, Priorities)}' " +
      s"AND o.o_totalprice > ${between(r, 470000, 490000)}",
    r => "SELECT o_orderkey, c_name, s_name, n_name FROM orders o, customer c, supplier s, nation n, region r " +
      "WHERE o.o_custkey = c.c_custkey AND c.c_nationkey = n.n_nationkey " +
      "AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey " +
      s"AND r.r_name = '${pick(r, Regions)}' AND o.o_totalprice > ${between(r, 494000, 498000)} " +
      s"AND s.s_acctbal > ${between(r, 9000, 9700)}",
    r => "SELECT n_name, count(*), max(c_acctbal) FROM customer c, nation n, region r " +
      "WHERE c.c_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey " +
      s"AND r.r_name = '${pick(r, Regions)}' AND c.c_acctbal > ${between(r, 5000, 9000)} " +
      "GROUP BY n_name")

  /** Single-table filter, aggregate, HAVING, DISTINCT and top-k: execution-heavy. */
  val scans: Seq[Template] = Seq(
    r => "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
      s"WHERE o_orderstatus = '${pick(r, Statuses)}' AND o_orderpriority = '${pick(r, Priorities)}' " +
      s"AND o_totalprice > ${between(r, 450000, 495000)}",
    r => "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), max(l_extendedprice) " +
      s"FROM lineitem WHERE l_discount = 0.0${between(r, 1, 9)} " +
      s"AND l_tax <= 0.0${between(r, 2, 8)} GROUP BY l_returnflag, l_linestatus",
    r => {
      val q = between(r, 2, 6)
      "SELECT l_suppkey, count(*), sum(l_quantity) FROM lineitem " +
        s"WHERE l_quantity <= $q GROUP BY l_suppkey HAVING count(*) > ${12 * q}"
    },
    r => "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders " +
      s"WHERE o_totalprice > ${between(r, 300000, 480000)}",
    r => "SELECT o_orderkey, o_totalprice FROM orders " +
      s"WHERE o_orderpriority = '${pick(r, Priorities)}' AND o_orderstatus = '${pick(r, Statuses)}' " +
      s"ORDER BY o_totalprice DESC, o_orderkey LIMIT ${between(r, 10, 50)}",
    r => "SELECT l_linenumber, count(*), min(l_extendedprice), max(l_quantity) FROM lineitem " +
      s"WHERE l_returnflag = '${pick(r, Flags)}' AND l_quantity > ${between(r, 10, 40)} " +
      "GROUP BY l_linenumber")

  /** Rounds of one statement per template, so every run has the same mix. */
  def rounds(seed: Long, ts: Seq[Template]): Iterator[Seq[String]] = {
    val r = new Random(seed)
    Iterator.continually(ts.map(_(r)))
  }
}

/** `dialect_joins` and `dialect_scans`: SELECTs through the dialect, each
  * checked afterwards against Spark SQL running the same text over the raw
  * parquet files.
  */
final class DialectWorkload(seed: Long, templates: Seq[Templates.Template],
    val tables: Seq[String], val warmUnits: Int, val unitSeconds: Double) extends Workload {
  private val rounds = Templates.rounds(seed, templates)
  private val warmRounds = Templates.rounds(~seed, templates)
  private val done = mutable.ArrayBuffer.empty[(String, Int, String)]

  def unit(r: Runner, warm: Boolean): Unit =
    if (warm) warmRounds.next().foreach(r.read)
    else for (sql <- rounds.next())
      r.read(sql).foreach(rows => done += ((sql, rows.length, Canon.rows(rows))))

  def verify(r: Runner): Unit = {
    tables.foreach(t => r.spark.read.parquet(r.fixture(t)).createOrReplaceTempView(t))
    for ((sql, n, h) <- done) {
      val want = r.spark.sql(sql).collect()
      if (want.length != n || Canon.rows(want) != h)
        r.fail(s"result differs from Spark SQL ($n vs ${want.length} rows) :: $sql")
    }
  }

  def streamDigest: String =
    Canon.sha256(Templates.rounds(seed, templates).take(200).flatten.mkString("\n"))
}

object DmlWorkload {
  final case class Item(id: Long, grp: Int, qty: Int, tag: String)

  /** Shadow model of the two tables an epoch writes. */
  final class Model {
    val items = mutable.ArrayBuffer.empty[Item]
    val arch = mutable.ArrayBuffer.empty[Item]
    def userBytes: Long = (items ++ arch).map(i => 16L + i.tag.getBytes("UTF-8").length).sum
  }

  /** One slot of the epoch script: a write with its effect on the model,
    * or a read whose literals are drawn fresh each epoch.
    */
  sealed trait Slot
  final case class Write(sql: String, apply: Model => Unit) extends Slot
  final case class Read(kind: Int) extends Slot

  /** Warehouse accounting of one traced epoch. */
  final case class Epoch(bytesWritten: Long, filesWritten: Long, userBytes: Long,
      bytesLive: Long, filesLive: Long)

  val Tags = Seq("red", "green", "blue", "amber", "violet", "ultramarine")
  val Schema = "(id BIGINT, grp INT, qty INT, tag VARCHAR(16))"
}

/** `dml_mixed`: writes beside reads on tables the run creates. Each epoch
  * creates two tables, runs the run's seeded write script interleaved with
  * freshly drawn reads (including a join against the `nation` fixture),
  * then drops them. A shadow model of both tables gives every read's
  * expected rows. Every epoch writes the same rows, so its warehouse
  * accounting must repeat exactly.
  */
final class DmlWorkload(seed: Long) extends Workload {
  import DmlWorkload._

  private var nations: Map[Int, String] = Map.empty
  private var epoch = 0
  val epochs = mutable.ArrayBuffer.empty[Epoch]

  def tables: Seq[String] = Seq("nation")
  def warmUnits = 1
  def unitSeconds = 4.0

  private def values(rows: Seq[Item]): String =
    rows.map(i => s"(${i.id}, ${i.grp}, ${i.qty}, '${i.tag}')").mkString(", ")

  private val script: Seq[Slot] = {
    val rnd = new Random(seed)
    var nextId = 0L
    def batch(): Write = {
      val rows = (0 until 40).map { _ =>
        nextId += 1
        Item(nextId, rnd.nextInt(25), 1 + rnd.nextInt(100), Tags(rnd.nextInt(Tags.length)))
      }
      Write(s"INSERT INTO bm_items VALUES ${values(rows)}", _.items ++= rows)
    }
    val (k, g) = (1 + rnd.nextInt(9), rnd.nextInt(25))
    val update = Write(s"UPDATE bm_items SET qty = qty + $k WHERE grp = $g",
      m => m.items.mapInPlace(i => if (i.grp == g) i.copy(qty = i.qty + k) else i))
    val (dg, dq) = (rnd.nextInt(25), 20 + rnd.nextInt(60))
    val delete = Write(s"DELETE FROM bm_items WHERE grp = $dg AND qty < $dq",
      m => m.items.filterInPlace(i => !(i.grp == dg && i.qty < dq)))
    val aq = 40 + rnd.nextInt(40)
    val archive = Write(s"INSERT INTO bm_arch SELECT id, grp, qty, tag FROM bm_items WHERE qty > $aq",
      m => m.arch ++= m.items.filter(_.qty > aq))
    Seq(
      Write(s"CREATE TABLE bm_items $Schema", _ => ()),
      Write(s"CREATE TABLE bm_arch $Schema", _ => ()),
      batch(), Read(0), Read(1), batch(), Read(2), Read(3),
      update, Read(0), Read(1), delete, Read(2), Read(3),
      archive, Read(4), Read(0))
  }

  /** A read for the current model state and its expected rows. */
  private def draw(kind: Int, m: Model, rnd: Random): (String, Seq[Seq[Any]]) = kind match {
    case 0 =>
      val id = if (m.items.isEmpty) 1L else m.items(rnd.nextInt(m.items.length)).id
      (s"SELECT id, grp, qty, tag FROM bm_items WHERE id = $id",
        m.items.filter(_.id == id).map(i => Seq(i.id, i.grp, i.qty, i.tag)).toSeq)
    case 1 =>
      val lo = 1 + rnd.nextInt(80)
      (s"SELECT id, qty FROM bm_items WHERE qty >= $lo AND qty < ${lo + 25}",
        m.items.filter(i => i.qty >= lo && i.qty < lo + 25).map(i => Seq(i.id, i.qty)).toSeq)
    case 2 =>
      val q = 30 + rnd.nextInt(50)
      (s"SELECT i.id, n.n_name FROM bm_items i, nation n WHERE i.grp = n.n_nationkey AND i.qty > $q",
        m.items.filter(_.qty > q).map(i => Seq(i.id, nations.getOrElse(i.grp, ""))).toSeq)
    case 3 =>
      val q = rnd.nextInt(50)
      (s"SELECT grp, count(*), sum(qty) FROM bm_items WHERE qty > $q GROUP BY grp",
        m.items.filter(_.qty > q).groupBy(_.grp).map { case (g, is) =>
          Seq(g, is.length, is.map(_.qty.toLong).sum) }.toSeq)
    case _ =>
      val t = Tags(rnd.nextInt(Tags.length))
      (s"SELECT tag, count(*), max(qty) FROM bm_arch WHERE tag <> '$t' GROUP BY tag",
        m.arch.filter(_.tag != t).groupBy(_.tag).map { case (g, is) =>
          Seq(g, is.length, is.map(_.qty).max) }.toSeq)
  }

  private def runEpoch(r: Runner, rnd: Random): Unit = {
    val m = new Model
    val traced = r.trace.enabled
    val (b0, f0) = (r.writeBytes.sum, r.writeFiles.sum)
    script.foreach {
      case Write(sql, apply) => if (r.write(sql)) apply(m)
      case Read(kind) =>
        val (sql, want) = draw(kind, m, rnd)
        r.read(sql).foreach { rows =>
          if (Canon.rows(rows) != Canon.strings(want.map(_.map(Canon.value).mkString("\u0001"))))
            r.fail(s"result differs from the shadow model (${rows.length} vs ${want.length} rows) :: $sql")
        }
    }
    if (traced) {
      val (live, files) = Warehouse.live(Warehouse.snapshot(r.warehouse))
      epochs += Epoch(r.writeBytes.sum - b0, r.writeFiles.sum - f0, m.userBytes, live, files)
    }
    r.write("DROP TABLE bm_items")
    r.write("DROP TABLE bm_arch")
  }

  def unit(r: Runner, warm: Boolean): Unit = {
    if (nations.isEmpty) nations = r.spark.read.parquet(r.fixture("nation")).collect()
      .map(row => row.getInt(0) -> row.getString(1)).toMap
    epoch += 1
    runEpoch(r, new Random(if (warm) ~seed - epoch else seed * 31 + epoch))
  }

  def verify(r: Runner): Unit =
    if (epochs.distinct.length > 1)
      r.fail(s"warehouse accounting differs between epochs: ${epochs.distinct.mkString("; ")}")

  def streamDigest: String = {
    val m = new Model
    val rnd = new Random(seed * 31 + 1)
    Canon.sha256(script.map {
      case Write(sql, apply) => apply(m); sql
      case Read(kind) => draw(kind, m, rnd)._1
    }.mkString("\n"))
  }
}

/** `corpus_pipeline`: data-prep passes through the dedup, embed and text
  * operator gates. Each pass releases the family caches and calls every
  * gate once (cold: the first gate of a family pays the family's shared
  * build), then calls each family's first gate again (warm), so the build
  * shows as the cold-warm difference. Every gate's result must hash the
  * same in every call.
  */
final class CorpusWorkload(seed: Long) extends Workload {
  val Families: Seq[Seq[String]] = Seq(
    Seq("q_dedup_minhash", "q_dedup_exact"),
    Seq("q_embed_topk", "q_embed_quantize"),
    Seq("q_text_stats", "q_chunk_overlap"))
  val Docs = 5000L

  private val expected = mutable.Map.empty[String, String]
  private var passes = 0
  // per traced pass: wall ms, and the summed cold and warm ms of each family's first gate
  val traced = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  def tables: Seq[String] = Nil
  def warmUnits = 1
  def unitSeconds = 9.0

  private def order(pass: Int): Seq[Seq[String]] = new Random(seed * 31 + pass).shuffle(Families)

  private def run(r: Runner, dir: String, gate: String, phase: String): Double = {
    val at = r.ops.length
    r.gate(gate, phase, dir).foreach { rows =>
      val h = Canon.rows(rows)
      if (expected.getOrElseUpdate(s"$dir/$gate", h) != h)
        r.fail(s"$gate result changed between calls")
    }
    r.ops(at).ms
  }

  private def pass(r: Runner, dir: String, families: Seq[Seq[String]]): Unit = {
    graft.queries.Dedup.releaseShingles(r.spark)
    graft.queries.Vectors.releaseCaches(r.spark)
    val t0 = System.nanoTime()
    val cold = families.map(_.map(run(r, dir, _, "cold")).head)
    val warm = families.map(f => run(r, dir, f.head, "warm"))
    passes += 1
    if (r.trace.enabled) traced += (((System.nanoTime() - t0) / 1e6, cold.sum, warm.sum))
  }

  /** Warm-up passes run over the small corpus: the same plans, a tenth of the rows. */
  def unit(r: Runner, warm: Boolean): Unit =
    if (warm) pass(r, s"${r.o.fixtures}/warm", Families)
    else pass(r, r.o.fixtures, order(passes))

  def verify(r: Runner): Unit = ()

  def streamDigest: String =
    Canon.sha256((0 until 100).map(p => order(p).flatten.mkString(",")).mkString("\n"))
}
