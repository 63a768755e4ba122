package perfbench

import scala.collection.mutable

import graft.pipeline.KeyedStore
import graft.sql.GraftSql
import org.apache.spark.sql.Row

/** `sql_mix`: one client, closed loop, a seeded statement list through
  * `GraftSql.execute`. Reads are SELECTs from a few templates with fresh
  * literals over `CREATE MAPPING`s of the parquet fixtures, plus SELECTs over
  * an IMap mapping; writes are `SINK INTO` that IMap with Zipf-skewed keys.
  * The same statement shapes repeat warm with new literals.
  */
object SqlMix {
  val Store = "kv"
  val KeySpace = 2000
  val Tables = Seq("lineitem", "orders", "customer", "part")

  /** SINK statements per run. Each sink into one IMap slows the next
    * (README.md): 8 keep a run within its time limit and a 4 GB heap.
    */
  val Sinks = 8

  sealed trait Stmt { def sql: String; def kind: String; def template: String }
  final case class Select(sql: String, template: String, check: Boolean) extends Stmt {
    def kind = "select"
  }
  final case class Sink(sql: String, rows: Seq[(Long, Long)], seq: Long) extends Stmt {
    def kind = "sink"
    def template = "sink"
  }

  /** Zipf(1.1) ranks over the key space, drawn by inverting the CDF. */
  final class Zipf(rng: scala.util.Random, n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Long = {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      math.min(i, n - 1).toLong
    }
  }

  /** The statement list: a pure function of the seed. */
  def statements(seed: Long, sinks: Int, checkEvery: Int): Seq[Stmt] = {
    val rng = new scala.util.Random(seed)
    val zipf = new Zipf(rng, KeySpace, 1.1)
    val day0 = java.time.LocalDate.of(1995, 1, 1)
    def ts(d: java.time.LocalDate) = s"TIMESTAMP '$d 00:00:00'"
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    var seq = 0L
    // a fixed skeleton in blocks of eight: six fixture SELECTs, one IMap
    // read (point and range in turn) and one SINK. Each template runs as
    // often in every seed and every IMap read sees the same number of sinks
    // before it (reads plan over the store's lineage, which grows with
    // each sink); the seed draws the fixture templates' order and every
    // literal and key.
    val blocks = sinks
    val fixture = rng.shuffle(Seq.tabulate(6 * blocks)(_ % 5))
    val kinds = (0 until blocks).flatMap { b =>
      fixture.slice(6 * b, 6 * b + 3).map(Some(_)) ++ Seq(Some(5 + b % 2)) ++
        fixture.slice(6 * b + 3, 6 * b + 6).map(Some(_)) ++ Seq(None)
    }
    var nSel = 0
    kinds.map {
      case Some(template) =>
        nSel += 1
        val check = nSel % checkEvery == 0
        template match {
          case 0 => Select(
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, " +
              "sum(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem " +
              s"WHERE l_shipdate <= ${ts(day0.plusDays(rng.nextInt(2500)))} " +
              "GROUP BY l_returnflag, l_linestatus", "pricing", check)
          case 1 => Select(
            "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders " +
              s"WHERE o_custkey = ${rng.nextInt(15000)} GROUP BY o_orderstatus", "cust_orders", check)
          case 2 =>
            val d = day0.plusDays(rng.nextInt(2400))
            Select(
              "SELECT c_mktsegment, count(*) AS n, avg(o_totalprice) AS avg_price " +
                "FROM customer JOIN orders ON c_custkey = o_custkey " +
                s"WHERE o_orderdate >= ${ts(d)} AND o_orderdate < ${ts(d.plusDays(30))} " +
                "GROUP BY c_mktsegment", "segment_join", check)
          case 3 =>
            val a = 1 + rng.nextInt(40)
            Select(
              "SELECT p_brand, count(*) AS n, avg(p_retailprice) AS avg_price FROM part " +
                s"WHERE p_size BETWEEN $a AND ${a + 10} AND p_type = '${types(rng.nextInt(6))}' " +
                "GROUP BY p_brand", "part_brand", check)
          case 4 =>
            val a = rng.nextInt(19800)
            Select(
              "SELECT l_linenumber, count(*) AS n, sum(l_quantity) AS qty FROM lineitem " +
                s"WHERE l_partkey BETWEEN $a AND ${a + 200} GROUP BY l_linenumber",
              "part_lines", check)
          case 5 => Select(s"SELECT __key, v, seq FROM $Store WHERE __key = ${zipf.next()}",
            "kv_point", check)
          case _ =>
            val a = rng.nextInt(KeySpace)
            Select(s"SELECT count(*) AS n, sum(v) AS total, max(seq) AS last_seq FROM $Store " +
              s"WHERE __key BETWEEN $a AND ${a + 50}", "kv_range", check)
        }
      case None =>
        seq += 1
        val keys = Iterator.continually(zipf.next()).distinct.take(4).toSeq
        val rows = keys.map(k => (k, rng.nextInt(1000000).toLong))
        val values = rows.map { case (k, v) => s"(${k}L, ${v}L, ${seq}L)" }.mkString(", ")
        Sink(s"SINK INTO $Store(__key) SELECT * FROM VALUES $values AS t(__key, v, seq)",
          rows, seq)
    }
  }

  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case n: java.lang.Number => n
    case other => other.toString
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val stmts = statements(ctx.seed, Sinks, checkEvery = 5)
    var sql: GraftSql = null
    r.values("setup_s") = Main.setUp(ctx, 3, _ => KeyedStore.drop(Store)) { spark =>
      sql = new GraftSql(spark)
      Tables.foreach { t =>
        sql.execute(s"CREATE OR REPLACE MAPPING $t EXTERNAL NAME '${ctx.data}/$t.parquet' TYPE parquet")
      }
      // the IMap must exist before its mapping: one sentinel entry, key -1
      sql.execute(s"SINK INTO $Store(__key) SELECT * FROM VALUES (-1L, 0L, 0L) AS t(__key, v, seq)")
      sql.execute(s"CREATE OR REPLACE MAPPING $Store TYPE IMap " +
        "OPTIONS ('keyFormat'='bigint', 'valueFormat'='json-flat')")
      // every SELECT shape once, so the timed statements run the shapes warm
      statements(-1, 2, checkEvery = Int.MaxValue).collect { case q: Select => q }
        .groupBy(_.template).values.map(_.head).foreach(q => sql.execute(q.sql).collect())
    }
    val spark = ctx.spark
    ctx.trace.foreach(_.install(spark))
    val root = ctx.clock.nextId()
    val wl0 = ctx.now
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    stmts.zipWithIndex.foreach { case (st, i) =>
      r.attempted += 1
      val t0 = ctx.now
      val n0 = System.nanoTime()
      try {
        val df = sql.execute(st.sql)
        val n1 = System.nanoTime()
        val rows = df.collect()
        val n2 = System.nanoTime()
        ctx.clock.record(root, "operation", s"${st.kind}-$i", t0, t0 + (n2 - n0) / 1e6)
        samples += Map("i" -> i, "kind" -> st.kind, "template" -> st.template,
          "execute_ms" -> (n1 - n0) / 1e6,
          "fetch_ms" -> (n2 - n1) / 1e6, "ms" -> (n2 - n0) / 1e6)
        st match {
          case s: Select if s.check =>
            checks += Map("i" -> i, "sql" -> s.sql, "template" -> s.template,
              "columns" -> df.columns.toSeq, "rows" -> rows.map(_.toSeq.map(cell)).toSeq)
          case _ =>
        }
      } catch { case e: Throwable =>
        r.fail(s"statement $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    }
    ctx.clock.record(0, "workload", "sql_mix", wl0, ctx.now, id = root)
    // outside the timed region: what the IMap holds at the end
    val finalRows = KeyedStore.get(spark, Store).select("__key", "v", "seq").collect()
      .map((x: Row) => Seq(x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    r.values("statements") = samples.toSeq
    r.values("checks") = checks.toSeq
    r.values("sinks") = stmts.zipWithIndex.collect { case (s: Sink, i) =>
      Map("i" -> i, "seq" -> s.seq, "rows" -> s.rows.map { case (k, v) => Seq(k, v) })
    }
    r.values("final_store") = finalRows
    ctx.trace.foreach { t =>
      t.uninstall(spark)
      r.layers ++= t.summary(ctx.clock.spans.filter(_.kind == "operation")
        .map(s => (s.start, s.end)).toSeq)
      r.layers("keyedstore.rows") = finalRows.size.toDouble
    }
  }
}
