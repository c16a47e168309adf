package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.api.{Table, ViewDef, ViewFilter, ViewRegistry}

/** `interactive`: a seeded stream of sea-serpent-surface requests through
  * graft.api plus a few fixed core SparkEntry queries. Each templated
  * request draws fresh constants, so Spark sees new literals, and emits
  * the DuckDB SQL of the same parameters for the check. A share of the
  * requests repeats an earlier (template, parameters) pair. */
final class Interactive(c: Ctx) extends Workload {
  import c._

  private val nOrd = rows("orders")
  private val nCust = rows("customer")
  private val nPart = rows("part")
  private val views = s"$work/views"

  private def tbl(t: Tracer, name: String) = Table(load(t, name), name)
  private def str(s: String) = "'" + s.replace("'", "''") + "'"
  private def dbl(x: Double) = s"CAST($x AS DOUBLE)"
  private def money(lo: Double, hi: Double) =
    math.rint((lo + rng.nextDouble() * (hi - lo)) * 100) / 100
  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
  private def int(lo: Int, hi: Int) = lo + rng.nextInt(hi - lo + 1)

  private def api(kind: String, params: String, sql: String, in: Long)(
      body: Tracer => Result) = Op(kind, s"$kind($params)", "api", sql, in, body)

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val words = Seq("blue", "old", "red", "small", "widget", "gear", "bolt", "rod")
  private val statuses = Seq("F", "O", "P")

  private val linked = Seq(
    ("lookup", "o_orderkey",
      "coalesce(array_to_string(list_sort(list(CAST(o_orderkey AS VARCHAR)) FILTER (o_orderkey IS NOT NULL)), ','), '')"),
    ("count_links", "o_orderkey", "COUNT(o_orderkey)"),
    ("rollup-avg", "o_totalprice",
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(o_totalprice)"),
    ("rollup-sum", "o_totalprice", "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)"),
    ("rollup-conc", "o_orderstatus",
      "coalesce(array_to_string(list_sort(list(o_orderstatus) FILTER (o_orderstatus IS NOT NULL)), ','), '')"),
    ("findmax", "o_totalprice", "MAX(o_totalprice)"),
    ("findmin", "o_totalprice", "MIN(o_totalprice)"))

  private val templates: Seq[() => Op] = Seq(
    () => {
      val x = money(460000, 495000)
      api("filter_cmp", s"$x",
        s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > ${dbl(x)}", nOrd) { t =>
        val o = tbl(t, "orders")
        exec(t, "api", o.loc(o("o_totalprice") > x, Seq("o_orderkey", "o_totalprice")).df)
      }
    },
    () => {
      val keys = Seq.fill(int(4, 10))(rng.nextInt(nPart.toInt).toLong).distinct.sorted
      api("filter_isin", keys.mkString(","),
        s"SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_partkey IN (${keys.mkString(",")})",
        rows("lineitem")) { t =>
        val l = tbl(t, "lineitem")
        exec(t, "api", l.loc(l("l_partkey").isin(keys: _*),
          Seq("l_orderkey", "l_partkey", "l_quantity")).df)
      }
    },
    () => {
      val (w, s) = (pick(words), int(3, 20))
      api("filter_contains", s"$w,$s",
        s"SELECT p_partkey, p_name FROM part WHERE strpos(p_name, ${str(w)}) > 0 AND p_size <= $s",
        nPart) { t =>
        val p = tbl(t, "part")
        exec(t, "api", p.loc(p("p_name").contains(w) && p("p_size") <= s,
          Seq("p_partkey", "p_name")).df)
      }
    },
    () => {
      val prefix = f"Customer#00000${rng.nextInt(math.max(nCust.toInt / 100, 1))}%02d"
      api("filter_startswith", prefix,
        s"SELECT c_custkey, c_name FROM customer WHERE starts_with(c_name, ${str(prefix)})", nCust) { t =>
        val cu = tbl(t, "customer")
        exec(t, "api", cu.loc(cu("c_name").startswith(prefix), Seq("c_custkey", "c_name")).df)
      }
    },
    () => {
      val (lang, n) = (pick(Seq("en", "de", "fr", "es", "zh")), int(100, 500))
      api("filter_null", s"$lang,$n",
        s"SELECT doc_id, n_chars FROM documents WHERE NOT (text IS NULL OR text = '') " +
          s"AND lang = ${str(lang)} AND n_chars > $n", rows("documents")) { t =>
        val d = tbl(t, "documents")
        exec(t, "api", d.loc(d("text").notnull() && d("lang") === lang && d("n_chars") > n,
          Seq("doc_id", "n_chars")).df)
      }
    },
    () => {
      val (s, x, p, y) = (pick(statuses), money(400000, 490000), int(1, 5).toString,
        money(450000, 495000))
      api("filter_combo", s"$s,$x,$p,$y",
        "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority FROM orders WHERE " +
          s"(o_orderstatus = ${str(s)} AND o_totalprice > ${dbl(x)}) OR " +
          s"(starts_with(o_orderpriority, ${str(p)}) AND o_totalprice > ${dbl(y)})", nOrd) { t =>
        val o = tbl(t, "orders")
        exec(t, "api", o.loc((o("o_orderstatus") === s && o("o_totalprice") > x) ||
            (o("o_orderpriority").startswith(p) && o("o_totalprice") > y),
          Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")).df)
      }
    },
    () => {
      val (d, n) = (rng.nextInt(11) / 100.0, int(5, 25))
      api("head", s"$d,$n",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem " +
          s"WHERE l_discount = ${dbl(d)} ORDER BY l_extendedprice DESC, l_orderkey, " +
          s"l_linenumber, l_quantity LIMIT $n", rows("lineitem")) { t =>
        val l = tbl(t, "lineitem")
        exec(t, "api", l.loc(l("l_discount") === d,
            Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
          .head(n, col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")))
      }
    },
    () => {
      val (s, m) = (rng.nextInt(math.max(nOrd.toInt - 200, 1)), int(20, 100))
      api("iloc", s"$s,$m",
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT $m OFFSET $s",
        nOrd) { t =>
        exec(t, "api", tbl(t, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
          .iloc(s, s + m, col("o_orderkey")))
      }
    },
    () => {
      val (st, k) = (pick(statuses), int(10, 100))
      api("iloc_neg", s"$st,$k",
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = ${str(st)} " +
          s"ORDER BY o_orderkey DESC LIMIT $k", nOrd) { t =>
        val o = tbl(t, "orders")
        exec(t, "api", o.loc(o("o_orderstatus") === st, Seq("o_orderkey", "o_custkey", "o_totalprice"))
          .ilocSlice(Some(-k.toLong), None, 1, col("o_orderkey")))
      }
    },
    () => {
      val keys = Seq.fill(6)(rng.nextInt(nOrd.toInt).toLong).distinct.sorted
      api("row_lookup", keys.mkString(","),
        s"SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey IN (${keys.mkString(",")})",
        nOrd) { t =>
        val o = tbl(t, "orders")
        exec(t, "api", o.loc(o("o_orderkey").isin(keys: _*),
          Seq("o_orderkey", "o_custkey", "o_orderstatus")).df)
      }
    },
    () => {
      val (table, column, by, x) = pick(Seq(
        ("lineitem", "l_returnflag", "l_extendedprice", money(1000, 100000)),
        ("part", "p_brand", "p_retailprice", money(900, 999)),
        ("orders", "o_orderpriority", "o_totalprice", money(1000, 490000)),
        ("customer", "c_nationkey", "c_acctbal", money(0, 9900))))
      api("unique", s"$table.$column,$by,$x",
        s"SELECT DISTINCT $column FROM $table WHERE $by > ${dbl(x)}", rows(table)) { t =>
        val tb = tbl(t, table)
        exec(t, "api", tb.loc(tb(by) > x).unique(column))
      }
    },
    () => {
      val (column, x) = (pick(Seq("event_type", "user_id")), money(0, 200))
      api("value_counts", s"$column,$x",
        s"SELECT $column, count(*) AS count FROM events WHERE value > ${dbl(x)} GROUP BY $column",
        rows("events")) { t =>
        val e = tbl(t, "events")
        exec(t, "api", e.loc(e("value") > x).valueCounts(column))
      }
    },
    () => {
      val k = int(50, 400)
      api("astype", s"$k",
        "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, " +
          s"CAST(l_quantity AS INTEGER) AS l_quantity FROM lineitem WHERE l_orderkey < $k",
        rows("lineitem")) { t =>
        val l = tbl(t, "lineitem")
        exec(t, "api", l.loc(l("l_orderkey") < k, Seq("l_orderkey", "l_linenumber", "l_quantity"))
          .astype("l_linenumber", LongType).astype("l_quantity", IntegerType).df)
      }
    },
    () => {
      val (cu, x) = (int(20, 200), money(100000, 490000))
      api("setitem", s"$cu,$x",
        s"SELECT o_orderkey, CASE WHEN o_totalprice > ${dbl(x)} THEN '0-CRITICAL' ELSE " +
          s"o_orderpriority END AS o_orderpriority FROM orders WHERE o_custkey < $cu", nOrd) { t =>
        val o = tbl(t, "orders")
        exec(t, "api", o.loc(o("o_custkey") < cu)
          .setWhere(col("o_totalprice") > x, "o_orderpriority", lit("0-CRITICAL"))
          .select("o_orderkey", "o_orderpriority").df)
      }
    },
    () => {
      val (cu, x) = (int(20, 200), money(50000, 400000))
      val nv = s"CASE WHEN o_totalprice < ${dbl(x)} THEN 'L' ELSE o_orderstatus END"
      api("update_changed", s"$cu,$x",
        s"SELECT o_orderkey, $nv AS o_orderstatus_new FROM orders WHERE o_custkey < $cu " +
          s"AND ($nv) IS DISTINCT FROM o_orderstatus", nOrd) { t =>
        val o = tbl(t, "orders").loc(col("o_custkey") < cu)
        exec(t, "api", o.updateChanged("o_orderkey", "o_orderstatus",
          when(col("o_totalprice") < x, "L").otherwise(col("o_orderstatus"))))
      }
    },
    () => {
      val Seq(a, b) = rng.shuffle(segments).take(2)
      val n = rng.nextInt(25)
      api("append", s"$a,$b,$n",
        s"SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = ${str(a)} AND c_nationkey = $n " +
          s"UNION ALL SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = ${str(b)} " +
          s"AND c_nationkey = $n", nCust) { t =>
        val cu = tbl(t, "customer")
        val x = cu.loc(cu("c_mktsegment") === a && cu("c_nationkey") === n)
        val y = cu.loc(cu("c_mktsegment") === b && cu("c_nationkey") === n).set("extra", lit(1))
        exec(t, "api", x.append(y).select("c_custkey", "c_mktsegment").df)
      }
    },
    () => {
      val q = int(2, 49)
      api("delete_rows", s"$q",
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem " +
          s"WHERE NOT (l_quantity < ${dbl(q)}) GROUP BY l_returnflag, l_linestatus",
        rows("lineitem")) { t =>
        val l = tbl(t, "lineitem")
        exec(t, "api", l.deleteRows(l("l_quantity") < q.toDouble).df
          .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("cnt")))
      }
    },
    () => {
      val x = money(480000, 498000)
      api("link", s"$x",
        "SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey " +
          s"WHERE o_totalprice > ${dbl(x)}", nOrd + nCust) { t =>
        val o = tbl(t, "orders")
        exec(t, "api", o.loc(o("o_totalprice") > x)
          .link(tbl(t, "customer"), "o_custkey", "c_custkey", broadcastOther = true)
          .select("o_orderkey", "c_name", "o_totalprice").df)
      }
    },
    () => {
      val (formula, value, agg) = pick(linked)
      val n = rng.nextInt(25)
      api("linked", s"$formula,$n",
        s"SELECT c_custkey, $agg AS v FROM customer LEFT JOIN orders ON o_custkey = c_custkey " +
          s"WHERE c_nationkey = $n GROUP BY c_custkey", nOrd + nCust) { t =>
        val cu = tbl(t, "customer")
        val l = cu.loc(cu("c_nationkey") === n)
          .addLinkedColumn(tbl(t, "orders"), "c_custkey", "o_custkey", value, formula, "v")
        val filled = formula match {
          case "lookup" | "rollup-conc" => l.set("v", coalesce(col("v"), lit("")))
          case "count_links" => l.set("v", coalesce(col("v"), lit(0L)))
          case _ => l
        }
        exec(t, "api", filled.select("c_custkey", "v").df)
      }
    },
    () => {
      val Seq(a, b) = rng.shuffle(segments).take(2)
      val x = int(0, 9000)
      val name = s"v-$a-$b-$x"
      api("get_view", s"$a,$b,$x",
        s"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_mktsegment IN " +
          s"(${str(a)}, ${str(b)}) AND c_acctbal > $x", nCust) { t =>
        val view = ViewDef(name,
          filters = Seq(ViewFilter("c_mktsegment", "is", Seq(a)),
            ViewFilter("c_mktsegment", "is", Seq(b)), ViewFilter("c_acctbal", "greater", Seq(x))),
          sorts = Seq(("c_acctbal", false), ("c_custkey", true)),
          hiddenCols = Seq("c_nationkey"))
        val cu = tbl(t, "customer")
        exec(t, "api", {
          ViewRegistry.save(views, "customer", view)
          ViewRegistry.getView(cu, views, name)
        })
      }
    })

  /** Core SparkEntry queries with their fixed constants and oracles. */
  private val core = Seq("q_query_sql", "q_time_machine", "q_filter_isin", "q_get_view_or",
    "q_iloc_step", "q_linked_rollup_conc").map(Workloads.query(c, _, nOrd + nCust))

  private var queue: List[Op] = Nil

  def setup(t: Tracer, rep: Int): Unit = Workloads.registerTables(c, t)

  /** Rounds of the same composition, so runs of different seeds weigh the
    * kinds alike: every template once with fresh constants, every core
    * query, then three repeats of this round's requests. */
  def next(): Op = {
    if (queue.isEmpty) {
      val fresh = templates.map(_())
      queue = (rng.shuffle(fresh ++ core) ++ rng.shuffle(fresh).take(3)).toList
    }
    val op = queue.head
    queue = queue.tail
    op
  }

  def atBoundary: Boolean = queue.isEmpty
}
