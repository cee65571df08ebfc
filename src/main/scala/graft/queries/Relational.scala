package graft.queries

import graft.{Q, Tables}
import graft.operators.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** North-star relational layer (SURVEY.md §2.11): joins, hash aggregates,
  * grouping sets, window functions, top-k, set ops — expressed as plain
  * DataFrame programs so Catalyst picks the physical strategy.
  *
  * Oracle-parity conventions (the driver hash-compares values vs DuckDB):
  *  - sums over doubles go through DECIMAL(18,4) so they are exact and
  *    order-independent, then cast back to double in BOTH dialects;
  *  - averages are exact-decimal-sum / count, divided in double;
  *  - stddev is computed from exact decimal moments (order-independent)
  *    rather than the engines' streaming implementations.
  */
object Relational {

  /** Order-insensitive exact sum of a double column: decimal accumulate,
    * double result. Matches CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE).
    */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")
  private def dsum8(c: Column): Column = sum(c.cast(DecimalType(28, 8))).cast("double")
  private def davg(c: Column): Column = dsum(c) / count(c)
  /** Sample stddev from exact decimal moments: sqrt((S2 - S1^2/n)/(n-1)).
    * The variance term clamps at 0: once S1^2 exceeds 2^53 (a large
    * near-constant group) the double subtraction of two ~equal products
    * can land an ulp NEGATIVE where the true variance is 0 — DuckDB then
    * hard-errors on sqrt(negative) while Spark returns NaN (round-12
    * review finding; the oracle text carries the same GREATEST).
    */
  private def dstd(c: Column): Column = {
    val n = count(c).cast("double")
    val s1 = dsum8(c)
    val s2 = dsum8(c * c)
    sqrt(greatest((s2 - s1 * s1 / n) / (n - lit(1.0)), lit(0.0)))
  }

  def defs: Seq[Q] = Seq(

    // TPC-H Q1 shape: scan-filter-aggregate with map-side partial agg.
    // Filter + 7-column projection reach the parquet scan (pushdown).
    Q("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    // Shuffle join lineitem<->orders (both large at scale: sort-merge /
    // shuffled-hash by Catalyst+AQE), aggregated by a low-card key.
    Q("j_inner",
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
    },

    // Broadcast join against a small dimension: part fits in memory at any
    // SF that matters; explicit broadcast() keeps it off the shuffle path.
    Q("j_broadcast",
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 10 GROUP BY p_brand""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part").filter(col("p_size") < 10)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
    },

    // Left-semi join == EXISTS.
    Q("j_semi",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
    },

    // Left-anti join == NOT EXISTS.
    Q("j_anti",
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus")
    },

    // Left outer join preserving customers with zero orders.
    Q("j_outer",
      """SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))),0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
    },

    // Star-schema chain with two broadcastable dims.
    Q("j_star",
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
    },

    // TPC-H Q3 shape (shipping priority): selective dim filter ->
    // fact-fact join -> revenue agg -> top-10. The canonical
    // multi-join-plus-top-k plan: customer filter broadcasts into
    // orders, the orders->lineitem join shuffles on orderkey (both
    // sides date-pruned BEFORE the join — PushedFilters on the scans),
    // and the top-10 is TakeOrderedAndProject, never a global sort.
    // Deterministic tie-break on l_orderkey added to the standard query
    // so the boundary of the LIMIT replays cross-engine.
    Q("q_tpch3",
      """SELECT l.l_orderkey,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS oday,
        |  o.o_orderpriority
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
        |  AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit("1998-03-15").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit("1998-03-15").cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).as("oday"),
          col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select("l_orderkey", "revenue", "oday", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5 shape (local supplier volume): the 6-way join with the
    // co-location predicate (customer nation = supplier nation) that
    // separates real join planners from toy ones. Dims (supplier,
    // nation, region, filtered customer keys) broadcast; the only
    // shuffles are the fact-side orderkey join. Region filter prunes
    // at the bottom of the dim chain.
    Q("q_tpch5",
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-01-01").cast("date"))
        .select("o_orderkey", "o_custkey")
      val l = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val sup = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
    },

    // TPC-H Q2 shape (minimum-cost supplier): the correlated-subquery +
    // min-join pattern — the oracle states it as Q2's correlated scalar
    // subquery; the Spark side runs the decorrelated plan a warehouse
    // planner produces: eligible offers once (fact scan joined to
    // BROADCAST dim chain region->nation->supplier), min-per-part
    // aggregate on the part-filtered slice, equi-join back on
    // (partkey, cost). The fixtures carry no partsupp table, so the
    // offer relation is lineitem's (part, supplier, unit price) — same
    // shape, same join graph. Unit cost is a raw IEEE division (both
    // engines bit-identical), so the min-join equality is exact.
    Q("q_tpch2",
      """WITH eligible AS (
        |  SELECT l.l_partkey, l.l_suppkey,
        |         l.l_extendedprice / l.l_quantity AS cost
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE')
        |SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
        |  p.p_type, e.cost
        |FROM part p
        |JOIN eligible e ON e.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = e.l_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_size <= 10 AND p.p_type = 'MEDIUM'
        |  AND e.cost = (SELECT min(e2.cost) FROM eligible e2
        |                WHERE e2.l_partkey = e.l_partkey)
        |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        |LIMIT 100""".stripMargin) { (s, dir) =>
      val supEu = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val parts = Tables.load(s, dir, "part")
        .filter(col("p_size") <= 10 && col("p_type") === "MEDIUM")
        .select("p_partkey", "p_type")
      val offers = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("cost"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supEu), col("l_suppkey") === col("s_suppkey"))
      val mins = offers.groupBy(col("l_partkey").as("m_partkey"))
        .agg(min(col("cost")).as("min_cost"))
      offers.join(broadcast(mins),
          col("l_partkey") === col("m_partkey") &&
            col("cost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"), col("cost"))
        .distinct()
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },

    // TPC-H Q8 shape (national market share): two-level aggregation —
    // per-year revenue volume over an 8-way join, then one nation's
    // share of it. Dims broadcast; the two fact-side shuffles are the
    // lineitem->orders orderkey join and the final year groupBy. The
    // ratio divides two decimal sums AFTER casting each to double
    // (decimal division scale rules differ across engines; double
    // division is IEEE-identical).
    Q("q_tpch8",
      """WITH vol AS (
        |  SELECT year(CAST(o.o_orderdate AS TIMESTAMP)) AS o_year,
        |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
        |      AS volume,
        |    n2.n_name AS supp_nation
        |  FROM part p
        |  JOIN lineitem l ON p.p_partkey = l.l_partkey
        |  JOIN supplier s2 ON l.l_suppkey = s2.s_suppkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey
        |  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY')
        |SELECT CAST(o_year AS INTEGER) AS o_year,
        |  CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_3'
        |                         THEN volume END), 0) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
        |  count(*) AS n_rows
        |FROM vol GROUP BY 1""".stripMargin) { (s, dir) =>
      val n1 = Tables.load(s, dir, "nation")
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("supp_nation"))
      val vol = Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_type") === "ECONOMY").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer")
          .select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("n2_key"))
        .select(year(col("o_orderdate")).as("o_year"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(18, 4)).as("volume"),
          col("supp_nation"))
      vol.groupBy("o_year")
        .agg(
          (coalesce(sum(when(col("supp_nation") === "NATION_3",
              col("volume"))), lit(0).cast(DecimalType(18, 4)))
            .cast("double") / sum(col("volume")).cast("double"))
            .as("mkt_share"),
          count(lit(1)).as("n_rows"))
    },

    // TPC-H Q9 shape (product-type profit rollup): profit per
    // (supplier nation, order year) over the part->lineitem->supplier->
    // orders join graph. The fixtures carry no partsupp, so supply cost
    // is rendered as p_retailprice * quantity * 0.1 — double arithmetic
    // with a fixed expression tree, IEEE-identical in both engines
    // before the decimal cast the order-independent sum needs. Dims
    // broadcast; the fact side shuffles once on orderkey, then on the
    // group key.
    Q("q_tpch9",
      """SELECT n.n_name AS nation,
        |  CAST(year(CAST(o.o_orderdate AS TIMESTAMP)) AS INTEGER) AS o_year,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                - p.p_retailprice * l.l_quantity * 0.1
        |                AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit,
        |  count(*) AS n_rows
        |FROM part p
        |JOIN lineitem l ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE p.p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_name").like("%gear%"))
          .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity") * lit(0.1))
          .as("sum_profit"),
          count(lit(1)).as("n_rows"))
    },

    // TPC-H Q4 shape (order priority checking): EXISTS rendered as a
    // left-semi hash join on the orderkey with the correlated non-equi
    // lateness predicate carried as the join's extra condition — never a
    // subquery re-execution per row. The fixtures carry no commit/receipt
    // dates, so "late" is shipped >30 days after the order date.
    Q("q_tpch4",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 30)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-07-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1996-10-01").cast("date"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate").cast("date") >
              date_add(col("o_orderdate").cast("date"), 30),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },

    // TPC-H Q6 shape (forecast revenue change): the pure
    // scan-filter-aggregate — every predicate must reach the parquet
    // scan and the whole plan is one WholeStageCodegen span with a
    // single-row partial-agg exchange.
    Q("q_tpch6",
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q7 shape (volume shipping): the two-nation-pair join — both
    // nation dims are pre-filtered to the two names BEFORE broadcasting
    // (so the IN-pair disjunction prunes each scan), the pair condition
    // itself is applied once both sides are bound, and the only
    // fact-scale shuffle is lineitem->orders on the orderkey.
    Q("q_tpch7",
      """WITH shipping AS (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(CAST(l.l_shipdate AS TIMESTAMP)) AS l_year,
        |    CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume
        |  FROM supplier s
        |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |SELECT supp_nation, cust_nation, CAST(l_year AS INTEGER) AS l_year,
        |  CAST(SUM(volume) AS DOUBLE) AS revenue, count(*) AS n
        |FROM shipping GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = Tables.load(s, dir, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(broadcast(Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer")
          .select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
        .select("supp_nation", "cust_nation", "l_year", "revenue", "n")
    },

    // TPC-H Q10 shape (returned-item reporting): date-pruned orders join
    // returnflag-pruned lineitem on the orderkey (the one fact shuffle),
    // customer+nation broadcast, top-20 as TakeOrderedAndProject with a
    // custkey tie-break so the LIMIT boundary replays cross-engine.
    Q("q_tpch10",
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  c.c_acctbal, n.n_name
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
        |  AND l.l_returnflag = 'R'
        |GROUP BY 1, 2, 4, 5
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1996-04-01").cast("date"))
        .select("o_orderkey", "o_custkey")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      o.join(l, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q11 shape (important stock): per-part value over one
    // nation's suppliers, kept when above a global scalar threshold.
    // The fixtures carry no partsupp so value is lineitem revenue; the
    // original's fixed fraction scales with 1/SF, so the threshold here
    // is 2x the mean part value — a scalar subquery with scale-invariant
    // selectivity. The scalar lands as a broadcast cross join (1 row),
    // never a shuffle.
    Q("q_tpch11",
      """WITH v AS (
        |  SELECT l.l_partkey, SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS val
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_5'
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(val AS DOUBLE) AS value
        |FROM v
        |WHERE CAST(val AS DOUBLE) > (SELECT 2.0 * CAST(SUM(val) AS DOUBLE) / count(*) FROM v)""".stripMargin) { (s, dir) =>
      val sup5 = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val v = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(broadcast(sup5), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("val"))
      val th = v.agg((lit(2.0) * sum(col("val")).cast("double") / count(lit(1)))
        .as("th"))
      v.crossJoin(broadcast(th))
        .filter(col("val").cast("double") > col("th"))
        .select(col("l_partkey"), col("val").cast("double").as("value"))
    },

    // TPC-H Q12 shape (shipping-mode priority counts): fact-fact
    // orderkey join with a derived group key and conditional counts.
    // The fixtures carry no shipmode/commit/receipt dates, so the mode
    // is a ship-lag bucket (>90 days SLOW) over lines shipped >60 days
    // late within one year. COUNT(CASE..) keeps both engines in BIGINT.
    Q("q_tpch12",
      """SELECT CASE WHEN CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90
        |            THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
        |  COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        |  COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
        |  AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date"))
        .select("l_orderkey", "l_shipdate")
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate").cast("date") >
          date_add(col("o_orderdate").cast("date"), 60))
        .groupBy(when(col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 90), lit("SLOW"))
          .otherwise(lit("FAST")).as("ship_bucket"))
        .agg(count(when(hi, lit(1))).as("high_line_count"),
          count(when(!hi, lit(1))).as("low_line_count"))
    },

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    // join with the filter INSIDE the join condition (pre-filtering the
    // right side — equivalent since the predicate only touches orders),
    // then the double aggregation. The custkey join and the custkey
    // groupBy share a partitioning, so only the tiny c_count histogram
    // re-shuffles.
    Q("q_tpch13",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority NOT LIKE '%URGENT%'
        |  GROUP BY 1) t
        |GROUP BY c_count""".stripMargin) { (s, dir) =>
      val c = Tables.load(s, dir, "customer").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(!col("o_orderpriority").like("%URGENT%"))
        .select("o_orderkey", "o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    },

    // TPC-H Q14 shape (promo revenue): conditional-ratio aggregate over
    // a month of date-pruned lineitem joined to a broadcast part dim.
    // Numerator COALESCEd so an empty promo slice yields 0, and the
    // ratio divides the two exact decimal sums in double.
    Q("q_tpch14",
      """SELECT 100.0 * CAST(COALESCE(SUM(CASE WHEN p.p_type = 'PROMO'
        |      THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) END), 0) AS DOUBLE)
        |    / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS promo_revenue,
        |  count(*) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-09-01'
        |  AND CAST(l.l_shipdate AS DATE) < DATE '1996-10-01'""".stripMargin) { (s, dir) =>
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-09-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1996-10-01").cast("date"))
        .select("l_partkey", "l_extendedprice", "l_discount")
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4))
      l.join(broadcast(Tables.load(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            coalesce(sum(when(col("p_type") === "PROMO", rev)),
              lit(0).cast(DecimalType(18, 4))).cast("double") /
            sum(rev).cast("double")).as("promo_revenue"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q15 shape (top supplier): the revenue view built once as a
    // suppkey aggregate, its max taken as a 1-row broadcast, and the
    // equality join back — exact because both sides compare the SAME
    // decimal sums, never a double. Ties (none in the fixtures) would
    // return the same set in both engines.
    Q("q_tpch15",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin) { (s, dir) =>
      val rev = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1996-04-01").cast("date"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.join(broadcast(mx), col("total_revenue") === col("mx"))
        .join(broadcast(Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_name")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue").cast("double").as("total_revenue"))
    },

    // TPC-H Q16 shape (parts/supplier relationship): NOT IN rendered as
    // a left-anti join against the excluded supplier set (s_suppkey is
    // non-null so NOT IN == anti), part attribute filters pushed to the
    // scan including the IN-list on p_size, then COUNT(DISTINCT) per
    // attribute triple.
    Q("q_tpch16",
      """SELECT p.p_brand, p.p_type, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND l.l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val excl = Tables.load(s, dir, "supplier")
        .filter(col("s_name").like("%7%")).select("s_suppkey")
      // NOT IN drops a NULL probe-side key (NULL <> x is unknown) while
      // left_anti would KEEP it — filter nulls first so the rewrite is
      // equivalent to the stated SQL on any data, not just the
      // null-free fixture (round-12 review finding)
      Tables.load(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .filter(col("l_suppkey").isNotNull)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },

    // TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    // average decorrelated into a partkey aggregate joined back — both
    // computed over the SAME part-pruned slice (the correlation key only
    // spans filtered parts, so pruning first is equivalence-preserving
    // and avoids aggregating the whole fact). The per-part threshold
    // table is small (one row per filtered part) and broadcasts.
    Q("q_tpch17",
      """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
        |  AND l.l_quantity < (
        |    SELECT 0.2 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
        .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
        .select("p_partkey")
      val lif = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val th = lif.groupBy(col("l_partkey").as("t_partkey"))
        .agg((lit(0.2) * sum(col("l_quantity").cast(DecimalType(18, 4)))
          .cast("double") / count(lit(1))).as("th"))
      lif.join(broadcast(th), col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("th"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q18 shape (large-volume customers): the IN-over-grouped-
    // HAVING rendered as a left-semi join of orders against the
    // qty>300 orderkey aggregate, then the fact re-join on the same
    // orderkey partitioning, broadcast customer, and TakeOrdered-100
    // with the orderkey tie-break.
    Q("q_tpch18",
      """SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS oday,
        |  o.o_totalprice,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      // Aggregate-reuse decorrelation: the stated query touches lineitem
      // twice (the IN subquery's HAVING sum and the outer sum_qty), but
      // both are THE SAME per-order aggregate, and the outer group key
      // (custkey, name, orderkey, oday, totalprice) is unique per order
      // — so one lineitem pass computes the sum, the HAVING filter
      // shrinks it to the qty>300 few, and the carried sum replaces the
      // outer re-join + re-aggregation entirely. The filtered aggregate
      // is tiny, so the orders and customer joins broadcast under AQE.
      // Accumulator + layout tuning, both oracle-exact: quantities are
      // integral (enforced IN the plan below — a fractional quantity
      // raises instead of silently truncating through the long cast),
      // so a LONG sum equals the
      // oracle's DECIMAL sum bit-for-bit after the double cast (values
      // << 2^53) at half the aggregate cost; and because the fixture
      // scatters an order's lines across file splits, the default
      // map-side partial agg is pure hash-map churn (every map
      // partition sees ~unique keys) — shuffling raw rows FIRST makes
      // the now-co-located partial agg do all the combining and elides
      // the post-agg exchange (AggProbe at 100x: 2.8 s vs 9.1 s). On a
      // layout that clusters lines by order (sorted/bucketed lineitem),
      // drop the repartition and let the default partial agg combine.
      val osum = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey").as("b_orderkey"))
        .agg(sum(when(col("l_quantity").isNull ||
            col("l_quantity") === floor(col("l_quantity")),
            col("l_quantity").cast("long"))
          .otherwise(raise_error(lit(
            "q_tpch18: fractional l_quantity — the LONG-sum rewrite no " +
              "longer matches the DECIMAL oracle; fixture changed?"))))
          .as("sq"))
        .filter(col("sq") > 300)
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .join(osum, col("o_orderkey") === col("b_orderkey"))
        .join(Tables.load(s, dir, "customer")
          .select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).as("oday"),
          col("o_totalprice"),
          col("sq").cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // TPC-H Q19 shape (discounted revenue, disjunctive predicate): the
    // OR-of-ANDs mixing part and lineitem columns. The part-only
    // projection of the disjunction is applied to the dim BEFORE the
    // broadcast (so the scan prunes), the full mixed disjunction after
    // the equi-join — never a nested-loop join.
    Q("q_tpch19",
      """SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5 AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin) { (s, dir) =>
      val partOnly =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15))
      val full =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
      Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(partOnly).select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(full)
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n"))
    },

    // TPC-H Q20 shape (potential part promotion): the nested
    // IN-over-grouped-HAVING — heavy shippers of 'red%' parts in one
    // year — rendered as (suppkey, partkey) aggregate -> HAVING ->
    // left-semi into the region-filtered supplier dim. The supplier
    // side is tiny, so the semi-join builds on the aggregate's
    // distinct-suppkey projection.
    Q("q_tpch20",
      """SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND s.s_suppkey IN (
        |    SELECT l.l_suppkey
        |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |    WHERE p.p_name LIKE 'red%'
        |      AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        |      AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'
        |    GROUP BY l.l_suppkey, l.l_partkey
        |    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > 40)""".stripMargin) { (s, dir) =>
      val heavy = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1997-01-01").cast("date"))
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_name").like("red%")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("sq"))
        .filter(col("sq") > 40)
        .select("l_suppkey")
      Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting): the
    // EXISTS + NOT EXISTS double correlation on the same fact — a
    // left-semi then a left-anti join on the orderkey, each carrying
    // the supplier-inequality as the join's extra condition. The
    // fixtures carry no receipt/commit dates, so the "blocking" line is
    // a big one (quantity > 45). Supplier+nation broadcast prunes l1
    // FIRST so the semi/anti probes run on 1/25th of the fact.
    Q("q_tpch21",
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_1' AND l1.l_quantity > 45
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_quantity > 45)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val sup1 = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")
          .filter(col("n_name") === "NATION_1")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      val l1 = li.filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("k1"), col("l_suppkey").as("sk1"))
        .join(broadcast(sup1), col("sk1") === col("s_suppkey"))
      val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2"))
      val l3 = li.filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("k3"), col("l_suppkey").as("sk3"))
      val oF = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select("o_orderkey")
      l1.join(oF, col("k1") === col("o_orderkey"), "left_semi")
        .join(l2, col("k1") === col("k2") && col("sk2") =!= col("sk1"), "left_semi")
        .join(l3, col("k1") === col("k3") && col("sk3") =!= col("sk1"), "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
    },

    // TPC-H Q22 shape (global sales opportunity): scalar-subquery
    // threshold (mean positive balance over the country slice, exact
    // decimal sum / count) broadcast into the filter, then NOT EXISTS
    // as a left-anti join against date-pruned orders. "Country code"
    // is the nationkey (the fixtures carry no phone), and the lapse is
    // no orders since 1999 (every fixture customer has SOME order).
    Q("q_tpch22",
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer c
        |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |  AND c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |    FROM customer
        |    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND CAST(o.o_orderdate AS DATE) >= DATE '1999-01-01')
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val codes = Seq(1, 3, 5, 7, 9, 11, 13)
      val cIn = Tables.load(s, dir, "customer")
        .filter(col("c_nationkey").isin(codes: _*))
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val th = cIn.filter(col("c_acctbal") > 0.0)
        .agg(davg(col("c_acctbal")).as("th"))
      val recent = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1999-01-01").cast("date"))
        .select("o_custkey")
      cIn.crossJoin(broadcast(th))
        .filter(col("c_acctbal") > col("th"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
    },

    // CUBE grouping sets.
    Q("q_cube",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    },

    // ROLLUP hierarchy.
    Q("q_rollup",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
    },

    // Explicit GROUPING SETS (beyond cube/rollup).
    Q("q_grouping_sets",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin)
    },

    // Exact interpolated percentiles (Spark percentile == DuckDB
    // quantile_cont linear interpolation; rounded for libm safety).
    Q("q_percentile",
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"))
    },

    // Row dedup (dropDuplicates over the key columns; projected to the
    // keys it equals DISTINCT, which keeps the check deterministic — the
    // streaming twin is dropDuplicatesWithinWatermark, StreamingSpec).
    Q("q_dropdup",
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      Tables.load(s, dir, "events")
        .dropDuplicates(Seq("user_id", "event_type"))
        .select("user_id", "event_type")
    },

    // Mergeable approximate percentile — the 100 TB twin of q_percentile
    // (exact interpolation needs per-group sorted data; the sketch
    // doesn't). Sketch VALUES are engine-specific, so instead of a
    // rows-only row (round-8 verdict: zero `err` rows on the board) this
    // row gates the sketch's actual CONTRACT in-plan: percentile_approx
    // with accuracy=1000 guarantees a returned value whose RANK is within
    // eps*N of the target rank (eps = 1/accuracy). Per group we join the
    // sketch output back onto the rows, bracket each returned value's rank
    // as [count(x < v), count(x <= v)], and require that interval to
    // intersect [q*N - slack, q*N + slack] with slack = 2*N/1000 + 1 (2x
    // for merge degradation). The oracle expects literal 1s, so a contract
    // violation turns the row red. Complements the VALUE-accuracy twin
    // q_approx_percentile_bounds (1% relative value envelope).
    Q("q_approx_percentile",
      """SELECT l_returnflag, 1 AS p50_rank_ok, 1 AS p95_rank_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
      val sk = li.groupBy("l_returnflag")
        .agg(expr("percentile_approx(l_extendedprice, array(0.5, 0.95), 1000)")
          .as("ps"))
        .select(col("l_returnflag").as("rf"),
          expr("ps[0]").as("p50"), expr("ps[1]").as("p95"))
      def rankOk(v: Column, q: Double): Column = {
        val n = count(lit(1))
        val lo = sum((col("l_extendedprice") < v).cast("long"))
        val hi = sum((col("l_extendedprice") <= v).cast("long"))
        val slack = n * 2 / lit(1000) + 1
        val target = n * q
        (lo <= target + slack && hi >= target - slack).cast("int")
      }
      li.join(broadcast(sk), col("l_returnflag") === col("rf"))
        .groupBy("l_returnflag")
        .agg(rankOk(col("p50"), 0.5).as("p50_rank_ok"),
          rankOk(col("p95"), 0.95).as("p95_rank_ok"))
    },

    // Driver-board quality gate for the sketch row above: the sketch
    // VALUES are engine-specific (hence rows-only), but their error
    // bounds are not. Each group's approx percentile must land within 1%
    // of the exact in-plan percentile (accuracy=1000 guarantees a far
    // tighter rank error); the oracle expects literal 1s, so a bound
    // violation turns the row red instead of silently weakening the check.
    Q("q_approx_percentile_bounds",
      """SELECT l_returnflag, 1 AS p50_ok, 1 AS p95_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile_approx(l_extendedprice, array(0.5, 0.95), 1000)").as("ap"),
          expr("percentile(l_extendedprice, 0.5)").as("e50"),
          expr("percentile(l_extendedprice, 0.95)").as("e95"))
        .select(col("l_returnflag"),
          (abs(expr("ap[0]") - col("e50")) <= col("e50") * 0.01)
            .cast("int").as("p50_ok"),
          (abs(expr("ap[1]") - col("e95")) <= col("e95") * 0.01)
            .cast("int").as("p95_ok"))
    },

    // Salted join on the oracle board: hot-key mitigation must be
    // lossless — the salted plan's aggregated result equals the plain
    // join the oracle runs (only the shuffle distribution differs).
    Q("j_salted",
      """SELECT n_name, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal_sum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
        .withColumnRenamed("c_nationkey", "nk")
      val nat = Tables.load(s, dir, "nation")
        .withColumnRenamed("n_nationkey", "nk")
        .select("nk", "n_name")
      graft.operators.Skew.saltedJoin(cust, nat, "nk", saltFactor = 8)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(18, 4))).cast("double").as("bal_sum"))
    },

    // Fuzzy blocking join (record linkage): candidate pairs from a
    // cheap two-attribute equality block (brand, size), scored with the
    // native codegen'd Jaro-Winkler expression, aggregated to distinct
    // name pairs so the output is vocabulary-sized at any SF. The block
    // key choice IS the textbook linkage tradeoff, measured here:
    // brand-only blocks gave 8M candidate pairs and a 672k-pair result
    // at sf0.1 (the fixture name vocabulary is tiny, so 8% of ALL pairs
    // clear 0.85 — a block that unselective prices the verify at
    // 50x the signal); brand+size keeps 160k candidates / 13.5k
    // matches, and at corpus scale composite blocks (or LSH blocking as
    // in dd_*) are how linkage stays tractable. Plan shape: shuffle on
    // the block key, score inside one codegen stage, no all-pairs
    // shuffle. Both engines share the classic Winkler 1990 semantics
    // (boost threshold 0.7, prefix weight 0.1, floored transposition
    // count), so the score hash-compares after round(6).
    // Fuzzy join via attribute blocking: candidates = same (brand,
    // size) block, verified by Jaro-Winkler. Candidate volume is
    // sum(n_b^2) — quadratic in per-block population, which is the
    // stated answer's own cost (every >=0.85 pair in a block must be
    // emitted). Measured 1.4x wall at 100x data (SCALE_CURVES.md: the
    // scale fixture diversifies brands, keeping blocks selective); on a
    // corpus where one block's population grows unboundedly, the
    // deployment shape is redundant multi-key blocking (add name-prefix
    // keys, union candidates) or the LSH twin — the dd_minhash_lsh
    // family on name shingles — exactly as for the exact-similarity
    // rows.
    Q("j_fuzzy_block",
      """SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw,
        |  count(*) AS n_pairs
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.85
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val p = Tables.load(s, dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_size")
      val a = p.toDF("ka", "name_a", "brand", "size")
      val b = p.toDF("kb", "name_b", "brand", "size")
      a.join(b, Seq("brand", "size")).filter(col("ka") < col("kb"))
        .withColumn("jw",
          round(graft.functions.GraftFunctions.jaro_winkler(
            col("name_a"), col("name_b")), 6))
        .filter(col("jw") >= 0.85)
        .groupBy("name_a", "name_b", "jw")
        .agg(count(lit(1)).as("n_pairs"))
    },

    // SCD Type-2 MERGE (Kimball slowly-changing dimension): apply a
    // deterministic change batch to the customer dimension — matched
    // keys close their current row (is_current=0) and append version 2
    // with the new balance; unmatched source keys insert; untouched
    // target rows carry through — the warehouse upsert every dimension
    // load runs (Delta MERGE INTO semantics, expressed as joins). The
    // change batch derives from md5 buckets so both engines deal the
    // same updates/inserts. Plan: one equi-join for closes, one anti
    // join for carry-through, row-local inserts, all unioned — at
    // 100 TB this is the standard copy-on-write MERGE shape (joins on
    // the dimension key, no shuffle wider than the key).
    Q("q_scd2_merge",
      """WITH src AS (SELECT c_custkey AS k, c_acctbal + 100 AS bal FROM customer
        |  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '4'),
        |ins AS (SELECT c_custkey + 1000000 AS k, 500.0 AS bal FROM customer
        |  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) < '1')
        |SELECT t.c_custkey AS k, t.c_acctbal AS bal, 1 AS version, 0 AS is_current
        |  FROM customer t JOIN src ON t.c_custkey = src.k
        |UNION ALL
        |SELECT k, bal, 2, 1 FROM src
        |UNION ALL
        |SELECT t.c_custkey, t.c_acctbal, 1, 1 FROM customer t
        |  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.k = t.c_custkey)
        |UNION ALL
        |SELECT k, bal, 1, 1 FROM ins""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "customer").select("c_custkey", "c_acctbal")
      val h = substring(md5(col("c_custkey").cast("string")), 1, 1)
      val src = t.filter(h < "4")
        .select(col("c_custkey").as("k"), (col("c_acctbal") + 100).as("bal"))
      val ins = t.filter(h < "1")
        .select((col("c_custkey") + 1000000).as("k"), lit(500.0).as("bal"))
      val closed = t.join(src, t("c_custkey") === src("k"))
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
          lit(1).as("version"), lit(0).as("is_current"))
      val updated = src.select(col("k"), col("bal"),
        lit(2).as("version"), lit(1).as("is_current"))
      val kept = t.join(src, t("c_custkey") === src("k"), "left_anti")
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"),
          lit(1).as("version"), lit(1).as("is_current"))
      val inserted = ins.select(col("k"), col("bal"),
        lit(1).as("version"), lit(1).as("is_current"))
      closed.unionAll(updated).unionAll(kept).unionAll(inserted)
    },

    // Z-order (Morton) interleaving of (partkey, suppkey) — the
    // multi-dimensional clustering key behind Delta/Iceberg Z-ORDER
    // layout: rows sorted by the interleaved key land so every file
    // span covers a TIGHT rectangle of both dimensions, which is what
    // lets a 2-D predicate prune file stats at 100 TB. The row computes
    // the 32-bit interleave (16 bits per dimension, pure integer
    // shifts — bit-identical across engines) and reports per-16k-z
    // bucket counts and min/max extents: at sf0.01 buckets span 128 of
    // partkey's 2000 values, the locality the layout buys. Row-local
    // bit math + one bounded bucket agg.
    Q("q_zorder",
      """WITH z AS (SELECT l_partkey AS x, l_suppkey AS y,
        |    list_sum([ (CAST((l_partkey >> i) & 1 AS BIGINT) << (2*i))
        |             + (CAST((l_suppkey >> i) & 1 AS BIGINT) << (2*i+1))
        |             for i in range(0,16)]) AS zv
        |  FROM lineitem)
        |SELECT CAST(zv AS BIGINT) // 16384 AS bucket, count(*) AS n,
        |  min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
        |FROM z GROUP BY 1""".stripMargin) { (s, dir) =>
      val x = col("l_partkey").cast("long")
      val y = col("l_suppkey").cast("long")
      val zv = (0 until 16).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)
      }.reduce(_ + _)
      // keys must fit the 16-bit-per-dimension interleave: bit >= 16
      // would silently alias k and k+65536 onto one z-bucket in BOTH
      // engines (hash-green garbage) — raise instead, the q_tpch18
      // fractional-quantity pattern (round-12 review finding)
      val zvGuarded = when(
        x >= 0 && x < (1L << 16) && y >= 0 && y < (1L << 16), zv)
        .otherwise(raise_error(lit(
          "q_zorder: key outside [0, 65536) — the 16-bit interleave " +
            "aliases z-buckets; widen the interleave or re-bucket")))
      Tables.load(s, dir, "lineitem")
        .select(x.as("x"), y.as("y"), zvGuarded.as("zv"))
        .groupBy(expr("zv div 16384").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
    },

    // Join-cardinality estimation audit (the System-R formula every CBO
    // starts from: |A join B| ~= |A|*|B| / max(ndv_A, ndv_B)) evaluated
    // against the actual join size for the three fact joins this board
    // runs — the row that tells you WHERE the textbook estimate breaks
    // (uniform-key joins land close; the skewed event join overshoots).
    // Error in integer ppm of actual; all counts single-pass aggregates.
    Q("q_join_card_est",
      """WITH j1 AS (SELECT 'orders_lineitem' AS jn,
        |    (SELECT count(*) FROM orders) AS na,
        |    (SELECT count(*) FROM lineitem) AS nb,
        |    greatest((SELECT count(DISTINCT o_orderkey) FROM orders),
        |             (SELECT count(DISTINCT l_orderkey) FROM lineitem)) AS ndv,
        |    (SELECT count(*) FROM orders JOIN lineitem
        |       ON o_orderkey = l_orderkey) AS actual),
        |j2 AS (SELECT 'customer_orders',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM orders),
        |    greatest((SELECT count(DISTINCT c_custkey) FROM customer),
        |             (SELECT count(DISTINCT o_custkey) FROM orders)),
        |    (SELECT count(*) FROM customer JOIN orders
        |       ON c_custkey = o_custkey)),
        |j3 AS (SELECT 'events_self_user',
        |    (SELECT count(*) FROM events WHERE event_type = 'purchase'),
        |    (SELECT count(*) FROM events WHERE event_type = 'error'),
        |    greatest((SELECT count(DISTINCT user_id) FROM events
        |                WHERE event_type = 'purchase'),
        |             (SELECT count(DISTINCT user_id) FROM events
        |                WHERE event_type = 'error')),
        |    (SELECT count(*) FROM
        |       (SELECT user_id FROM events WHERE event_type = 'purchase') a
        |       JOIN (SELECT user_id FROM events WHERE event_type = 'error') b
        |       ON a.user_id = b.user_id)),
        |u AS (SELECT * FROM j1 UNION ALL SELECT * FROM j2
        |      UNION ALL SELECT * FROM j3)
        |SELECT jn, na, nb, ndv, actual,
        |  CAST(na * nb // ndv AS BIGINT) AS est,
        |  CAST((na * nb // ndv) * 1000000 // actual - 1000000 AS BIGINT)
        |    AS err_ppm
        |FROM u""".stripMargin) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val cust = Tables.load(s, dir, "customer")
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val errors = ev.filter(col("event_type") === "error")
      def audit(jn: String, a: org.apache.spark.sql.DataFrame, ka: String,
          b: org.apache.spark.sql.DataFrame, kb: String) = {
        val na = a.agg(count(lit(1)).as("na"),
          countDistinct(col(ka)).as("ndva"))
        val nb = b.agg(count(lit(1)).as("nb"),
          countDistinct(col(kb)).as("ndvb"))
        val actual = a.select(col(ka).as("__k")).join(
          b.select(col(kb).as("__k")), "__k").agg(count(lit(1)).as("actual"))
        na.crossJoin(nb).crossJoin(actual)
          .select(lit(jn).as("jn"), col("na"), col("nb"),
            greatest(col("ndva"), col("ndvb")).as("ndv"), col("actual"))
      }
      audit("orders_lineitem", orders, "o_orderkey", li, "l_orderkey")
        .unionAll(audit("customer_orders", cust, "c_custkey", orders, "o_custkey"))
        .unionAll(audit("events_self_user", purchases, "user_id", errors, "user_id"))
        .select(col("jn"), col("na"), col("nb"), col("ndv"), col("actual"),
          expr("na * nb div ndv").as("est"),
          // Spark div and DuckDB // BOTH truncate toward zero (probed
          // empirically: (-39)//40 = 0 in DuckDB 1.0 — an earlier
          // comment here claimed DuckDB floors, which is wrong), so the
          // pairing agrees on all operands; these are non-negative anyway
          expr("(na * nb div ndv) * 1000000 div actual - 1000000").as("err_ppm"))
    },

    // Declarative data-quality audit (the Deequ/Great-Expectations
    // shape): five constraint checks — PK uniqueness, FK orphans
    // (anti-join, never a driver loop), completeness, a domain range
    // the fixture honors, and one it genuinely violates (events.value
    // drifts past its declared [0,200] envelope) — each reported as
    // (check, n_checked, n_violations, pass). Every check is one
    // aggregate or one anti-join; the union of five scalar frames is
    // metadata-scale. Zeros on the clean checks are the finding, not a
    // vacuous gate — the violated check keeps the row honest.
    Q("q_dq_audit",
      """SELECT 'orders_pk_unique' AS chk, count(*) AS n_checked,
        |  count(*) - count(DISTINCT o_orderkey) AS n_violations,
        |  CAST(count(*) = count(DISTINCT o_orderkey) AS INT) AS pass
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem_fk_orders', (SELECT count(*) FROM lineitem),
        |  count(*), CAST(count(*) = 0 AS INT)
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'events_props_complete', (SELECT count(*) FROM events),
        |  count(*) FILTER (WHERE props IS NULL),
        |  CAST(count(*) FILTER (WHERE props IS NULL) = 0 AS INT)
        |FROM events
        |UNION ALL
        |SELECT 'lineitem_qty_domain', count(*),
        |  count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50),
        |  CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) = 0 AS INT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'events_value_domain', count(*),
        |  count(*) FILTER (WHERE value < 0 OR value > 200),
        |  CAST(count(*) FILTER (WHERE value < 0 OR value > 200) = 0 AS INT)
        |FROM events""".stripMargin) { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      val li = Tables.load(s, dir, "lineitem")
      val ev = Tables.load(s, dir, "events")
      val liCount = li.agg(count(lit(1)).as("__n"))
      val pk = orders.agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_violations"))
        .select(lit("orders_pk_unique").as("chk"), col("n_checked"),
          col("n_violations"),
          (col("n_violations") === 0).cast("int").as("pass"))
      val fk = li.join(orders.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(liCount)
        .select(lit("lineitem_fk_orders").as("chk"), col("__n").as("n_checked"),
          col("n_violations"),
          (col("n_violations") === 0).cast("int").as("pass"))
      def domain(name: String, df: org.apache.spark.sql.DataFrame,
          bad: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_checked"),
            count(when(bad, 1)).as("n_violations"))
          .select(lit(name).as("chk"), col("n_checked"), col("n_violations"),
            (col("n_violations") === 0).cast("int").as("pass"))
      pk.unionAll(fk)
        .unionAll(domain("events_props_complete", ev, col("props").isNull))
        .unionAll(domain("lineitem_qty_domain", li,
          col("l_quantity") < 1 || col("l_quantity") > 50))
        .unionAll(domain("events_value_domain", ev,
          col("value") < 0 || col("value") > 200))
    },

    // Benford first-digit audit (the fraud / synthetic-data screen):
    // observed first-digit proportions of order totals in integer ppm
    // against the Benford expectation (log10(1+1/d), hardcoded as ppm
    // literals so no cross-engine log). The fixture's totals are NOT
    // Benford-distributed and the deviation column says so by how much
    // — an audit that reports is more useful than one that asserts.
    Q("q_benford",
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit FROM orders),
        |o AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM o),
        |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |  (9, 45757)) AS v(digit, exp_ppm))
        |SELECT e.digit, coalesce(o.n, 0) AS n,
        |  CAST(coalesce(o.n, 0) * 1000000 // t.total AS BIGINT) AS obs_ppm,
        |  e.exp_ppm,
        |  CAST(coalesce(o.n, 0) * 1000000 // t.total - e.exp_ppm AS BIGINT)
        |    AS dev_ppm
        |FROM e LEFT JOIN o ON e.digit = o.digit, t""".stripMargin) { (s, dir) =>
      val expected = Seq(1 -> 301030, 2 -> 176091, 3 -> 124939, 4 -> 96910,
        5 -> 79181, 6 -> 66947, 7 -> 57992, 8 -> 51153, 9 -> 45757)
      import s.implicits._
      val e = expected.toDF("digit", "exp_ppm")
      val o = Tables.load(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
          1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = o.agg(sum("n").as("total"))
      e.join(o, Seq("digit"), "left").na.fill(0, Seq("n")).crossJoin(t)
        .select(col("digit"), col("n"),
          expr("n * 1000000 div total").as("obs_ppm"), col("exp_ppm"),
          expr("n * 1000000 div total - exp_ppm").as("dev_ppm"))
    },

    // Equi-DEPTH histogram (the ANALYZE TABLE stats CBO planners feed
    // on — equi-WIDTH is q_histogram), the way production ANALYZE runs
    // it: a deterministic md5-keyed sample of 4096 rows (TakeOrdered on
    // the hash — distributed top-k, never a global sort of the table),
    // then 32 ntile buckets with per-bucket count/min/max over the
    // BOUNDED sample. Stats cost is therefore flat in table size; the
    // md5 order replays exactly in SQL. First measured as an exact
    // global ntile: 5.3x for 10x data — the sample restores flat.
    Q("q_equidepth_hist",
      """WITH smp AS (SELECT o_totalprice, o_orderkey FROM orders
        |  ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 4096),
        |r AS (SELECT o_totalprice,
        |    ntile(32) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM smp)
        |SELECT bucket, count(*) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM r GROUP BY bucket""".stripMargin) { (s, dir) =>
      val smp = Tables.load(s, dir, "orders")
        .select(col("o_totalprice"), col("o_orderkey"))
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
        .limit(4096)
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      smp.select(col("o_totalprice"), ntile(32).over(w).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
    },

    // Zone-map / data-skipping audit (the min-max pruning every parquet
    // footer and Delta/Iceberg file-stats layer does): zone rows by
    // 40-day shipdate stripes (the physical clustering a date-sorted
    // write produces), record per-zone min/max of the clustered column
    // (shipdate) AND an unclustered one (quantity), then evaluate which
    // zones a year-range predicate and a quantity predicate could skip.
    // The contrast IS the lakehouse story: the sorted column prunes
    // nearly every out-of-range zone, the unsorted one prunes none —
    // q_zorder is the fix for the latter. All-integer day arithmetic;
    // one agg shuffle on ~60 zone keys at any SF.
    Q("q_zone_map",
      """WITH z AS (SELECT
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 40 AS zone,
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS sday,
        |    l_quantity
        |  FROM lineitem),
        |m AS (SELECT zone, count(*) AS n_rows,
        |    min(sday) AS min_ship, max(sday) AS max_ship,
        |    min(l_quantity) AS min_q, max(l_quantity) AS max_q
        |  FROM z GROUP BY zone)
        |SELECT zone, n_rows, min_ship, max_ship, min_q, max_q,
        |  CAST(max_ship < datediff('day', DATE '1970-01-01', DATE '1998-01-01')
        |    OR min_ship > datediff('day', DATE '1970-01-01', DATE '1998-12-31')
        |    AS INT) AS skip_ship,
        |  CAST(max_q < 5 OR min_q > 45 AS INT) AS skip_qty
        |FROM m""".stripMargin) { (s, dir) =>
      val sday = datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
      // zone anchors at the 1970 epoch, NOT the fixture's min date: with
      // a 1995 anchor, truncating div folded days -39..+39 into one
      // double-width zone 0 for any pre-anchor shipdate — identically in
      // both engines (DuckDB // truncates too), so the broken stripes
      // were hash-green (round-12 review finding; the fixture had one
      // day of headroom). Epoch-anchored day numbers are non-negative
      // over the whole TPC-H date domain, so truncation == floor.
      val zone = expr(
        "datediff(cast(l_shipdate as date), date'1970-01-01') div 40")
      val d98lo = datediff(lit("1998-01-01").cast("date"), lit("1970-01-01").cast("date"))
      val d98hi = datediff(lit("1998-12-31").cast("date"), lit("1970-01-01").cast("date"))
      Tables.load(s, dir, "lineitem")
        .select(zone.as("zone"), sday.as("sday"), col("l_quantity"))
        .groupBy("zone")
        .agg(count(lit(1)).as("n_rows"),
          min("sday").as("min_ship"), max("sday").as("max_ship"),
          min("l_quantity").as("min_q"), max("l_quantity").as("max_q"))
        .select(col("zone"), col("n_rows"), col("min_ship"), col("max_ship"),
          col("min_q"), col("max_q"),
          (col("max_ship") < d98lo || col("min_ship") > d98hi)
            .cast("int").as("skip_ship"),
          (col("max_q") < 5 || col("min_q") > 45).cast("int").as("skip_qty"))
    },

    // Small-file compaction planner (the OPTIMIZE bin-packing pass):
    // treat each order date as one "file" of size count(*), order files
    // by date, and assign each to the first-fit-by-prefix-sum bin of
    // ~6000 rows — bin = floor(preceding-cumulative / target), the
    // greedy packing Delta/Iceberg OPTIMIZE performs. The global-order
    // window runs over the FILE MANIFEST (one row per file: ~10^3 here,
    // ~10^5 for a 100 TB table), which is metadata-scale — a
    // single-partition prefix sum over a manifest is exactly how the
    // real table services plan compaction, not a data-scale sort.
    Q("q_compact_bins",
      """WITH f AS (SELECT
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS fday,
        |    count(*) AS fsize
        |  FROM orders GROUP BY 1),
        |c AS (SELECT fday, fsize, sum(fsize) OVER
        |    (ORDER BY fday ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum
        |  FROM f)
        |SELECT fday, fsize, CAST((csum - fsize) // 6000 AS BIGINT) AS bin
        |FROM c""".stripMargin) { (s, dir) =>
      val w = Window.orderBy("fday")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .groupBy(datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).as("fday"))
        .agg(count(lit(1)).as("fsize"))
        .withColumn("csum", sum("fsize").over(w))
        .select(col("fday"), col("fsize"),
          expr("(csum - fsize) div 6000").as("bin"))
    },

    // Equi-width histogram (data profiling): fixed [0, 120000) domain in
    // 20 buckets — integer bucket arithmetic is identical across engines,
    // and the shuffle carries only per-partition bucket counts.
    Q("q_histogram",
      """SELECT CAST(floor(l_extendedprice / 6000.0) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 6000.0).as("bucket"))
        .agg(count(lit(1)).as("n"))
    },

    // Relational PIVOT (wide conditional aggregation with a declared
    // column set — Spark .pivot() vs DuckDB native PIVOT; declaring the
    // values keeps the plan a single two-phase agg, no distinct-scan).
    Q("q_pivot",
      """SELECT user_id,
        |  COALESCE(purchase, 0) AS purchase_n, COALESCE(click, 0) AS click_n
        |FROM (PIVOT (SELECT user_id, event_type FROM events
        |             WHERE event_type IN ('purchase','click'))
        |      ON event_type USING count(*) GROUP BY user_id)""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy("user_id")
        .pivot("event_type", Seq("purchase", "click"))
        .count()
        .select(col("user_id"),
          coalesce(col("purchase"), lit(0L)).as("purchase_n"),
          coalesce(col("click"), lit(0L)).as("click_n"))
    },

    // 2-D skyline / Pareto frontier: orders not dominated on (cheaper,
    // later). TWO-PHASE (the distributed-skyline staple): each partition
    // computes its local frontier first — a globally non-dominated row
    // is non-dominated in whichever partition it lands in, so the local
    // pass is lossless however the input is partitioned — and only the
    // tiny survivor set goes through the global sorted-window pass. At
    // 100 TB the full input is never globally sorted; the oracle is the
    // plain single-pass form, checking the two-phase plan is lossless.
    Q("q_skyline",
      """WITH s AS (SELECT o_orderkey, o_totalprice,
        |    epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS d_ms,
        |    max(epoch_ms(CAST(o_orderdate AS TIMESTAMP))) OVER (
        |      ORDER BY o_totalprice, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice, d_ms
        |FROM s WHERE best_prev IS NULL OR d_ms > best_prev""".stripMargin) { (s, dir) =>
      val spark = s
      import spark.implicits._
      val pts = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          // NTZ parquet timestamp -> TZ timestamp is exact under the
          // session's fixed UTC
          unix_millis(col("o_orderdate").cast("timestamp")).as("d_ms"))
        .as[(Long, Double, Long)]
      // phase 1: per-partition local frontier (sort the partition, keep
      // rows whose date beats the running max of everything cheaper)
      val local = pts.mapPartitions { it =>
        val rows = it.toArray.sortBy(r => (r._2, r._1))
        var best = Long.MinValue
        rows.iterator.filter { r =>
          val keep = r._3 > best
          if (keep) best = r._3
          keep
        }
      }.toDF("o_orderkey", "o_totalprice", "d_ms")
      // phase 2: the exact single-pass frontier over the survivors
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      local
        .withColumn("best_prev", max("d_ms").over(w))
        .filter(col("best_prev").isNull || col("d_ms") > col("best_prev"))
        .select("o_orderkey", "o_totalprice", "d_ms")
    },

    // 2-D histogram (heatmap binning): order-month x price-decile
    // counts — the aggregation shape behind density heatmaps. Integer
    // binning on both axes (exact in both engines), one partial-agg
    // shuffle on the (bin, bin) pair.
    Q("q_histogram2d",
      """SELECT CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(floor(o_totalprice / 60000) AS INT) AS price_bin,
        |  count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(
          month(col("o_orderdate")).as("m"),
          floor(col("o_totalprice") / 60000).cast("int").as("price_bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("sum_price"))
    },

    // Pearson correlation + covariance per group from EXACT decimal
    // moments (n, Sx, Sy, Sxx, Syy, Sxy) — the engines' streaming corr()
    // implementations are order-dependent; spelled from order-independent
    // decimal sums the result is bit-identical, same rule as dstd.
    Q("q_corr",
      """SELECT l_returnflag,
        |  ROUND((n * sxy - sx * sy)
        |        / sqrt(greatest(n * sxx - sx * sx, 0.0)
        |               * greatest(n * syy - sy * sy, 0.0)), 6) AS corr_qp,
        |  ROUND((sxy - sx * sy / n) / (n - 1), 4) AS covar_qp
        |FROM (SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)""".stripMargin) { (s, dir) =>
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum8(x).as("sx"), dsum8(y).as("sy"),
          dsum8(x * x).as("sxx"), dsum8(y * y).as("syy"),
          dsum8(x * y).as("sxy"))
        .select(col("l_returnflag"),
          // variance terms clamp at 0 like dstd: ulp-negative under
          // cancellation would hard-error DuckDB's sqrt and NaN Spark's
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / sqrt(greatest(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0))
              * greatest(col("n") * col("syy") - col("sy") * col("sy"), lit(0.0))), 6).as("corr_qp"),
          round((col("sxy") - col("sx") * col("sy") / col("n"))
            / (col("n") - 1), 4).as("covar_qp"))
    },

    // Calendar function battery: year/quarter/month/ISO week, day
    // arithmetic, formatted rendering. Engines' calendars disagree in
    // the corners (week numbering, dow origin) — this row pins the
    // subset where they must agree, spelled identically on both sides.
    // Pure projection: fuses into the scan, zero shuffle.
    Q("q_date_funcs",
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m, CAST(isoyear(o_orderdate) AS INT) AS iso_y,
        |  CAST(week(o_orderdate) AS INT) AS iso_w,
        |  CAST(date_diff('day', DATE '1995-01-01',
        |                 CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due
        |FROM orders WHERE o_orderkey % 37 = 0""".stripMargin) { (s, dir) =>
      val d = col("o_orderdate")
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 37 === 0)
        .select(col("o_orderkey"),
          year(d).as("y"), quarter(d).as("q"), month(d).as("m"),
          // Spark has no isoyear(); derive it from the ISO week's Thursday
          year(next_day(date_sub(d.cast("date"), 4), "Thu")).as("iso_y"),
          weekofyear(d).as("iso_w"),
          datediff(d.cast("date"), lit("1995-01-01").cast("date")).as("days_since"),
          date_format(date_add(d.cast("date"), 30), "yyyy-MM-dd").as("due"))
    },

    // Ordered string aggregation (group_concat): deterministic because
    // both sides sort the collected values before joining — an UNSORTED
    // string_agg is engine- and partition-order-dependent, the same
    // determinism rule as top-k tiebreakers.
    Q("q_group_concat",
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  count(DISTINCT o_orderstatus) AS n_statuses
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
          countDistinct(col("o_orderstatus")).as("n_statuses"))
    },

    // UNPIVOT (q_pivot's inverse): wide per-user step counts back to
    // (user, step, n) long form. Row-local reshape — each input row
    // expands to a fixed set of output rows, no shuffle beyond the
    // upstream aggregation.
    Q("q_unpivot",
      """WITH wide AS (SELECT user_id,
        |    COALESCE(purchase, 0) AS purchase_n, COALESCE(click, 0) AS click_n
        |  FROM (PIVOT (SELECT user_id, event_type FROM events
        |               WHERE event_type IN ('purchase','click'))
        |        ON event_type USING count(*) GROUP BY user_id))
        |SELECT user_id, step, n
        |FROM wide UNPIVOT (n FOR step IN (purchase_n, click_n))""".stripMargin) { (s, dir) =>
      val wide = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy("user_id")
        .pivot("event_type", Seq("purchase", "click"))
        .count()
        .select(col("user_id"),
          coalesce(col("purchase"), lit(0L)).as("purchase_n"),
          coalesce(col("click"), lit(0L)).as("click_n"))
      wide.unpivot(
        ids = Array(col("user_id")),
        values = Array(col("purchase_n"), col("click_n")),
        variableColumnName = "step",
        valueColumnName = "n")
    },

    // Correlated scalar subquery (decorrelated by Catalyst into a join).
    Q("q_scalar_subquery",
      """SELECT o_orderkey,
        |  ROUND(o_totalprice - (SELECT CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,4))),0) AS DOUBLE)
        |                        FROM lineitem WHERE l_orderkey = o_orderkey), 4) AS delta
        |FROM orders WHERE o_totalprice > 400000""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderkey,
          |  ROUND(o_totalprice - (SELECT CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,4))),0) AS DOUBLE)
          |                        FROM lineitem WHERE l_orderkey = o_orderkey), 4) AS delta
          |FROM orders WHERE o_totalprice > 400000""".stripMargin)
    },

    // Exact distinct aggregation (expand + two-phase agg in Spark).
    Q("q_distinct",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    },

    // HLL approximate distinct — the 100TB-scale path. HLL sketches differ
    // across engines, so the VALUE has no DuckDB oracle; what IS exactly
    // checkable is the mergeable-sketch contract the 100 TB posture rests
    // on: HLL++ register merge is commutative/associative/idempotent, so
    // the estimate must be a pure function of the value SET — identical
    // under any partitioning. The row computes the same sketch under two
    // different layouts (hash-partitioned by the counted key vs
    // round-robin) and gates equality, plus positivity; the oracle expects
    // literal 1s (round-8 verdict: zero `err` rows). The VALUE-accuracy
    // envelope lives in the q_approx_distinct_bounds twin.
    Q("q_approx_distinct",
      """SELECT l_returnflag, 1 AS merge_stable_ok, 1 AS positive_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"))
      val a1 = li.repartition(4, col("l_partkey"))
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a1"))
      val a2 = li.repartition(13)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a2"))
        .withColumnRenamed("l_returnflag", "rf")
      a1.join(broadcast(a2), col("l_returnflag") === col("rf"))
        .select(col("l_returnflag"),
          (col("a1") === col("a2")).cast("int").as("merge_stable_ok"),
          (col("a1") > 0).cast("int").as("positive_ok"))
    },

    // HLL quality gate on the driver board (same pattern as
    // q_approx_percentile_bounds): rsd=0.02 must stay within a 10%
    // envelope of the exact distinct count per group.
    Q("q_approx_distinct_bounds",
      "SELECT l_returnflag, 1 AS nd_ok FROM lineitem GROUP BY l_returnflag") {
      (s, dir) =>
        Tables.load(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a"),
            countDistinct(col("l_partkey")).as("e"))
          .select(col("l_returnflag"),
            (abs(col("a") - col("e")) <= col("e") * 0.1).cast("int").as("nd_ok"))
    },

    // Mergeable Misra-Gries heavy hitters over the document token stream
    // — the bounded-memory approximate top-k for vocabularies that don't
    // fit anywhere (the sketch twin of the exact two-phase
    // tx_topk_ngrams, like q_approx_distinct is to q_distinct). Counter
    // VALUES are partition-layout-dependent, but the sketch's coverage
    // guarantee is deterministic: with capacity c over N tokens, EVERY
    // token whose exact count exceeds N/(c+1) must be in the summary. So
    // the row emits exactly those guaranteed-heavy tokens — restricted to
    // the sketch's reported set via an inner join, with their EXACT counts
    // — which DuckDB reproduces from first principles (round-8 verdict:
    // zero `err` rows). A coverage bug drops rows -> hash/row mismatch ->
    // red. The error-bound side of the contract stays in
    // q_approx_topk_bounds below.
    Q("q_approx_topk",
      """WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
        |    t -> t <> '')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT c.w, c.n FROM c, tot WHERE c.n > tot.total // 65""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      // capacity 64: the guarantee bound N/(c+1) then admits ~30 tokens at
      // BOTH sf0.01 and sf0.1 (cap 28 admitted zero at sf0.1, a vacuous
      // gate); the error-bound twin below keeps its own capacity
      val cap = 64
      // three passes consume the exploded stream (summarize, count, the
      // returned groupBy) — one tracked cache instead of three scans
      val toksDf = graft.operators.TextOps.trackCache(
        Tables.load(s, dir, "documents")
          .select(explode(graft.operators.TextOps.tokens(col("text"))).as("w")))
      val sketch = graft.operators.SpaceSaving.summarize(toksDf.as[String], cap)
      // sorted before embedding: treeAggregate merges partials in arrival
      // order and MG trims on every merge, so the summary's MARGINAL keys
      // (not the guaranteed-heavy ones the bound filter keeps) can differ
      // between same-code runs — unsorted they would also churn the plan
      // literal's rendering order. Bench.normalizePlan additionally
      // collapses long flat literal lists so residual marginal-key churn
      // can't move this row's fingerprint (round-9 advice).
      val reported = typedLit(sketch.keys.toSeq.sorted)
      val n = toksDf.count()
      val bound = n / (cap + 1)
      toksDf.groupBy("w").agg(count(lit(1)).as("n"))
        .filter(col("n") > bound && array_contains(reported, col("w")))
    },

    // MG quality gate on the driver board (same literal-1 pattern as
    // q_approx_distinct_bounds): with capacity c over N tokens, every
    // reported estimate must satisfy 0 <= exact - est <= N/(c+1)
    // (undercount only, bounded), and every token with exact count
    // above N/(c+1) must be present in the summary.
    Q("q_approx_topk_bounds",
      "SELECT 1 AS error_ok, 1 AS coverage_ok") { (s, dir) =>
      import s.implicits._
      val cap = 28
      val toksDf = Tables.load(s, dir, "documents")
        .select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
      val sketch = graft.operators.SpaceSaving.summarize(toksDf.as[String], cap)
      val exact = toksDf.groupBy("w").agg(count(lit(1)).as("n"))
      val n = toksDf.count()
      val bound = n / (cap + 1)
      val est = typedLit(sketch)
      val flags = exact.select(
        col("n"), element_at(est, col("w")).as("est"))
      val gate = flags.agg(
        min(when(col("est").isNull, 1)
          .otherwise((col("n") >= col("est") && col("n") - col("est") <= bound)
            .cast("int"))).as("error_ok"),
        min(when(col("n") > bound, col("est").isNotNull.cast("int"))
          .otherwise(1)).as("coverage_ok"))
      gate
    },

    // Count-min sketch (Cormode-Muthukrishnan) — completes the sketch
    // quartet (HLL distinct / Misra-Gries top-k / Bloom membership /
    // CMS frequency) and, unlike the engine-state sketches, is a FULL
    // hash row: every hash is md5-derived, so the 2x8 counter grid
    // and the min-over-rows estimates replay exactly in SQL. Checked
    // property is the CMS contract — est >= exact always, overcount =
    // collision mass, never negative. The grid is sized 2x8 AGAINST the
    // fixture's 31-word vocabulary (the SpaceSaving capacity-28 move) so
    // collisions survive the row-min and the overcount column is
    // non-vacuous; production sizing just widens w. Scale shape: one
    // vocab-sized aggregate, a grid-cell shuffle, then broadcast joins
    // for the audited top-20 — the corpus is scanned once.
    Q("q_approx_cms",
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
        |    x -> x <> '')) AS w FROM documents),
        |wc AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |hashed AS (SELECT w, c, d.d AS d,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(CAST(d.d AS VARCHAR) || ':' || w),
        |                    CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) % 8 AS b
        |  FROM wc CROSS JOIN (SELECT unnest(range(0, 2)) AS d) d),
        |counters AS (SELECT d, b, CAST(sum(c) AS BIGINT) AS cell
        |  FROM hashed GROUP BY 1, 2),
        |top AS (SELECT w, c AS exact FROM wc ORDER BY c DESC, w LIMIT 20),
        |est AS (SELECT h.w, t.exact, min(cell) AS est
        |  FROM hashed h JOIN top t ON h.w = t.w
        |  JOIN counters ct ON ct.d = h.d AND ct.b = h.b
        |  GROUP BY 1, 2)
        |SELECT w, exact, est, est - exact AS overcount FROM est""".stripMargin) {
      (s, dir) =>
      val wc = Tables.load(s, dir, "documents")
        .select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .transform(graft.operators.TextOps.trackCache)
      val hashed = wc.select(col("w"), col("c"),
        posexplode(array((0 until 2).map(d =>
          conv(substring(md5(concat(lit(s"$d:"), col("w"))), 1, 8), 16, 10)
            .cast("long") % 8): _*)).as(Seq("d", "b")))
      val counters = hashed.groupBy("d", "b").agg(sum("c").as("cell"))
      val top = wc.orderBy(col("c").desc, col("w")).limit(20)
        .select(col("w"), col("c").as("exact"))
      hashed.join(broadcast(top), "w")
        .join(broadcast(counters), Seq("d", "b"))
        .groupBy("w", "exact").agg(min("cell").as("est"))
        .select(col("w"), col("exact"), col("est"),
          (col("est") - col("exact")).as("overcount"))
    },

    // Chi-square independence test over the event_type × day-of-week
    // contingency table — the statistical gate behind "is behavior
    // day-dependent?". Day buckets are integer epoch-day pmod 7 (no
    // timezone/locale dow semantics to disagree on; pmod pins the
    // 7-bucket domain even for pre-epoch timestamps, where truncating
    // %7 would mint negative buckets in both engines — round-12
    // review). The table is COMPLETED to the full type × dow cross
    // product before summing: a textbook chi-square charges a
    // zero-observed cell its whole expected count e, and building the
    // table from observed groups alone silently dropped those terms in
    // BOTH dialects (hash-green understatement; the fixture happens to
    // populate all 35 cells). Expected counts are row_total ×
    // col_total / N in doubles, per-cell terms sum through
    // DECIMAL(28,8) so the statistic is order-independent and
    // engine-exact. One shuffle onto the bounded (type, day) key; the
    // completion cross-joins two broadcast-size dimension lists.
    Q("q_chi2",
      """WITH c0 AS (SELECT event_type,
        |    ((epoch_us(ts) // 86400000000) % 7 + 7) % 7 AS dow,
        |    count(*) AS o FROM events GROUP BY 1, 2),
        |tt AS (SELECT DISTINCT event_type FROM c0),
        |dd AS (SELECT DISTINCT dow FROM c0),
        |c AS (SELECT tt.event_type, dd.dow, coalesce(c0.o, 0) AS o
        |  FROM tt CROSS JOIN dd
        |  LEFT JOIN c0 ON c0.event_type = tt.event_type AND c0.dow = dd.dow),
        |rt AS (SELECT event_type, SUM(o) AS r FROM c GROUP BY 1),
        |ct AS (SELECT dow, SUM(o) AS cl FROM c GROUP BY 1),
        |n AS (SELECT SUM(o) AS n FROM c)
        |SELECT round(CAST(SUM(CAST(
        |    (c.o - rt.r * ct.cl * 1.0 / n.n) * (c.o - rt.r * ct.cl * 1.0 / n.n)
        |      / (rt.r * ct.cl * 1.0 / n.n) AS DECIMAL(28,8))) AS DOUBLE), 6) AS chi2,
        |  CAST((count(DISTINCT c.event_type) - 1)
        |    * (count(DISTINCT c.dow) - 1) AS BIGINT) AS df
        |FROM c JOIN rt ON c.event_type = rt.event_type
        |  JOIN ct ON c.dow = ct.dow CROSS JOIN n""".stripMargin) { (s, dir) =>
      val c0 = Tables.load(s, dir, "events")
        .withColumn("dow", expr("pmod(unix_micros(ts) div 86400000000, 7)"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
        .transform(graft.operators.TextOps.trackCache)
      val tt = c0.select("event_type").distinct()
      val dd = c0.select("dow").distinct()
      val c = tt.crossJoin(broadcast(dd))
        .join(c0, Seq("event_type", "dow"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .transform(graft.operators.TextOps.trackCache)
      val rt = c.groupBy("event_type").agg(sum("o").as("r"))
      val ct = c.groupBy("dow").agg(sum("o").as("cl"))
      val n = c.agg(sum("o").as("n"))
      val e = col("r") * col("cl") * lit(1.0) / col("n")
      c.join(broadcast(rt), Seq("event_type"))
        .join(broadcast(ct), Seq("dow"))
        .crossJoin(broadcast(n))
        .agg(
          round(sum(((col("o") - e) * (col("o") - e) / e)
            .cast(DecimalType(28, 8))).cast("double"), 6).as("chi2"),
          ((countDistinct(col("event_type")) - 1) *
            (countDistinct(col("dow")) - 1)).as("df"))
    },

    // HLL sketch MERGE gate — the property that makes approximate
    // distinct usable at 100 TB: sketches stored per group (per
    // partition, per day) and union-merged at query time. Union is a
    // register-wise max, so merging the SAME rows under two DIFFERENT
    // groupings must estimate identically (partition invariance — the
    // re-aggregation guarantee; note a direct one-pass sketch may differ
    // slightly, it keeps the HIP estimator that union legitimately
    // drops), and the merged estimate must land inside the rsd envelope
    // of the exact count. In-plan flags, literal-1 oracle
    // (q_approx_*_bounds pattern).
    Q("q_hll_merge_bounds",
      "SELECT 1 AS merge_invariant, 1 AS err_ok") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      def mergedBy(key: String) = li.groupBy(key)
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      val m1 = mergedBy("l_returnflag").toDF("m1")
      val m2 = mergedBy("l_linestatus").toDF("m2")
      val g = li.agg(countDistinct(col("l_partkey")).as("exact"))
      m1.crossJoin(m2).crossJoin(g).select(
        (col("m1") === col("m2")).cast("int").as("merge_invariant"),
        (abs(col("m1") - col("exact")) <= col("exact") * 0.1)
          .cast("int").as("err_ok"))
    },

    // Per-node triangle count over the co-purchase graph (parts sharing
    // an order), with DEGREE-ORIENTED wedge enumeration (Schank-Wagner
    // node-iterator, public algorithm): edges direct from the
    // (degree, id)-smaller endpoint, so every triangle is enumerated
    // exactly once from its lowest-degree vertex and wedge work is
    // O(E^1.5) instead of sum-of-degree-squared. Edges carry FRACTIONAL
    // SUPPORT (pairs co-ordered >= max(2, |orders|/75k) times — the
    // association-mining threshold): co-occurrence graphs densify as
    // facts grow against a fixed dimension, so an absolute threshold
    // melts at 10x (measured: 27 s for the unthresholded graph at 10x,
    // sub-second thresholded) while the fractional one keeps exactly
    // the statistically associated edges at every volume. Edge build
    // shuffles on the bounded-width orderkey; the degree table is
    // |parts| rows, broadcast into the orientation.
    Q("q_triangles",
      """WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
        |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
        |deg AS (SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
        |  GROUP BY node),
        |d AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
        |         THEN a ELSE b END AS src,
        |       CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
        |         THEN b ELSE a END AS dst
        |  FROM e0 JOIN deg da ON e0.a = da.node JOIN deg db ON e0.b = db.node),
        |t AS (SELECT w1.src AS x, w1.dst AS y, w2.dst AS z
        |  FROM d w1 JOIN d w2 ON w1.src = w2.src AND w1.dst <> w2.dst
        |  JOIN d e ON e.src = w1.dst AND e.dst = w2.dst)
        |SELECT node, count(*) AS n_tri FROM (
        |  SELECT x AS node FROM t UNION ALL SELECT y AS node FROM t
        |  UNION ALL SELECT z AS node FROM t)
        |GROUP BY node""".stripMargin) { (s, dir) =>
      val e0 = copurchaseEdges(s, dir)
      // consumed by BOTH degree broadcasts below — tracked-cached so the
      // degree aggregate runs once (round-14 optimization)
      val deg = e0.select(col("a").as("node"))
        .unionAll(e0.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .transform(graft.operators.TextOps.trackCache)
      val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
      val d = e0
        .join(broadcast(deg.select(col("node").as("a"), col("d").as("da"))), Seq("a"))
        .join(broadcast(deg.select(col("node").as("b"), col("d").as("db"))), Seq("b"))
        .select(when(fwd, col("a")).otherwise(col("b")).as("src"),
          when(fwd, col("b")).otherwise(col("a")).as("dst"))
        .transform(graft.operators.TextOps.trackCache)
      val t = d.as("w1")
        .join(d.as("w2"),
          col("w1.src") === col("w2.src") && col("w1.dst") =!= col("w2.dst"))
        .join(d.as("e"),
          col("e.src") === col("w1.dst") && col("e.dst") === col("w2.dst"))
        .select(col("w1.src").as("x"), col("w1.dst").as("y"), col("w2.dst").as("z"))
      t.select(col("x").as("node"))
        .unionAll(t.select(col("y").as("node")))
        .unionAll(t.select(col("z").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
    },

    // Degree distribution + CCDF of the co-purchase graph — the first
    // graph-health audit anyone runs (is it power-law? where does the
    // hub tail start?), and the input to the q_key_skew-style join
    // planning decision (a heavy-tailed degree histogram is the signal
    // to salt). All-integer: degree histogram plus nodes-with-degree>=d
    // via one cumulative window over the ~tens-of-rows histogram
    // (metadata-scale — the window never sees node-scale data). Edge
    // derivation is plan-identical to q_triangles'/v_kcore's, so the
    // cache registry serves all three from one copy.
    Q("v_degree_dist",
      """WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
        |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
        |deg AS (SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
        |  GROUP BY node),
        |h AS (SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY d)
        |SELECT degree, n_nodes,
        |  CAST(sum(n_nodes) OVER (ORDER BY degree DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ge
        |FROM h""".stripMargin) { (s, dir) =>
      val e0 = copurchaseEdges(s, dir)
      val deg = e0.select(col("a").as("node"))
        .unionAll(e0.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val w = Window.orderBy(col("degree").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deg.groupBy(col("d").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(col("degree"), col("n_nodes"),
          sum("n_nodes").over(w).as("n_ge"))
    },

    // 2-core peeling on the co-purchase graph (Seidman 1983; Batagelj-
    // Zaversnik peel): 3 unrolled rounds of "drop nodes with degree < 2,
    // keep edges whose endpoints both survive" — pendant trees prune
    // away round by round (sf0.01: 1595 -> 1565 -> 1562 survivors;
    // sf0.1: 1202 -> 216 -> 61, the sparser graph is mostly tree), so
    // the row is sensitive to the iteration at BOTH driver SFs (k = 3
    // empties at sf0.1 — vacuously green, tests nothing). Output:
    // surviving nodes and their degree after the final peel. The edge
    // derivation is plan-identical to q_triangles', so the LRU registry
    // shares one cached copy across both rows. Scale: each round is one
    // degree agg + two keyed semi-joins — the peel never materializes
    // anything denser than the edge list, and rounds-to-fixpoint is
    // bounded by the max coreness (small for co-occurrence graphs).
    Q("v_kcore",
      """WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
        |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
        |d1 AS (SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY node),
        |v1 AS (SELECT node FROM d1 WHERE d >= 2),
        |e1 AS (SELECT a, b FROM e0 JOIN v1 x ON e0.a = x.node JOIN v1 y ON e0.b = y.node),
        |d2 AS (SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY node),
        |v2 AS (SELECT node FROM d2 WHERE d >= 2),
        |e2 AS (SELECT a, b FROM e1 JOIN v2 x ON e1.a = x.node JOIN v2 y ON e1.b = y.node),
        |d3 AS (SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY node)
        |SELECT node, d FROM d3 WHERE d >= 2""".stripMargin) { (s, dir) =>
      var e = copurchaseEdges(s, dir)
      for (_ <- 1 to 2) {
        // joined against both edge endpoints — tracked-cached so each
        // round's survivor set is derived once (round-14 optimization)
        val v = e.select(col("a").as("node"))
          .unionAll(e.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("d"))
          .filter(col("d") >= 2).select("node")
          .transform(graft.operators.TextOps.trackCache)
        e = e
          .join(v.select(col("node").as("a")), "a")
          .join(v.select(col("node").as("b")), "b")
          .select("a", "b")
          .transform(graft.operators.TextOps.trackCache)
      }
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2)
    },

    // 3-hop BFS from the highest-degree node of the co-purchase graph
    // (reach/propagation analysis — "what does a recall on this part
    // touch within 3 supply hops"). Each unrolled round is the
    // dataflow-BFS step every distributed graph engine runs: join the
    // frontier to the edge list on the frontier key, dedup, anti-join
    // the visited set — per round one key shuffle, no driver state.
    // Shares the mined+cached edge set with v_kcore / q_triangles
    // (plan-identical derivation, one live copy via the cache registry).
    Q("v_bfs_hops",
      """WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
        |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
        |e AS (SELECT a AS src, b AS dst FROM e0
        |      UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
        |seed AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
        |h1 AS (SELECT DISTINCT dst AS node FROM e JOIN seed ON e.src = seed.node
        |  WHERE dst NOT IN (SELECT node FROM seed)),
        |h2 AS (SELECT DISTINCT dst AS node FROM e JOIN h1 ON e.src = h1.node
        |  WHERE dst NOT IN (SELECT node FROM seed)
        |    AND dst NOT IN (SELECT node FROM h1)),
        |h3 AS (SELECT DISTINCT dst AS node FROM e JOIN h2 ON e.src = h2.node
        |  WHERE dst NOT IN (SELECT node FROM seed)
        |    AND dst NOT IN (SELECT node FROM h1)
        |    AND dst NOT IN (SELECT node FROM h2))
        |SELECT node, 0 AS hop FROM seed
        |UNION ALL SELECT node, 1 FROM h1
        |UNION ALL SELECT node, 2 FROM h2
        |UNION ALL SELECT node, 3 FROM h3""".stripMargin) { (s, dir) =>
      val e0 = copurchaseEdges(s, dir)
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        .transform(graft.operators.TextOps.trackCache)
      val seed = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("node")).limit(1).select("node")
      var all = seed.withColumn("hop", lit(0))
      var frontier = seed
      for (h <- 1 to 3) {
        val next = e.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
          .join(all.select("node"), Seq("node"), "left_anti")
          .transform(graft.operators.TextOps.trackCache)
        all = all.unionAll(next.withColumn("hop", lit(h)))
        frontier = next
      }
      all
    },

    // GraphSAGE-style fixed-fanout neighbor sampling (Hamilton et al.
    // 2017) over the customer->part purchase graph: per seed customer,
    // sample 3 parts (hop 1), and per sampled part 3 customers (hop 2),
    // each pick ranked by a salted md5 so both engines draw the SAME
    // sample with zero RNG state — the minibatch neighborhood
    // construction a distributed GNN trainer runs per epoch. Per-layer
    // samples are per NODE (standard GraphSAGE: a node's sample is
    // shared across seeds that reach it). Scale posture (the round-10
    // sweep's 11.7x defect was a global distinct over the full 60M-pair
    // mass): ONE fact join builds the projected edge stream, and BOTH
    // hops run as native top-k aggregates straight over the raw
    // (non-distinct) pairs — TopKBuf has set semantics on (value, id),
    // so duplicate (c,p) observations collapse inside the O(k) buffer
    // and no pair-mass dedup, repartition, or sort ever happens. The
    // only full-mass shuffles are the join's own; every aggregate ships
    // k-entry partial buffers per (group, partition) — a bounded
    // tree-reduce that holds at any executor count.
    Q("v_neighbor_sample", {
      def mh(salt: String, a: String, b: String): String =
        s"md5('$salt' || CAST($a AS VARCHAR) || ':' || CAST($b AS VARCHAR))"
      // both hops rank by the first 13 md5 hex digits AS AN INTEGER
      // (52 bits — exact inside the native aggregate's double) with the
      // neighbor id as the tie-break
      def h13(salt: String, a: String, b: String): String =
        s"list_reduce(list_transform(range(1, 14), i -> CAST(strpos(" +
          s"'0123456789abcdef', substr(${mh(salt, a, b)}, CAST(i AS INT), 1))" +
          s" - 1 AS BIGINT)), (a, x) -> a * 16 + x)"
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |seeds AS (SELECT DISTINCT c AS seed FROM e
         |  WHERE substr(md5(CAST(c AS VARCHAR)), 1, 1) = '0'),
         |h1 AS (SELECT c, p FROM (
         |  SELECT c, p, row_number() OVER (PARTITION BY c
         |    ORDER BY ${h13("h1:", "c", "p")}, p) AS rn FROM e) t WHERE rn <= 3),
         |h2 AS (SELECT p, c FROM (
         |  SELECT p, c, row_number() OVER (PARTITION BY p
         |    ORDER BY ${h13("h2:", "p", "c")}, c) AS rn FROM e) t WHERE rn <= 3)
         |SELECT s.seed, h1.p AS hop1_part, h2.c AS hop2_cust
         |FROM seeds s JOIN h1 ON h1.c = s.seed JOIN h2 ON h2.p = h1.p""".stripMargin
    }) { (s0, dir) =>
      // Conf isolation (round-10 advice): the raised object-hash-agg
      // fallback threshold is read at EXECUTION time (after this lazy
      // builder returns), so a save/restore here could not scope it. An
      // isolated child session (shared SparkContext, SharedState,
      // CacheManager and graft rules; its own SQLConf) carries it only on
      // the frames built from it — every other row in a shared session
      // keeps the 128 default. 65536 covers hop-2's ~20k part groups per
      // map partition (its winning hash regime); hop-1's
      // ~seed-cardinality partials fall back to sort-based aggregation,
      // which is a PARTITION-LOCAL sort of already-pruned rows — exactly
      // the work a window would do, minus the full-mass shuffle.
      val s = graft.EngineSession.isolated(s0,
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536")
      // the projected (c, p) pair stream — consumed by both hops, so
      // tracked-cached ONCE (17 bytes/row; the persisted-edge-list
      // posture a GNN sampler has — never deduped, never re-shuffled).
      // The seed-filter digest nibble is materialized INTO the cached
      // frame (round-15, verdict task 8): the h1 branch's pushed
      // in-memory-scan filter and its re-evaluating Filter node each
      // computed md5(c) per row — precomputing the nibble at cache build
      // makes both a 1-char compare, one md5 per pair observation total.
      val eC = TextOps.trackCache(
        Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
          .join(Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_partkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"),
            substring(md5(col("o_custkey").cast("string")), 1, 1)
              .as("__sd")))
      def rank(salt: String, a: Column, b: Column): Column =
        -conv(substring(md5(concat(lit(salt), a.cast("string"), lit(":"),
          b.cast("string"))), 1, 13), 16, 10).cast("long").cast("double")
      def hopTopK(df: DataFrame, src: String, dst: String, salt: String,
          f: Int): DataFrame =
        df.select(col(src), rank(salt, col(src), col(dst)).as("nv"),
            col(dst))
          .groupBy(src)
          .agg(org.apache.spark.sql.graft.TopKAgg
            .topkEntries(col("nv"), col(dst), f).as("tk"))
          .select(col(src), explode(col("tk")).as("e"))
          .select(col(src), col("e.id").as(dst))
      // hop-1 reads only seed customers' adjacency (a node's sample is
      // a function of its own neighbor set, so the src filter is
      // equivalence-preserving and prunes 15/16 of the pairs)
      val h1 = hopTopK(
        eC.filter(col("__sd") === "0"),
        "c", "p", "h1:", 3)
      val h2 = hopTopK(eC, "p", "c", "h2:", 3)
        .select(col("p").as("p2"), col("c").as("hop2_cust"))
      h1.join(h2, col("p") === col("p2"))
        .select(col("c").as("seed"), col("p").as("hop1_part"),
          col("hop2_cust"))
    },

    // Deterministic random walks over the co-purchase graph — the
    // sampled-walk corpus prep behind DeepWalk/node2vec embeddings,
    // made bit-replayable: each step's neighbor pick is an md5 of
    // (seed, step, current) mod the node's degree over a rank-ordered
    // adjacency list, so both engines walk the SAME path with zero RNG
    // state. Per step the dataflow is one join on the node key against
    // the ranked-neighbor frame (built once: one window over src, the
    // same shuffle family the edge cache already has); a production
    // corpus runs millions of walks as MORE ROWS in the frontier frame,
    // not more rounds — the per-step shuffle count stays 1.
    Q("v_random_walk", {
      def h(seedE: String, t: Int, curE: String): String =
        s"list_reduce(list_transform(range(1, 9), i -> CAST(strpos(" +
          s"'0123456789abcdef', substr(md5(CAST($seedE AS VARCHAR) || ':$t:' " +
          s"|| CAST($curE AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)), " +
          s"(a, x) -> a * 16 + x)"
      s"""WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
         |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
         |e AS (SELECT a AS src, b AS dst FROM e0
         |      UNION ALL SELECT b, a FROM e0),
         |nb AS (SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
         |    count(*) OVER (PARTITION BY src) AS deg FROM e),
         |dg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
         |seeds AS (SELECT node AS seed FROM dg ORDER BY d DESC, node LIMIT 4),
         |w1 AS (SELECT s.seed, nb.dst AS cur FROM seeds s JOIN nb ON nb.src = s.seed
         |  WHERE nb.rn = ${h("s.seed", 1, "s.seed")} % nb.deg + 1),
         |w2 AS (SELECT w1.seed, nb.dst AS cur FROM w1 JOIN nb ON nb.src = w1.cur
         |  WHERE nb.rn = ${h("w1.seed", 2, "w1.cur")} % nb.deg + 1),
         |w3 AS (SELECT w2.seed, nb.dst AS cur FROM w2 JOIN nb ON nb.src = w2.cur
         |  WHERE nb.rn = ${h("w2.seed", 3, "w2.cur")} % nb.deg + 1)
         |SELECT seed, 0 AS step, seed AS node FROM seeds
         |UNION ALL SELECT seed, 1, cur FROM w1
         |UNION ALL SELECT seed, 2, cur FROM w2
         |UNION ALL SELECT seed, 3, cur FROM w3""".stripMargin
    }) { (s, dir) =>
      val e0 = copurchaseEdges(s, dir)
      val e = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        .transform(graft.operators.TextOps.trackCache)
      // tracked-cached: all 3 walk steps probe the same ranked adjacency
      val nb = e
        .withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy("dst")))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
        .transform(graft.operators.TextOps.trackCache)
      val seeds = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("node")).limit(4)
        .select(col("node").as("seed"))
      var cur = seeds.select(col("seed"), col("seed").as("cur"))
      var out = seeds.select(col("seed"), lit(0).as("step"), col("seed").as("node"))
      for (t <- 1 to 3) {
        val h = conv(substring(md5(concat(
          col("seed").cast("string"), lit(s":$t:"), col("cur").cast("string"))),
          1, 8), 16, 10).cast("long")
        // tracked-cached per step (round-14 optimization): the walk
        // output unions every step AND step t's subtree nests inside
        // step t+1's join, so an uncached frontier re-derives step 1
        // three times over (75 Exchanges in the before plan; the cached
        // v_bfs_hops frontier never had this). 4 rows per step.
        val nxt = cur.join(nb, col("cur") === col("src"))
          .filter(col("rn") === (h % col("deg")) + 1)
          .select(col("seed"), col("dst").as("cur"))
          .transform(graft.operators.TextOps.trackCache)
        out = out.unionAll(
          nxt.select(col("seed"), lit(t).as("step"), col("cur").as("node")))
        cur = nxt
      }
      out
    },

    // Join-key skew diagnostics — the table an operator reads BEFORE
    // picking a join strategy at 100 TB (salt? broadcast? AQE skew
    // hints?): per candidate key, cardinality, heaviest key's share,
    // and the Herfindahl concentration index. HHI is computed as
    // sum(c^2)/n^2 — ALL-integer sums, so it needs no sorted ECDF, no
    // window, no decimal: one hash aggregate per key column and a
    // 3-row union, exactly reproducible cross-engine at any scale.
    Q("q_key_skew",
      """WITH ka AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |kb AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |kc AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
        |m AS (
        |  SELECT 'lineitem.l_partkey' AS key_col, count(*) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_n,
        |    CAST(sum(c * c) AS BIGINT) AS sum_c2 FROM ka
        |  UNION ALL SELECT 'orders.o_custkey', count(*),
        |    CAST(sum(c) AS BIGINT), max(c), CAST(sum(c * c) AS BIGINT) FROM kb
        |  UNION ALL SELECT 'events.user_id', count(*),
        |    CAST(sum(c) AS BIGINT), max(c), CAST(sum(c * c) AS BIGINT) FROM kc)
        |SELECT key_col, n_keys, n_rows, max_n,
        |  round(max_n * 1.0 / n_rows, 8) AS top1_share_r,
        |  round(sum_c2 * 1.0 / (n_rows * n_rows), 8) AS hhi_r,
        |  round(n_rows * 1.0 / n_keys, 6) AS avg_n_r
        |FROM m""".stripMargin) { (s, dir) =>
      def prof(table: String, key: String): DataFrame =
        Tables.load(s, dir, table)
          .groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
            max(col("c")).as("max_n"), sum(col("c") * col("c")).as("sum_c2"))
          .select(lit(s"$table.$key").as("key_col"), col("n_keys"),
            col("n_rows"), col("max_n"), col("sum_c2"))
      prof("lineitem", "l_partkey")
        .unionAll(prof("orders", "o_custkey"))
        .unionAll(prof("events", "user_id"))
        .select(col("key_col"), col("n_keys"), col("n_rows"), col("max_n"),
          round(col("max_n") * lit(1.0) / col("n_rows"), 8).as("top1_share_r"),
          round(col("sum_c2") * lit(1.0) / (col("n_rows") * col("n_rows")), 8)
            .as("hhi_r"),
          round(col("n_rows") * lit(1.0) / col("n_keys"), 6).as("avg_n_r"))
    },

    // Value-RANGE window frame (vs the rows-frames in q_window_funcs):
    // per customer, aggregate over all orders within 1000 price units
    // below the current row. Peers enter the frame wholly, so the result
    // is deterministic without a unique tiebreaker; the sum runs through
    // DECIMAL for order-independence.
    Q("q_window_range",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum,
        |  COUNT(*) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS near_n
        |FROM orders WHERE o_totalprice > 400000""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
        .rangeBetween(-1000, Window.currentRow)
      Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double").as("near_sum"),
          count(lit(1)).over(w).as("near_n"))
    },

    // Per-group MODE with an explicit deterministic tie policy (highest
    // count, then smallest value) — engines' built-in mode() functions
    // leave ties unspecified, so both sides spell the policy out.
    Q("q_mode",
      """WITH c AS (SELECT l_returnflag, l_quantity AS v, count(*) AS n
        |           FROM lineitem GROUP BY l_returnflag, l_quantity)
        |SELECT l_returnflag, v AS mode_qty, n FROM (
        |  SELECT l_returnflag, v, n,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, v) AS rn
        |  FROM c) t WHERE rn = 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("l_returnflag").orderBy(col("n").desc, col("v"))
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("v").as("mode_qty"), col("n"))
    },

    // Full global sort (no limit): plans as a range-partitioning Exchange
    // + per-partition Sort — the scalable total-order operator (TopK uses
    // TakeOrdered instead and never materializes a global order).
    Q("q_sort_global",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 450000
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // Deterministic global top-k: total order with unique tiebreaker,
    // through the dispatcher's global entry (TakeOrderedAndProject pin +
    // the topKSortFallbackThreshold guard).
    Q("q_topk",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      graft.operators.TopKDispatch.globalTopK(
        Tables.load(s, dir, "orders"),
        10, col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
    },

    // Per-group top-k on the HIGH-cardinality regime (per-customer),
    // routed through the regime DISPATCHER like q_topk_dispatch (round-11
    // verdict task 6: no hand-picked window-vs-native renderings left) —
    // the probe measures ~N/10 custkeys over N orders, far above the
    // shuffled-mass threshold at every fixture scale, so the pick is the
    // ranking window here, and it stays measured rather than assumed.
    // (o_totalprice, o_orderkey) pairs are unique per customer, so the
    // dispatcher's distinct-pair contract renders the same rows as plain
    // ROW_NUMBER in the oracle.
    Q("q_topk_group",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val (out, _) = graft.operators.TopKDispatch.perGroupTopK(
        Tables.load(s, dir, "orders").select(
          "o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"), "o_totalprice", "o_orderkey", 3)
      out.select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },

    // Per-group top-k through the NATIVE TopKAgg aggregate
    // (TypedImperativeAggregate, O(k) primitive-array state/group — the
    // KmvAgg sibling for order statistics), on the LOW-cardinality
    // regime where the rendering choice decides scalability: a ranking
    // window over 15 (status, priority) groups would shuffle the whole
    // fact onto 15 partitions and sort each, no matter how many
    // executors exist; the aggregate is a near-stateless scan whose
    // shuffle carries one k-entry buffer per (group, partition)
    // (TopKProbe at 100x: 0.32 s vs the window's 1.40 s, and the gap is
    // structural). q_topk_group keeps the window rendering for the
    // HIGH-cardinality per-customer regime, where the per-partition
    // sort has the better constant — right rendering per regime. The
    // oracle replays the ranking bit-exactly because the
    // (value DESC, id ASC) tie-break makes the result a pure function
    // of the input set.
    Q("q_topk_native",
      """SELECT o_orderstatus, o_orderpriority, CAST(rn AS INT) AS rn,
        |  o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus, o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 5""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(org.apache.spark.sql.graft.TopKAgg
          .topkEntries(col("o_totalprice"), col("o_orderkey"), 5).as("tk"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          posexplode(col("tk")))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          (col("pos") + 1).cast("int").as("rn"),
          col("col.id").as("o_orderkey"), col("col.value").as("o_totalprice"))
    },

    // Per-group top-k through the REGIME DISPATCHER (round-10 verdict
    // task 2: the window-vs-native choice must be code, not scaladoc).
    // TopKDispatch estimates the group cardinality (catalog stats when
    // ANALYZE has run, else one metadata-scale count+approx_count_distinct
    // probe) and picks the rendering by the shuffled-mass model
    // `groups <= rows/(k*shufflePartitions)` — here ~12 event types over
    // the events fact lands in the native aggregate's bounded-tree-reduce
    // regime at every SF, so the plan is stable for the pin while the
    // decision stays measured, not hard-coded. Output is identical under
    // either rendering (TopKDispatchSpec pins row-set equality incl.
    // duplicate-pair/NaN/-0.0 frames), so a regime flip at some future
    // fixture can never change answers. The oracle states the
    // dispatcher's contract EXPLICITLY — top-k over the DISTINCT
    // non-null non-NaN pairs with -0.0 folded to +0.0 (TopKAgg's set
    // semantics) — rather than relying on the fixture's unique event
    // ids to make plain ROW_NUMBER agree.
    Q("q_topk_dispatch",
      """SELECT event_type, CAST(rn AS INT) AS rn, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM (SELECT DISTINCT event_type, event_id,
        |          CASE WHEN value = 0 THEN 0.0 ELSE value END AS value
        |        FROM events WHERE value IS NOT NULL
        |          AND event_id IS NOT NULL AND NOT isnan(value)) u
        |  ) t WHERE rn <= 4""".stripMargin) { (s, dir) =>
      val in = Tables.load(s, dir, "events")
        .filter(col("value").isNotNull && col("event_id").isNotNull)
        .select("event_type", "event_id", "value")
      val (out, _) = graft.operators.TopKDispatch.perGroupTopK(
        in, Seq("event_type"), "value", "event_id", 4)
      out
    },

    // Window-function battery: rank/dense_rank/lag/lead/ntile + running sum.
    Q("q_window_funcs",
      """SELECT o_orderkey, o_custkey,
        |  RANK() OVER w AS rnk,
        |  DENSE_RANK() OVER w AS drnk,
        |  LAG(o_totalprice) OVER w AS prev_price,
        |  LEAD(o_totalprice) OVER w AS next_price,
        |  NTILE(4) OVER w AS quartile,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_custkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"))
    },

    // Set operations.
    Q("q_union",
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
        |UNION ALL
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000""".stripMargin) { (s, dir) =>
      val a = Tables.load(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("k"))
      val b = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("k"))
      a.unionAll(b)
    },

    Q("q_intersect",
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k")))
    },

    Q("q_except",
      """SELECT l_partkey AS k FROM lineitem
        |EXCEPT
        |SELECT p_partkey AS k FROM part WHERE p_size < 40""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem").select(col("l_partkey").as("k"))
        .except(Tables.load(s, dir, "part").filter(col("p_size") < 40)
          .select(col("p_partkey").as("k")))
    },

    // Window distribution functions (percent_rank/cume_dist/nth_value and
    // first/last over an explicit full-partition frame). Frames are spelled
    // out on both sides — engines disagree on value-function defaults.
    Q("q_window_dist",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cum_dist,
        |  first_value(o_totalprice) OVER wf AS lo_price,
        |  last_value(o_totalprice) OVER wf AS hi_price,
        |  nth_value(o_totalprice, 2) OVER wf AS second_price
        |FROM orders WHERE o_totalprice > 400000
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cum_dist"),
          first(col("o_totalprice")).over(wf).as("lo_price"),
          last(col("o_totalprice")).over(wf).as("hi_price"),
          nth_value(col("o_totalprice"), 2).over(wf).as("second_price"))
    },

    // Bloom-filter semi join: the build side collapses to an O(bytes)
    // sketch (BloomFilterAggregate — map-side partial sketches, one merge),
    // and the probe side is a pure scan filter in whole-stage codegen — the
    // semi join's shuffle/network cost disappears; at 100 TB this is the
    // runtime-filter pattern (ship the sketch, not the rows). The board row
    // is the verification gate: an exact semi join adjudicates that no true
    // match was dropped (blooms cannot false-negative) and that false
    // positives stay under the sized-for rate; the oracle pins the exact
    // count and expects both gates to hold.
    Q("q_bloom_semi",
      """SELECT (SELECT count(*) FROM lineitem WHERE l_orderkey IN
        |          (SELECT o_orderkey FROM orders WHERE o_totalprice > 500000)) AS n_exact,
        |  1 AS no_false_neg, 1 AS fp_ok""".stripMargin) { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 500000)
        .select(col("o_orderkey").as("k")).distinct()
      val li = Tables.load(s, dir, "lineitem")
      // build: one tiny aggregate over the filtered dimension; the sketch
      // (1 MiB for 1M est. items) is the only thing that leaves the stage
      val sketch = o.select(
        graft.functions.GraftFunctions.bloom_agg(col("k"), 1000000L, 8388608L).as("bf"))
        .head().getAs[Array[Byte]](0)
      val pass = graft.functions.GraftFunctions.bloom_might_contain(sketch, col("l_orderkey"))
      // gate: the exact key set joins WITHOUT a broadcast hint — the
      // filtered-orders side scales with the facts (~0.3% of orders),
      // so hinting it broadcast is the fact-scaled-broadcast-hint class
      // the 100x sweep's house rule forbids (it would collect GBs to
      // the driver at the 100 TB posture this row verifies the bloom
      // FOR); Catalyst still broadcasts it while it fits, and falls
      // back to a shuffle join when it doesn't
      li.join(o, li("l_orderkey") === o("k"), "left")
        .select(col("k").isNotNull.as("m"), pass.as("p"))
        .agg(
          sum(when(col("m"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("m") && !col("p"), 1L).otherwise(0L)).as("n_missed"),
          sum(when(col("p"), 1L).otherwise(0L)).as("n_passed"),
          count(lit(1)).as("n_total"))
        .select(
          col("n_exact"),
          (col("n_missed") === 0).cast("int").as("no_false_neg"),
          (col("n_passed") <= col("n_exact")
            + lit(0.05) * (col("n_total") - col("n_exact"))).cast("int").as("fp_ok"))
    },

    // Three-valued logic: NOT IN against a subquery CONTAINING NULLs
    // filters everything (x <> NULL is unknown), NOT IN with the NULLs
    // stripped is a plain anti join, NOT EXISTS is null-safe — three
    // different answers from three spellings of "not matched", and both
    // engines must agree on all of them. Spark plans the first as a
    // null-aware anti join (broadcast-only physical form) — which is
    // itself the scale lesson: on a 100 TB probe side spell it NOT
    // EXISTS, never NOT IN, or the planner is forced to broadcast.
    Q("q_null_semantics",
      """SELECT
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |     (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END
        |      FROM orders)) AS n_not_in_with_nulls,
        |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
        |     (SELECT o_custkey FROM orders WHERE o_orderkey % 97 <> 0)) AS n_not_in_clean,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |     (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_not_exists""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer").createOrReplaceTempView("__ns_customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("__ns_orders")
      s.sql(
        """SELECT
          |  (SELECT count(*) FROM __ns_customer WHERE c_custkey NOT IN
          |     (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END
          |      FROM __ns_orders)) AS n_not_in_with_nulls,
          |  (SELECT count(*) FROM __ns_customer WHERE c_custkey NOT IN
          |     (SELECT o_custkey FROM __ns_orders WHERE o_orderkey % 97 <> 0)) AS n_not_in_clean,
          |  (SELECT count(*) FROM __ns_customer c WHERE NOT EXISTS
          |     (SELECT 1 FROM __ns_orders o WHERE o.o_custkey = c.c_custkey)) AS n_not_exists""".stripMargin)
    },

    // Exact-moment stddev/variance per group (order-independent; see dstd).
    Q("q_stats",
      """SELECT l_returnflag,
        |  ROUND(SQRT(GREATEST((CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,8))) AS DOUBLE)
        |        - CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE)
        |          * CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) / COUNT(l_quantity))
        |        / (COUNT(l_quantity) - 1.0), 0.0)), 6) AS std_qty,
        |  CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
        |  CAST(MAX(l_quantity) AS DOUBLE) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(dstd(col("l_quantity")), 6).as("std_qty"),
          min(col("l_quantity")).cast("double").as("min_qty"),
          max(col("l_quantity")).cast("double").as("max_qty"))
    },

    // RFM quintile scoring (recency / frequency / monetary), the classic
    // customer-segmentation op. Quintiles are per-nation, not global — a
    // global ntile needs a single-partition window, which dies at scale;
    // per-nation keeps the window partitioned while the nation dimension
    // reaches the per-customer aggregate by broadcast. Monetary sums run
    // through DECIMAL (order-independent); every ntile ordering carries a
    // custkey tiebreak so both engines bucket identically.
    Q("q_rfm",
      """WITH cu AS (SELECT o_custkey, max(o_orderdate) AS last_order,
        |    count(*) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS mon
        |  FROM orders GROUP BY o_custkey),
        |j AS (SELECT c.c_custkey, c.c_nationkey, cu.last_order, cu.freq, cu.mon
        |  FROM cu JOIN customer c ON c.c_custkey = cu.o_custkey)
        |SELECT c_custkey, freq, round(mon, 4) AS monetary,
        |  ntile(5) OVER (PARTITION BY c_nationkey ORDER BY last_order, c_custkey) AS r_score,
        |  ntile(5) OVER (PARTITION BY c_nationkey ORDER BY freq, c_custkey) AS f_score,
        |  ntile(5) OVER (PARTITION BY c_nationkey ORDER BY mon, c_custkey) AS m_score
        |FROM j""".stripMargin) { (s, dir) =>
      val cu = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double").as("mon"))
      val j = cu.join(
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        col("c_custkey") === col("o_custkey"))
      def q(order: String) = ntile(5).over(
        Window.partitionBy("c_nationkey").orderBy(col(order), col("c_custkey")))
      j.select(col("c_custkey"), col("freq"), round(col("mon"), 4).as("monetary"),
        q("last_order").as("r_score"), q("freq").as("f_score"), q("mon").as("m_score"))
    },

    // Exact distinct counting through 64-bit bitmap words — the
    // roaring-bitmap/Iceberg-manifest trick, SQL-expressible: shard each
    // user id into (word = id div 32, bit = id mod 32; 32-bit words keep
    // the mask off BIGINT's sign bit in every engine), OR the bit masks
    // per (group, word) — map-side combinable, commutative — then
    // popcount-sum the words. Two cheap keyed aggregates replace a
    // countDistinct's dedup shuffle, and the word table IS a reusable
    // precomputed index (membership/intersection by AND, union by OR —
    // the q_mix_alloc/tx_contamination acceleration structure). The row
    // cross-checks the bitmap count against the engine's exact
    // count(DISTINCT) and emits per-group word-population stats.
    Q("q_bitmap_distinct",
      """WITH b AS (SELECT event_type, user_id // 32 AS w,
        |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS BIGINT) AS word
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, count(*) AS n_words,
        |    CAST(sum(bit_count(word)) AS BIGINT) AS n_bitmap,
        |    max(bit_count(word)) AS max_pop
        |  FROM b GROUP BY 1),
        |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
        |SELECT c.event_type, n_words, n_bitmap, max_pop, n_exact,
        |  CAST(n_bitmap = n_exact AS INT) AS bitmap_exact
        |FROM c JOIN x ON c.event_type = x.event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val words = ev
        .groupBy(col("event_type"), (col("user_id") / 32).cast("long").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))").as("word"))
      val c = words.groupBy("event_type")
        .agg(count(lit(1)).as("n_words"),
          sum(bit_count(col("word"))).as("n_bitmap"),
          max(bit_count(col("word"))).as("max_pop"))
      val x = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
      c.join(x, "event_type")
        .withColumn("bitmap_exact", (col("n_bitmap") === col("n_exact")).cast("int"))
    },

    // Community detection by synchronous label propagation (Raghavan et
    // al. 2007) over the co-purchase graph, 3 unrolled rounds. Each node
    // starts labelled with its own id; a round relabels every node with
    // its neighbours' most frequent label, ties broken toward the
    // SMALLEST label — both choices make the sweep fully deterministic,
    // so the row hashes. One round = one key-shuffle join (neighbour
    // label lookup) + a two-level hash aggregate with the argmax ridden
    // on a lexicographic struct-min — map-side combinable, no window, no
    // driver state; per-round cost is O(E) however large the cluster.
    // Shares the mined+cached co-purchase edges with q_triangles/v_kcore
    // via the LRU plan registry. Output: every node's final label — the
    // most iteration-sensitive shape (community sizes would hash-match
    // under label permutation; per-node labels cannot).
    Q("v_lpa",
      """WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
        |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
        |d AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM d),
        |c1 AS (SELECT d.src AS node, l.lbl, count(*) AS c
        |  FROM d JOIN l0 l ON d.dst = l.node GROUP BY 1, 2),
        |l1 AS (SELECT node, min({'nc': -c, 'l': lbl}).l AS lbl FROM c1 GROUP BY node),
        |c2 AS (SELECT d.src AS node, l.lbl, count(*) AS c
        |  FROM d JOIN l1 l ON d.dst = l.node GROUP BY 1, 2),
        |l2 AS (SELECT node, min({'nc': -c, 'l': lbl}).l AS lbl FROM c2 GROUP BY node),
        |c3 AS (SELECT d.src AS node, l.lbl, count(*) AS c
        |  FROM d JOIN l2 l ON d.dst = l.node GROUP BY 1, 2)
        |SELECT node, min({'nc': -c, 'l': lbl}).l AS lbl FROM c3 GROUP BY node""".stripMargin) { (s, dir) =>
      val e0 = copurchaseEdges(s, dir)
      val d = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        .transform(graft.operators.TextOps.trackCache)
      var lbl = d.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      for (_ <- 1 to 3) {
        lbl = d
          .join(lbl.select(col("node").as("dst"), col("lbl")), "dst")
          .groupBy(col("src").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy("node")
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
            .getField("l").as("lbl"))
      }
      lbl
    },

    // Distributed ordinary least squares, closed form: price ~ quantity
    // + discount over lineitem. ONE map-side-combinable aggregate pass
    // collects the 9 normal-equation moments through DECIMAL(28,8) —
    // exact and order-independent, so the moment vector is
    // engine-identical however the scan is partitioned — then the 3x3
    // system solves by Cramer's rule in scalar double arithmetic (same
    // IEEE expression tree in both engines), coefficients and R^2
    // rounded to 6 dp. This is the textbook "big data, small model"
    // shape: at 100 TB the only communication is 9 numbers per
    // partition, and the solve is free. (MLlib's summarizer does the
    // same moment pass; here the whole chain is SQL-replayable.)
    Q("q_ols",
      """WITH m AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(28,8))) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(28,8))) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(28,8))) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS s2y,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS syy
        |  FROM lineitem),
        |d AS (SELECT n, s1, s2, sy, s1y, s2y, syy,
        |    n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM m)
        |SELECT n, round(det0 / det, 6) AS b0, round(det1 / det, 6) AS b1,
        |  round(det2 / det, 6) AS b2,
        |  round(1.0 - (syy - (det0 / det) * sy - (det1 / det) * s1y
        |                   - (det2 / det) * s2y)
        |            / (syy - sy * sy / n), 6) AS r2
        |FROM d""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val (q, dc, y) = (col("l_quantity"), col("l_discount"), col("l_extendedprice"))
      val mo = li.agg(count(lit(1)).as("n"), dsum8(q).as("s1"), dsum8(dc).as("s2"),
        dsum8(y).as("sy"), dsum8(q * q).as("s11"), dsum8(q * dc).as("s12"),
        dsum8(dc * dc).as("s22"), dsum8(q * y).as("s1y"), dsum8(dc * y).as("s2y"),
        dsum8(y * y).as("syy"))
      val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
      val det0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
        col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
        col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
      val det1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
        col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
        col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
      val det2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
        col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
        col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
      mo.withColumn("det", det)
        .withColumn("det0", det0).withColumn("det1", det1).withColumn("det2", det2)
        .select(col("n"),
          round(col("det0") / col("det"), 6).as("b0"),
          round(col("det1") / col("det"), 6).as("b1"),
          round(col("det2") / col("det"), 6).as("b2"),
          round(lit(1.0) - (col("syy") - (col("det0") / col("det")) * col("sy")
            - (col("det1") / col("det")) * col("s1y")
            - (col("det2") / col("det")) * col("s2y"))
            / (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"))
    },

    // One exact ALS half-step (Koren-Bell-Volinsky style, rank 2) over
    // implicit customer-part feedback: with item factors fixed at a
    // deterministic integer init, each user's factors solve the 2x2
    // ridge normal equations (A = ΣffT + λI, b = Σ f·r) in closed form
    // — the distributed-recommender shape where the ONLY communication
    // is k² + k integers per user (here 6), aggregated map-side. Every
    // matrix entry is an exact BIGINT; the final Cramer division is the
    // single double op, rounded 6 dp with the identical expression in
    // both engines. This is what a 1000-executor ALS iteration reduces
    // to per block: tiny dense solves over exact partial sums.
    Q("v_als_step",
      """WITH r AS (SELECT o.o_custkey AS c, l.l_partkey AS p, count(*) AS r
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |f AS (SELECT c, r.r, (p % 7) + 1 AS f1, (p % 5) + 1 AS f2 FROM r),
        |a AS (SELECT c, count(*) AS n_items,
        |    CAST(sum(f1 * f1) + 10 AS BIGINT) AS a11,
        |    CAST(sum(f1 * f2) AS BIGINT) AS a12,
        |    CAST(sum(f2 * f2) + 10 AS BIGINT) AS a22,
        |    CAST(sum(f1 * r) AS BIGINT) AS b1,
        |    CAST(sum(f2 * r) AS BIGINT) AS b2
        |  FROM f GROUP BY c)
        |SELECT c AS custkey, n_items,
        |  round((b1 * a22 - b2 * a12) * 1.0 / (a11 * a22 - a12 * a12), 6) AS u1,
        |  round((a11 * b2 - a12 * b1) * 1.0 / (a11 * a22 - a12 * a12), 6) AS u2
        |FROM a""".stripMargin) { (s, dir) =>
      val r = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .agg(count(lit(1)).as("r"))
      val f = r.select(col("c"), col("r"),
        (col("p") % 7 + 1).as("f1"), (col("p") % 5 + 1).as("f2"))
      val a = f.groupBy("c")
        .agg(count(lit(1)).as("n_items"),
          (sum(col("f1") * col("f1")) + 10).as("a11"),
          sum(col("f1") * col("f2")).as("a12"),
          (sum(col("f2") * col("f2")) + 10).as("a22"),
          sum(col("f1") * col("r")).as("b1"),
          sum(col("f2") * col("r")).as("b2"))
      val det = col("a11") * col("a22") - col("a12") * col("a12")
      a.select(col("c").as("custkey"), col("n_items"),
        round((col("b1") * col("a22") - col("b2") * col("a12")) * lit(1.0) / det, 6).as("u1"),
        round((col("a11") * col("b2") - col("a12") * col("b1")) * lit(1.0) / det, 6).as("u2"))
    },

    // HITS hubs & authorities (Kleinberg 1999) over the bipartite
    // customer->part purchase graph, two unrolled UNNORMALIZED rounds —
    // dropping the norm keeps every score an exact BIGINT (the ranking
    // is norm-invariant), so the full mutual-reinforcement chain
    // replays bit-identically cross-engine: auth1 = in-degree,
    // hub1 = per-customer sum of bought parts' auth1, auth2 =
    // per-part sum of buying customers' hub1. Each round is one keyed
    // equi-join + a partial-agg shuffle on a bounded key — the
    // power-iteration shape every distributed ranking engine runs.
    // The distinct edge list is tracked-cached across its three uses.
    Q("v_hits",
      """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |a1 AS (SELECT p, count(*) AS auth1 FROM e GROUP BY p),
        |h1 AS (SELECT e.c, CAST(sum(a1.auth1) AS BIGINT) AS hub1
        |  FROM e JOIN a1 ON e.p = a1.p GROUP BY e.c),
        |a2 AS (SELECT e.p, CAST(sum(h1.hub1) AS BIGINT) AS auth2
        |  FROM e JOIN h1 ON e.c = h1.c GROUP BY e.p)
        |SELECT a1.p AS part, a1.auth1, a2.auth2
        |FROM a1 JOIN a2 ON a1.p = a2.p""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.load(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .transform(graft.operators.TextOps.trackCache)
      // a1 feeds both the hub round and the final join — tracked-cached
      // so the in-degree aggregate runs once (round-14 optimization)
      val a1 = e.groupBy("p").agg(count(lit(1)).as("auth1"))
        .transform(graft.operators.TextOps.trackCache)
      val h1 = e.join(a1, "p").groupBy("c").agg(sum(col("auth1")).as("hub1"))
      val a2 = e.join(h1, "c").groupBy("p").agg(sum(col("hub1")).as("auth2"))
      a1.join(a2, "p").select(col("p").as("part"), col("auth1"), col("auth2"))
    },

    // Modularity audit of the v_lpa partition (Newman-Girvan Q, the
    // standard community-quality score): per community its size, its
    // internal edge count L_c and degree mass D_c, and the community's
    // contribution L_c/m - (D_c/2m)^2 at fixed 6-dp (floor(x*1e6+0.5) —
    // identical half-up in both engines). The label derivation is
    // plan-identical to v_lpa, so the LRU cache registry shares ONE
    // live copy of the edge table and the propagation rounds across
    // both rows — the "compute communities once, audit them many ways"
    // posture. The audit itself is two keyed joins against the label
    // table plus bounded per-label aggregates.
    Q("v_modularity",
      """WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
        |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
        |d AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM d),
        |c1 AS (SELECT d.src AS node, l.lbl, count(*) AS c
        |  FROM d JOIN l0 l ON d.dst = l.node GROUP BY 1, 2),
        |l1 AS (SELECT node, min({'nc': -c, 'l': lbl}).l AS lbl FROM c1 GROUP BY node),
        |c2 AS (SELECT d.src AS node, l.lbl, count(*) AS c
        |  FROM d JOIN l1 l ON d.dst = l.node GROUP BY 1, 2),
        |l2 AS (SELECT node, min({'nc': -c, 'l': lbl}).l AS lbl FROM c2 GROUP BY node),
        |c3 AS (SELECT d.src AS node, l.lbl, count(*) AS c
        |  FROM d JOIN l2 l ON d.dst = l.node GROUP BY 1, 2),
        |lf AS (SELECT node, min({'nc': -c, 'l': lbl}).l AS lbl FROM c3 GROUP BY node),
        |m AS (SELECT count(*) AS m FROM e0),
        |li AS (SELECT la.lbl, count(*) AS l_in
        |  FROM e0 JOIN lf la ON e0.a = la.node JOIN lf lb ON e0.b = lb.node
        |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
        |deg AS (SELECT src AS node, count(*) AS dg FROM d GROUP BY 1),
        |dm AS (SELECT lf.lbl, count(*) AS size, CAST(sum(deg.dg) AS BIGINT) AS d_sum
        |  FROM lf JOIN deg ON lf.node = deg.node GROUP BY lf.lbl)
        |SELECT dm.lbl AS label, dm.size, coalesce(li.l_in, 0) AS l_in, dm.d_sum,
        |  CAST(floor((coalesce(li.l_in, 0) * 1.0 / m.m
        |    - (dm.d_sum * 0.5 / m.m) * (dm.d_sum * 0.5 / m.m)) * 1e6 + 0.5) AS BIGINT)
        |    AS q_contrib_ppm
        |FROM dm LEFT JOIN li ON dm.lbl = li.lbl CROSS JOIN m""".stripMargin) { (s, dir) =>
      val e0 = copurchaseEdges(s, dir)
      val d = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        .transform(graft.operators.TextOps.trackCache)
      var lbl = d.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      for (_ <- 1 to 3) {
        lbl = d
          .join(lbl.select(col("node").as("dst"), col("lbl")), "dst")
          .groupBy(col("src").as("node"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy("node")
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
            .getField("l").as("lbl"))
      }
      lbl = lbl.transform(graft.operators.TextOps.trackCache)
      val m = e0.agg(count(lit(1)).as("m"))
      val li = e0
        .join(lbl.select(col("node").as("a"), col("lbl").as("la")), "a")
        .join(lbl.select(col("node").as("b"), col("lbl").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("l_in"))
      val deg = d.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
      val dm = lbl.join(deg, "node")
        .groupBy("lbl").agg(count(lit(1)).as("size"), sum(col("dg")).as("d_sum"))
      dm.join(li, Seq("lbl"), "left").crossJoin(broadcast(m))
        .select(col("lbl").as("label"), col("size"),
          coalesce(col("l_in"), lit(0L)).as("l_in"), col("d_sum"),
          floor((coalesce(col("l_in"), lit(0L)) * lit(1.0) / col("m")
            - (col("d_sum") * lit(0.5) / col("m")) * (col("d_sum") * lit(0.5) / col("m")))
            * lit(1e6) + lit(0.5)).cast("long").as("q_contrib_ppm"))
    },

    // Link prediction over the co-purchase graph (Liben-Nowell &
    // Kleinberg 2003): score NON-adjacent part pairs by common-neighbour
    // count, Jaccard of neighbourhoods, and preferential attachment —
    // the "customers who bought X also bought Y" candidate ranking.
    // Candidates are open wedges (neighbour pairs of each centre node,
    // a < b), existing edges removed by anti-join; Jaccard is kept in
    // exact INTEGER parts-per-million (cn*1e6 div (da+db-cn)) so the
    // ranking replays bit-identically cross-engine — no float division.
    // Degrees broadcast (|parts| rows); top-50 by (cn DESC, a, b) is a
    // TakeOrdered, not a global sort. Wedge work is sum-of-deg^2 like
    // the triangle row — bounded because the fractional-support edge
    // mining keeps hub degrees statistical, not promotional.
    Q("v_link_pred",
      """WITH ms AS (SELECT greatest(2, count(*) // 75000) AS minsup FROM orders),
        |e0 AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= (SELECT minsup FROM ms)),
        |d AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src AS node, count(*) AS dg FROM d GROUP BY 1),
        |w AS (SELECT n1.dst AS a, n2.dst AS b, count(*) AS cn
        |  FROM d n1 JOIN d n2 ON n1.src = n2.src AND n1.dst < n2.dst
        |  GROUP BY 1, 2),
        |nw AS (SELECT w.a, w.b, w.cn FROM w
        |  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = w.a AND e0.b = w.b)),
        |sc AS (SELECT nw.a, nw.b, cn, da.dg AS da, db.dg AS db,
        |    cn * 1000000 // (da.dg + db.dg - cn) AS jac_ppm,
        |    da.dg * db.dg AS pref_att
        |  FROM nw JOIN deg da ON nw.a = da.node JOIN deg db ON nw.b = db.node)
        |SELECT a, b, cn, jac_ppm, pref_att FROM sc
        |ORDER BY cn DESC, a, b LIMIT 50""".stripMargin) { (s, dir) =>
      val e0 = copurchaseEdges(s, dir)
      val d = e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst")))
        .transform(graft.operators.TextOps.trackCache)
      // consumed by BOTH degree broadcasts below — tracked-cached so the
      // degree aggregate runs once (round-14 optimization)
      val deg = d.groupBy(col("src").as("node")).agg(count(lit(1)).as("dg"))
        .transform(graft.operators.TextOps.trackCache)
      val w = d.as("n1").join(d.as("n2"),
          col("n1.src") === col("n2.src") && col("n1.dst") < col("n2.dst"))
        .groupBy(col("n1.dst").as("a"), col("n2.dst").as("b"))
        .agg(count(lit(1)).as("cn"))
      val nw = w.join(e0, Seq("a", "b"), "left_anti")
      nw
        .join(broadcast(deg.select(col("node").as("a"), col("dg").as("da"))), Seq("a"))
        .join(broadcast(deg.select(col("node").as("b"), col("dg").as("db"))), Seq("b"))
        .select(col("a"), col("b"), col("cn"),
          expr("(cn * 1000000) div (da + db - cn)").as("jac_ppm"),
          (col("da") * col("db")).as("pref_att"))
        .orderBy(col("cn").desc, col("a"), col("b"))
        .limit(50)
    },
  )

  /** Co-purchase edge list shared by q_triangles and v_kcore: undirected
    * (a < b) part pairs co-ordered at least max(2, |orders|/75k) times
    * (fractional support — an absolute threshold melts as facts grow
    * against the fixed part dimension). Tracked-cached with an identical
    * plan from both call sites, so the LRU registry keeps ONE live copy
    * however many graph queries run.
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
    // minsup stays a DRIVER-side literal from the orders row count
    // (counted once per fixture file by Tables): round-15 tried folding
    // it in-plan as a broadcast scalar (one less sequential job per
    // graph row) and the full board rejected it — the one-row cross join renders as a
    // BroadcastNestedLoopJoin replicated into every consumer of the edge
    // subtree and destroys the filter's selectivity estimate
    // (q_triangles 0.86 -> 12.99 s in the closing record). The literal
    // threshold keeps the aggregate+filter a single well-estimated stage.
    val minsup = math.max(2L, Tables.rowCount(s, dir, "orders") / 75000L)
    li.as("l1").join(li.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
      .groupBy(col("l1.l_partkey").as("a"), col("l2.l_partkey").as("b"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minsup)
      .select("a", "b")
      .transform(graft.operators.TextOps.trackCache)
  }
}
