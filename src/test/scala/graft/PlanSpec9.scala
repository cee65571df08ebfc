package graft

import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan pins for the TPC-H completion rows (Q4/Q6/Q7/Q10–Q22): every
  * EXISTS/NOT EXISTS/IN must land as a semi/anti hash join (never a
  * per-row subquery or a nested loop over facts), every scalar subquery
  * as a 1-row broadcast, and the selective predicates — including the
  * Q19 OR-of-ANDs projected per side — must reach the parquet scans.
  */
class PlanSpec9 extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  // walks into AQE query stages, which a plain SparkPlan.collect skips
  private object Aqe extends AdaptiveSparkPlanHelper

  private def exchanges(p: String): Int = raw"\(\d+\) Exchange".r.findAllIn(p).size

  private def noNestedLoopOverFacts(p: String): Unit =
    assert(!p.contains("CartesianProduct"), s"cartesian degeneration:\n$p")

  test("q_tpch4: EXISTS lands as a semi join with the lateness extra condition") {
    val p = plan("q_tpch4")
    assert(p.contains("LeftSemi"), s"EXISTS must be a semi join:\n$p")
    assert(raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate".r.findFirstIn(p).isDefined,
      s"order-date range must reach the orders scan:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch6: pure scan-filter-agg, all predicates pushed, one exchange") {
    val p = plan("q_tpch6")
    assert(raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate".r.findFirstIn(p).isDefined &&
      raw"PushedFilters: \[[^\]]*LessThan\(l_quantity,24".r.findFirstIn(p).isDefined,
      s"ship-date + quantity predicates must reach the scan:\n$p")
    assert(raw"\(\d+\) Scan parquet".r.findAllIn(p).size == 1, s"one scan:\n$p")
    assert(exchanges(p) == 1, s"only the global-agg exchange may shuffle:\n$p")
  }

  test("q_tpch7: nation pair pre-filters broadcast dims (In pushdown)") {
    val p = plan("q_tpch7")
    assert(p.contains("BroadcastHashJoin"), s"dims should broadcast:\n$p")
    assert(raw"PushedFilters: \[[^\]]*In\(n_name".r.findFirstIn(p).isDefined,
      s"the two-nation IN must reach the nation scans:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch10: top-20 is TakeOrdered, returnflag + date pruned at the scans") {
    val p = plan("q_tpch10")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not globally sort:\n$p")
    assert(raw"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)".r.findFirstIn(p).isDefined &&
      raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate".r.findFirstIn(p).isDefined,
      s"lineitem/orders predicates must reach the scans:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch11: nation filter pushed, threshold is a 1-row broadcast") {
    val p = plan("q_tpch11")
    assert(raw"PushedFilters: \[[^\]]*EqualTo\(n_name,NATION_5\)".r.findFirstIn(p).isDefined,
      s"nation filter must reach the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim should broadcast:\n$p")
    assert(raw"\(\d+\) BroadcastExchange".r.findAllIn(p).size >= 2,
      s"the scalar threshold must broadcast, never shuffle the value table:\n$p")
  }

  test("q_tpch12: ship-year pruned at the scan, one fact join") {
    val p = plan("q_tpch12")
    assert(raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate".r.findFirstIn(p).isDefined,
      s"ship-date range must reach the lineitem scan:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch13: the join-condition NOT LIKE prunes the orders scan") {
    val p = plan("q_tpch13")
    assert(raw"PushedFilters: \[[^\]]*Not\(StringContains\(o_orderpriority,URGENT\)\)".r
      .findFirstIn(p).isDefined,
      s"NOT LIKE must reach the orders scan:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch14: single-exchange conditional ratio over a broadcast dim") {
    val p = plan("q_tpch14")
    assert(p.contains("BroadcastHashJoin"), s"part dim should broadcast:\n$p")
    assert(raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate".r.findFirstIn(p).isDefined,
      s"ship-month must reach the scan:\n$p")
    assert(exchanges(p) == 1, s"only the global-agg exchange may shuffle:\n$p")
  }

  test("q_tpch15: both revenue scans date-pruned, max is a 1-row broadcast") {
    val p = plan("q_tpch15")
    assert(raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate".r.findAllIn(p).size >= 2,
      s"the revenue view's date range must prune both its scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"max + supplier should broadcast:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch16: NOT IN is an anti join; size IN-list and name filter pushed") {
    val p = plan("q_tpch16")
    assert(p.contains("LeftAnti"), s"NOT IN must be an anti join:\n$p")
    assert(raw"PushedFilters: \[[^\]]*In\(p_size".r.findFirstIn(p).isDefined &&
      raw"PushedFilters: \[[^\]]*StringContains\(s_name,7\)".r.findFirstIn(p).isDefined,
      s"part/supplier predicates must reach the scans:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch17: correlated avg decorrelated onto the part-pruned slice only") {
    val p = plan("q_tpch17")
    assert(raw"PushedFilters: \[[^\]]*EqualTo\(p_brand,Brand#3\)".r.findAllIn(p).size >= 2,
      s"BOTH the revenue side and the threshold side must prune on the part filter:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part + threshold should broadcast:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch18: single lineitem pass (aggregate-reuse), top-100 TakeOrdered") {
    val p = plan("q_tpch18")
    // the stated IN-over-HAVING + outer sum touch lineitem twice; the
    // plan must compute the per-order sum ONCE and carry it
    assert(raw"\(\d+\) Scan parquet".r.findAllIn(p).size == 3,
      s"exactly lineitem + orders + customer scan once each:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not globally sort:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch19: the OR-of-ANDs projects onto BOTH scans; one exchange") {
    val p = plan("q_tpch19")
    assert(raw"PushedFilters: \[[^\]]*Or\([^\]]*p_brand".r.findFirstIn(p).isDefined,
      s"part-side disjunction must reach the part scan:\n$p")
    assert(raw"PushedFilters: \[[^\]]*Or\([^\]]*l_quantity".r.findFirstIn(p).isDefined,
      s"quantity-side disjunction must reach the lineitem scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"equi-join stays hash, OR as condition:\n$p")
    assert(exchanges(p) == 1, s"only the global-agg exchange may shuffle:\n$p")
  }

  test("q_tpch20: grouped-HAVING IN is a semi join; name prefix + region pushed") {
    val p = plan("q_tpch20")
    assert(p.contains("LeftSemi"), s"IN must be a semi join:\n$p")
    assert(raw"PushedFilters: \[[^\]]*StringStartsWith\(p_name,red\)".r.findFirstIn(p).isDefined &&
      raw"PushedFilters: \[[^\]]*EqualTo\(r_name,ASIA\)".r.findFirstIn(p).isDefined,
      s"part-name prefix and region filters must reach the scans:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_tpch21: EXISTS + NOT EXISTS are one semi and one anti hash join") {
    val p = plan("q_tpch21")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"the double correlation must be semi + anti joins:\n$p")
    assert(raw"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,F\)".r.findFirstIn(p).isDefined &&
      raw"PushedFilters: \[[^\]]*GreaterThan\(l_quantity,45".r.findFirstIn(p).isDefined,
      s"status/quantity predicates must reach the scans:\n$p")
    noNestedLoopOverFacts(p)
  }

  test("q_topk_native: native aggregate, never a window sort over the fact") {
    val p = plan("q_topk_native")
    assert(p.contains("ObjectHashAggregate") && p.contains("topk_entries"),
      s"the native TopKAgg must plan as an object hash aggregate:\n$p")
    assert(raw"\(\d+\) Window".r.findFirstIn(p).isEmpty && !p.contains("row_number"),
      s"low-cardinality top-k must not render as a ranking window:\n$p")
  }

  test("tx_dsir_select: weight table broadcasts, token table cached once") {
    // Since 835335a the row is zero-cache ("No corpus-sized cache at all
    // ... two corpus scans, zero cache footprint" in TextQueries.scala's
    // tx_dsir_select). "Cached once" now means the token stream is never
    // materialized per consumer: the 256-row bucket-count aggregate is
    // computed once and its exchange reused for the totals, so the
    // executed plan scans the corpus twice (bucket counts, doc scores).
    val p = plan("tx_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the 256-row weight table must broadcast into the fact:\n$p")
    assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
      s"no cache over the raw token stream belongs in this plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no fact-fact shuffle join belongs in this plan:\n$p")
    // the formatted explain above renders a reused exchange's subtree as a
    // scan of its own; only the executed AQE plan shows the reuse
    val df = SparkEntry.queries("tx_dsir_select")(spark, sf)
    df.collect()
    val fin = df.queryExecution.executedPlan
    val scans = Aqe.collect(fin) { case s: FileSourceScanExec => s }
    val reused = Aqe.collect(fin) { case r: ReusedExchangeExec => r }
    assert(scans.size == 2 && reused.nonEmpty,
      s"the corpus must be scanned twice, the bucket counts reused:\n$fin")
  }

  test("tx_unigram_lm: corpus touched once (cached word counts), piece tables broadcast") {
    val p = plan("tx_unigram_lm")
    assert(p.contains("InMemoryTableScan"),
      s"word counts + mask segmentations must come from the tracked cache:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"piece log-prob tables must broadcast into the segmentation scorer:\n$p")
    // the seed's containment join (piece substring-of word) is non-equi
    // over two vocab-bounded sides — a broadcast nested loop is the
    // intended shape there, but never a full cartesian
    assert(!p.contains("CartesianProduct"), s"cartesian degeneration:\n$p")
  }

  test("pl_shard_balance: two-level rank (broadcast offsets), no fact-wide window") {
    val p = plan("pl_shard_balance")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-offsets table must broadcast back (bucketedRank):\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian degeneration:\n$p")
  }

  test("v_neighbor_sample: both hops native top-k, no dedup/sort of the pair mass") {
    val p = plan("v_neighbor_sample")
    assert(p.contains("ObjectHashAggregate") && p.contains("topk_entries"),
      s"both hops must sample through the native top-k aggregate:\n$p")
    // round-11 rewrite (the r10 sweep's 11.7x defect): TopKBuf's set
    // semantics on (value, id) collapse duplicate pairs inside the O(k)
    // buffer, so the raw pair stream feeds the aggregates directly —
    // no global distinct, no repartition of the pair mass, and no
    // window sort anywhere in the plan
    assert(!p.contains("Window"),
      s"no hop may sort the pair mass through a window:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the projected pair stream (consumed by both hops) must be cached:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian degeneration:\n$p")
  }

  test("q_tpch22: threshold broadcast, NOT EXISTS anti join, IN-list pushed") {
    val p = plan("q_tpch22")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must be an anti join:\n$p")
    assert(raw"PushedFilters: \[[^\]]*In\(c_nationkey".r.findFirstIn(p).isDefined &&
      raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate,1999".r.findFirstIn(p).isDefined,
      s"country-code IN and order-date predicates must reach the scans:\n$p")
    noNestedLoopOverFacts(p)
  }
}
