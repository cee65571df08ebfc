package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the plan-fingerprint invariance that makes bench attribution work:
  * a loaded bench window shows timing spikes with UNCHANGED fingerprints, so
  * the spike is auto-attributed to the environment rather than a plan
  * regression. That attribution broke in round 4 on the three typed-kernel
  * queries (`q_skyline`, `dd_embed_cos`, `dd_semantic`) because JVM lambda
  * class names (`$$Lambda$123/0x...`) and object identity hashes (`@3f5a1b`)
  * leak into the explain string and differ per process.
  *
  * Two layers of pinning:
  *  1. String-level: the normalizer maps explain strings that differ ONLY in
  *     per-JVM synthesized ids to the same fingerprint. This is the only way
  *     to cover the cross-process case — two SparkSessions inside one test
  *     JVM share lambda classes, so a session-level test alone can't see it.
  *  2. Session-level: fingerprints computed in two fresh sessions (new
  *     SparkSession each, same JVM) agree for every registered query —
  *     catches expr-id / plan_id / temp-name drift across sessions.
  */
class FingerprintSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  test("normalizer strips per-JVM lambda class names (JDK17 and JDK21 forms)") {
    val base = "*(2) SerializeFromObject [input[0, double, false] AS value#]\n" +
      "+- MapPartitions graft.operators.Relational$"
    val jvm1 = base + "$Lambda$2417/0x00007f3a4c2b1840@1a2b3c4d, obj#"
    val jvm2 = base + "$Lambda$381/0x00000008015e9c28@deadbeef, obj#"
    val jvm3 = base + "$Lambda/0x00000123abcd4567@00ff00aa, obj#" // JDK21+: no counter
    assert(Bench.normalizePlan(jvm1) == Bench.normalizePlan(jvm2))
    assert(Bench.normalizePlan(jvm2) == Bench.normalizePlan(jvm3))
    assert(Bench.md5Hex(Bench.normalizePlan(jvm1)) == Bench.md5Hex(Bench.normalizePlan(jvm3)))
  }

  test("normalizer strips bare object identity suffixes") {
    val a = "+- BatchScan parquet file:/x [id#] ParquetScan@5f1e2d3c RuntimeFilters: []"
    val b = "+- BatchScan parquet file:/x [id#] ParquetScan@0a0b0c0d RuntimeFilters: []"
    assert(Bench.normalizePlan(a) == Bench.normalizePlan(b))
  }

  test("normalizer canonicalizes RewriteDistinctAggregates gid/column order") {
    // Verbatim drift observed in-suite for q_distinct: two fresh sessions,
    // same code and data, but the rule numbers gid groups by iterating a
    // map keyed on expr-ids, so the distinct columns swap and gid flips.
    val run1 =
      """+- HashAggregate(keys=[l_returnflag#], functions=[partial_count(l_partkey#L) FILTER (WHERE (gid# = 2)), partial_count(l_suppkey#L) FILTER (WHERE (gid# = 1))])
        |   +- HashAggregate(keys=[l_returnflag#, l_suppkey#L, l_partkey#L, gid#], functions=[])
        |      +- Exchange hashpartitioning(l_returnflag#, l_suppkey#L, l_partkey#L, gid#, 4), ENSURE_REQUIREMENTS, [plan_id=]
        |         +- HashAggregate(keys=[l_returnflag#, l_suppkey#L, l_partkey#L, gid#], functions=[])
        |            +- Expand [[l_returnflag#, l_suppkey#L, null, 1], [l_returnflag#, null, l_partkey#L, 2]], [l_returnflag#, l_suppkey#L, l_partkey#L, gid#]""".stripMargin
    val run2 =
      """+- HashAggregate(keys=[l_returnflag#], functions=[partial_count(l_partkey#L) FILTER (WHERE (gid# = 1)), partial_count(l_suppkey#L) FILTER (WHERE (gid# = 2))])
        |   +- HashAggregate(keys=[l_returnflag#, l_partkey#L, l_suppkey#L, gid#], functions=[])
        |      +- Exchange hashpartitioning(l_returnflag#, l_partkey#L, l_suppkey#L, gid#, 4), ENSURE_REQUIREMENTS, [plan_id=]
        |         +- HashAggregate(keys=[l_returnflag#, l_partkey#L, l_suppkey#L, gid#], functions=[])
        |            +- Expand [[l_returnflag#, l_partkey#L, null, 1], [l_returnflag#, null, l_suppkey#L, 2]], [l_returnflag#, l_partkey#L, l_suppkey#L, gid#]""".stripMargin
    assert(Bench.normalizePlan(run1) == Bench.normalizePlan(run2))
    // ...but a genuinely different aggregation (extra key) stays distinct
    val other = run1.replace("keys=[l_returnflag#]", "keys=[l_returnflag#, l_linestatus#]")
    assert(Bench.normalizePlan(run1) != Bench.normalizePlan(other))
  }

  test("commutative-list canonicalization: any permutation, same fingerprint") {
    val rnd = new scala.util.Random(3)
    val keys = Seq("k1#", "k2#L", "k3#", "gid#")
    val fns = Seq("partial_sum(a#)", "partial_count(b#L) FILTER (WHERE (gid# = _))",
      "partial_avg(c#, 0.5)")
    for (_ <- 1 to 20) {
      val (pk, pf) = (rnd.shuffle(keys), rnd.shuffle(fns))
      val a = s"HashAggregate(keys=[${keys.mkString(", ")}], functions=[${fns.mkString(", ")}])\n" +
        s"Exchange hashpartitioning(${keys.mkString(", ")}, 4), [plan_id=]"
      val b = s"HashAggregate(keys=[${pk.mkString(", ")}], functions=[${pf.mkString(", ")}])\n" +
        s"Exchange hashpartitioning(${pk.mkString(", ")}, 4), [plan_id=]"
      assert(Bench.normalizePlan(a) == Bench.normalizePlan(b),
        s"permutation changed fingerprint:\n$a\nvs\n$b")
    }
    // nested parens: commas inside function args must not split the list
    val nested = "HashAggregate(keys=[k#], functions=[f(a#, b#), g(c#)])"
    val nested2 = "HashAggregate(keys=[k#], functions=[g(c#), f(a#, b#)])"
    assert(Bench.normalizePlan(nested) == Bench.normalizePlan(nested2))
    // order-SIGNIFICANT lists stay order-sensitive
    assert(Bench.normalizePlan("Sort [a# ASC, b# DESC], true")
      != Bench.normalizePlan("Sort [b# DESC, a# ASC], true"))
    assert(Bench.normalizePlan("rangepartitioning(a# ASC, b# ASC, 4)")
      != Bench.normalizePlan("rangepartitioning(b# ASC, a# ASC, 4)"))
    // and the partition count never participates in the sort
    assert(Bench.normalizePlan("Exchange hashpartitioning(z#, a#, 4)")
      == Bench.normalizePlan("Exchange hashpartitioning(a#, z#, 4)"))
  }

  test("normalizer still distinguishes genuinely different plans") {
    val a = "*(1) HashAggregate(keys=[k#], functions=[sum(v#)])"
    val b = "*(1) SortAggregate(keys=[k#], functions=[sum(v#)])"
    assert(Bench.normalizePlan(a) != Bench.normalizePlan(b))
  }

  test("fingerprints are identical across two fresh sessions for every query") {
    def freshFingerprints(): Map[String, (String, String)] = {
      // getOrCreate would hand back the shared test session; a child has
      // fresh session state, the engine's build conf (untruncated scan
      // metadata included) and the graft dialect, as Bench's sessions do
      val s = SparkTestSession.spark.newSession()
      // the cache manager is context-global: queries that .persist() in run 1
      // would otherwise surface as InMemoryRelation in run 2's plans — a
      // test-harness artifact a fresh JVM (the case under test) never sees
      s.catalog.clearCache()
      SparkEntry.queries.map { case (name, fn) =>
        // per-query pin, matching Bench's convention since round 9: each
        // query's plan is rendered against an EMPTY cache registry, so the
        // hash is independent of which other board rows exist or ran first
        // (round-8 postmortem: shared registry state churned 174/246
        // fingerprints when 20 rows joined the board)
        graft.operators.TextOps.releasePriorCaches()
        s.catalog.clearCache()
        val norm = Bench.normalizePlan(fn(s, sf).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("simple")))
        name -> (Bench.md5Hex(norm), norm)
      }
    }
    // Leaked background activity from earlier suites (a pump still draining,
    // an async unpersist) mutates the context-global cache manager between
    // the two runs and can substitute an InMemoryRelation into exactly one
    // of them — a test-harness race, not a normalizer defect (Bench runs
    // alone in its own JVM). Quiesce first.
    SparkTestSession.spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
    val run1 = freshFingerprints()
    val run2 = freshFingerprints()
    val diff = run1.keys.filter(k => run1(k)._1 != run2(k)._1).toSeq.sorted
    // On drift, persist both normalized plans — the failure message alone
    // ("hashes differ") is undiagnosable after the session ends.
    diff.foreach { k =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"/tmp/fpdrift_${k}_1.txt"), run1(k)._2)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"/tmp/fpdrift_${k}_2.txt"), run2(k)._2)
    }
    assert(diff.isEmpty,
      s"fingerprint drift across sessions: $diff (plans in /tmp/fpdrift_*)")
    assert(run1.size == SparkEntry.queries.size)
  }
}
