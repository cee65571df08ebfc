package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench record's pure parts without running a board: the summary
  * line the driver parses from the tail of stdout, the headline's
  * definition, and the host-probe quality label.
  */
class BenchSpec extends AnyFunSuite {
  // decimals parse exactly, so the headline identity is checked digit for digit
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  private val conf = Bench.Config("/data/sf0.1", "local[4]", 4, 3)
  private val recordPath = "/var/bench/work/bench_last.json"

  /** 303 rows shaped like the board: 14 replay rows among 289 operator rows,
    * with seconds spread over four orders of magnitude and two failed rows. */
  private val board: Seq[Bench.RowResult] = (0 until 303).map { i =>
    val name =
      if (i % 23 == 0) f"st_stream_synthetic_parity_$i%03d"
      else f"q_synthetic_operator_row_$i%03d"
    Bench.RowResult(name, 0.01 + (i * 7919 % 1000) / 37.0,
      if (i == 5 || i == 200) "err" else f"${i * 2654435761L % 0xffffffffL}%08x")
  }

  private def parse(line: String): JsonNode = mapper.readTree(line)

  test("the summary of a 303-row board is one short JSON line with every field") {
    val line = Bench.summary(board, Seq(0.3, 0.31, 0.29), Some(0.5),
      "4c/4t", conf, recordPath)
    assert(!line.contains("\n"))
    assert(line.getBytes("UTF-8").length < 1500, s"${line.length} bytes")
    val j = parse(line)
    Seq("metric", "value", "unit", "ops_sec", "replay_solo_sec", "rows",
      "errors", "geomean_sec", "record_quality", "host_canary_mean",
      "host_canary_max", "host_canary_gate", "host_fp", "config", "record")
      .foreach(f => assert(j.has(f), f))
    assert(j.get("metric").asText == "total")
    assert(j.get("unit").asText == "sec")
    assert(j.get("rows").asInt == 303)
    assert(j.get("errors").asInt == 2)
    assert(j.get("record_quality").asText == "quiet")
    assert(j.get("record").asText == recordPath)
    val c = j.get("config")
    assert(c.get("sf").asText == "/data/sf0.1" && c.get("master").asText == "local[4]")
    assert(c.get("cpus").asInt == 4 && c.get("reps").asInt == 3)
    val secs = board.map(_.sec)
    val geomean = math.exp(secs.map(math.log).sum / secs.size)
    assert(math.abs(j.get("geomean_sec").asDouble - geomean) < 1e-4)
  }

  test("value is ops_sec plus replay_solo_sec, and the replay sum covers every replay row") {
    val j = parse(Bench.summary(board, Seq(0.3), Some(0.5), "4c/4t", conf, recordPath))
    val value = j.get("value").decimalValue
    val ops = j.get("ops_sec").decimalValue
    val replay = j.get("replay_solo_sec").decimalValue
    assert(value.compareTo(ops.add(replay)) == 0, s"$value != $ops + $replay")
    val replayRows = board.filter(r => Bench.isReplay(r.name))
    assert(replayRows.size == 14)
    assert(math.abs(replay.doubleValue - replayRows.map(_.sec).sum) < 1e-4)
    assert(math.abs(ops.doubleValue -
      board.filterNot(r => Bench.isReplay(r.name)).map(_.sec).sum) < 1e-4)
  }

  test("an unmeasured probe is null, never a sentinel, and the record is uncalibrated") {
    val noProbe = parse(Bench.summary(board, Seq.empty, Some(0.5), "4c/4t", conf, recordPath))
    assert(noProbe.get("host_canary_mean").isNull)
    assert(noProbe.get("host_canary_max").isNull)
    assert(noProbe.get("record_quality").asText == "uncalibrated")
    assert(Bench.recordQuality(Seq.empty, 0.5) == "uncalibrated")
    // a cluster run with no cluster history has no gate to judge by
    val cluster = conf.copy(master = "local-cluster[2,2,1024]")
    val gate = Bench.hostGate(Seq.empty, "4c/4t/rpc", isLocal = false)
    assert(gate.isEmpty)
    val noGate = parse(Bench.summary(board, Seq(0.9), gate, "4c/4t/rpc", cluster, recordPath))
    assert(noGate.get("host_canary_gate").isNull)
    assert(noGate.get("record_quality").asText == "uncalibrated")
    assert(!Bench.summary(board, Seq.empty, None, "4c/4t", conf, recordPath).contains("-1"))
  }

  test("one late spike above the gate labels the record loaded though the mean is quiet") {
    val gate = 0.5
    // eight quiet probes through the board, then the closing probe lands in
    // a co-tenant burst over the last rows
    val probes = Seq.fill(8)(0.30) :+ 1.20
    assert(probes.sum / probes.size < gate)
    assert(Bench.recordQuality(probes, gate) == "loaded")
    assert(Bench.recordQuality(probes.init, gate) == "quiet")
    val j = parse(Bench.summary(board, probes, Some(gate), "4c/4t", conf, recordPath))
    assert(j.get("record_quality").asText == "loaded")
    assert(j.get("host_canary_max").asDouble == 1.2)
  }

  test("probes averaging 1.43 against the default gate are loaded") {
    // the 366.3 s 32c/8t history entry (host_canary_mean 1.4292) was
    // labeled quiet by the fixture canary
    val gate = Bench.hostGate(Seq.empty, "32c/8t", isLocal = true)
    assert(gate.contains(0.5))
    val probes = Seq(1.21, 1.38, 1.52, 1.61)
    assert(math.abs(probes.sum / probes.size - 1.43) < 1e-9)
    assert(Bench.recordQuality(probes, gate.get) == "loaded")
  }

  test("the gate reads only this host's quiet history entries") {
    val history = Seq(
      """{"metric":"total","value":366.3,"host_canary_mean":1.4292,"host_fp":"32c/8t"}""",
      """{"metric":"total","value":137.0,"host_canary_mean":0.3030,"host_fp":"32c/8t"}""",
      """{"metric":"total","value":140.0,"host_canary_mean":0.4000,"host_fp":"32c/32t"}""",
      """{"metric":"total","value":90.0,"host_canary_mean":0.3500}""",
      """{"metric":"total","value":91.0,"host_canary_mean":null,"host_fp":"32c/8t"}""")
    // the loaded 1.43 entry is outside the quiet band, the other host's and
    // the untagged entries are skipped: the median is 0.303
    assert(Bench.hostGate(history, "32c/8t", isLocal = true).contains(0.606))
    assert(Bench.hostGate(history, "4c/4t", isLocal = true).contains(0.5))
  }
}
