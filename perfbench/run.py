#!/usr/bin/env python3
"""dcafsspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload <ingest|board>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the harness from the checkout's sources when they
changed since the last build (sbt, outside every metric), runs the
workload in a fresh JVM, checks its outputs against tallies and an oracle
computed apart from the engine, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Details (per
row, per batch, spans) go to perfbench/out/<workload>-s<seed>-t<trace>/.
Everything a run writes stays inside the checkout and is git-ignored; the
run's scratch directory is removed when it ends.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import socket
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

CPUS = 4
JVM_HEAP = "2g"
STEADY_RATE = 800          # lines/s over the four sensors
STEADY_WARMUP_S = 4        # sent and checked, but not measured
DRAIN_LINES = 40000        # each of the drain phase's three backlogs
SF_DIR = "/root/testdata/sf0.01"  # the repository's fixtures (TESTDATA.md)
RUN_LIMIT_S = 175

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

BUILD_DIR = os.path.join(HERE, ".build")


def source_stamp():
    """Hash of every input of the build, so an unchanged tree is not
    rebuilt and a changed one always is."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    pdir = os.path.join(ROOT, "project")
    if os.path.isdir(pdir):
        files += [os.path.join(pdir, f) for f in sorted(os.listdir(pdir))
                  if f.endswith((".sbt", ".scala"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build():
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(stamp_file) and os.path.exists(cp_file) \
                and open(stamp_file).read() == stamp:
            cp = open(cp_file).read().strip()
            if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
        log("building engine and harness with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=800)
        with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as f:
            f.write(proc.stdout)
        if proc.returncode != 0:
            raise RuntimeError(f"sbt build failed, see {BUILD_DIR}/sbt.log")
        cp = [ln for ln in proc.stdout.splitlines()
              if ln.count(os.pathsep) > 10 and ".jar" in ln][-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        fill_oracle_cache(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"build took {time.time() - t0:.0f} s")
        return cp


def fill_oracle_cache(cp):
    """Compute the board slice's DuckDB answers along with the build, so
    no measured run waits for them. A row's answer depends only on its
    oracle SQL and the fixture, both fixed by the build's sources."""
    import oracle
    if not os.path.isdir(SF_DIR):
        return
    out = os.path.join(BUILD_DIR, "oracle-sql")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    subprocess.run(jvm_command(cp, out, out, "oracle-sql", 0, 0, {}),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120)
    sql = json.load(open(os.path.join(out, "jvm.json"))).get("oracle", {})
    orc = oracle.Oracle(SF_DIR, os.path.join(HERE, ".cache", "oracle"))
    for name in board_slice():
        if name in sql:
            orc.answer(sql[name])
    shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------- JVM

def jvm_command(cp, work, out, workload, seconds, trace, opts):
    # A fixed heap with a fixed young generation: the heap never resizes,
    # so peak RSS is the young generation plus the old generation's
    # high-water mark and the off-heap memory, not the moment G1 chose to
    # grow. With the heap left to G1's sizing the board's peak RSS spread
    # 42 % over five seeds; with this, 2 %.
    flags = [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn256m",
             "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    # C1 only: a run's JVM lives under a minute, and C2 compiling through
    # most of it (about 30 % of the CPU, finishing at a different moment in
    # each run) spread the steady latency 27 % across seeds and kept the
    # board's timed passes speeding up from one pass to the next. With C1
    # alone a board run takes about half the CPU time for the same wall
    # time. C1 alone reserves only 48 MB for compiled code; Spark's
    # generated classes fill that within an ingest run, and the JIT then
    # switches itself off (the rest of the run interpreted, from a
    # different moment in each run) or the JVM fails outright. Reserve
    # what tiered compilation would.
    flags += ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
    for p in JDK17_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return (["java"] + flags + ["-cp", cp, "perfbench.Main", workload, str(seconds),
                                str(trace), work, out]
            + [f"{k}={v}" for k, v in opts.items()])


def start_jvm(cmd, out):
    logf = open(os.path.join(out, "jvm.log"), "w")
    return subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, cwd=ROOT), logf


def stop_jvm(proc):
    if proc is not None and proc.poll() is None:
        proc.kill()
    if proc is not None:
        proc.wait(timeout=30)


# ---------------------------------------------------------------- ingest

def serve_generator(gen, ctl_server, proc, deadline):
    """Answer the JVM's requests until it says goodbye."""
    ctl_server.settimeout(1.0)
    conn = None
    while conn is None:
        if proc.poll() is not None or time.time() > deadline:
            raise RuntimeError("harness JVM never connected")
        try:
            conn, _ = ctl_server.accept()
        except socket.timeout:
            pass
    conn.settimeout(max(1.0, deadline - time.time()))
    rf = conn.makefile("r")
    rounds = []
    try:
        for line in rf:
            cmd = line.split()
            if not cmd:
                continue
            if cmd[0] == "reset":
                gen.reset()
                reply = "ok"
            elif cmd[0] == "connect":
                ok = gen.wait_connected(int(cmd[1]), timeout_s=max(1, deadline - time.time()))
                reply = "ok" if ok else "timeout"
            elif cmd[0] == "steady":
                reply = f"ok {gen.steady(STEADY_WARMUP_S, int(cmd[1]), STEADY_RATE)}"
            elif cmd[0] == "drain":
                n, start_ms, t_ms = gen.drain_round(DRAIN_LINES)
                rounds.append((t_ms, start_ms, n))
                reply = f"ok {n} {start_ms}"
            elif cmd[0] == "bye":
                conn.sendall(b"ok\n")
                break
            else:
                reply = f"unknown {cmd[0]}"
            conn.sendall((reply + "\n").encode())
    finally:
        rf.close()
        conn.close()
    return rounds


def check_ingest(jvm, gen):
    """Engine outputs against the generator's tally. Returns a list of
    mismatch descriptions (empty when everything matches)."""
    t = gen.tally
    bad = []
    if jvm["derby_rows"] != t.stored:
        bad.append(f"derby rows {jvm['derby_rows']} != {t.stored} stored lines")
    for key, (n, s, mn, mx, last, _, rising, cleared) in t.keys.items():
        got = jvm["derby_keys"].get(key)
        if got is None or got != [float(n), s, mn, mx]:
            bad.append(f"derby {key}: {got} != {[n, s, mn, mx]}")
        snap = jvm["snapshots"].get(key)
        want = [last, mn, mx, float(n)]
        if snap is None or snap[:4] != want or abs(snap[4] - s / n) > 1e-9 * max(1.0, abs(s / n)):
            bad.append(f"rtvals {key}: {snap} != {want + [s / n]}")
        for kind, cnt in (("rising", rising), ("cleared", cleared)):
            got_n = jvm["alerts"].get(f"{key}|{kind}", 0)
            if got_n != cnt:
                bad.append(f"alerts {key} {kind}: {got_n} != {cnt}")
    extra = set(jvm["derby_keys"]) - set(t.keys)
    if extra:
        bad.append(f"derby has keys never sent: {sorted(extra)[:5]}")
    with open(os.path.join(jvm["file_out"], "raw.log"), encoding="utf-8") as f:
        lines = f.read().splitlines()
    jvm["file_lines"] = len(lines)
    if len(lines) != t.lines:
        bad.append(f"file sink lines {len(lines)} != {t.lines}")
    elif stats.multiset_hash(lines) != t.file_hash:
        bad.append("file sink content hash differs from the lines sent")
    return bad


def ingest_metrics(jvm, gen, rounds, trace):
    """End-to-end and per-layer metrics of one ingest run. The steady
    phase gives latency, the drain phase's median backlog the drain rate."""
    batches = jvm["batches"]
    derby = [(b["start"], b["end"], b["id"]) for b in batches
             if b["q"] == "derby" and b["rows"] > 0]
    drain_start = rounds[0][1]
    steady = [g for g in jvm["inserts"] if gen.measure_from_ms <= g[0] < rounds[0][0]]
    lat = stats.commit_latencies(steady, derby)
    p50, p95, beyond, rule = stats.tail(lat)
    round_rates = []
    for due, start, _ in rounds:
        # every backlog line is due when the backlog's first byte is written
        backlog = [(start, i, n) for s, i, n in jvm["inserts"] if s == due]
        drained = sum(n for _, _, n in backlog)
        drain_ms = max(l for l, _, _ in stats.commit_latencies(backlog, derby))
        round_rates.append(drained / (drain_ms / 1000.0))
    e2e = {
        "setup_s": (stats.median(jvm["setup_s"]), "s"),
        "peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
        "latency_p50_ms": (p50, "ms"),
        "throughput_per_s": (stats.median(round_rates), "1/s"),
    }
    in_steady = [b for b in batches
                 if b["rows"] > 0 and gen.measure_from_ms <= b["start"] < drain_start]
    in_drain = [b for b in batches if b["rows"] > 0 and b["start"] >= drain_start]
    info = {"latency_lines": sum(n for _, n, _ in lat),
            "latency_batches": len({bid for _, _, bid in lat}),
            "p95_ms": p95, "batches_beyond_p95": beyond, "tail_rule_met": rule,
            "drain_round_rates": round_rates}
    layers = {}
    if trace:
        def mean(q, key, bs=in_steady):
            vals = [b["d"].get(key, b.get(key, 0)) for b in bs if b["q"] == q]
            return sum(vals) / len(vals) if vals else 0.0
        d_steady = [b for b in in_steady if b["q"] == "derby"]
        d_drain = [b for b in in_drain if b["q"] == "derby"]
        rt = [b for b in batches if b["q"] == "rtvals" and b["rows"] > 0]
        late = sorted(gen.late_ms) or [0.0]
        layers = {
            "microbatch.latest_offset_ms": (mean("derby", "latestOffset"), "ms"),
            "microbatch.query_planning_ms": (mean("derby", "queryPlanning"), "ms"),
            "microbatch.add_batch_ms": (mean("derby", "addBatch"), "ms"),
            "microbatch.wal_commit_ms": (mean("derby", "walCommit"), "ms"),
            "microbatch.commit_offsets_ms": (mean("derby", "commitOffsets"), "ms"),
            "microbatch.trigger_ms": (mean("derby", "triggerExecution"), "ms"),
            "microbatch.batches": (len(d_steady), "count"),
            "microbatch.empty_batches": (sum(1 for b in batches if b["q"] == "derby"
                                             and b["rows"] == 0), "count"),
            "microbatch.rows_per_batch": (mean("derby", "rows"), "count"),
            "drain.batches": (len(d_drain), "count"),
            "drain.add_batch_ms": (sum(b["d"].get("addBatch", 0) for b in d_drain), "ms"),
            "pipeline.compile_ms": (jvm["compile_ms"], "ms"),
            "pipeline.lines_in": (gen.tally.lines, "count"),
            "pipeline.lines_rejected": (gen.tally.lines - jvm["derby_rows"], "count"),
            "pipeline.lines_stored": (jvm["derby_rows"], "count"),
            "pipeline.static_lines_per_s": (jvm.get("static_lines_per_s", 0.0), "lines/s"),
            "rtvals.commit_ms": (mean("rtvals", "state_commit_ms"), "ms"),
            "rtvals.state_rows": (rt[-1]["state_rows"] if rt else 0, "count"),
            "rtvals.state_bytes": (rt[-1]["state_bytes"] if rt else 0, "bytes"),
            "rtvals.rows_updated": (sum(b["state_updated"] for b in rt), "count"),
            "rtvals.alerts": (sum(jvm["alerts"].values()), "count"),
            "sinks.jdbc_ms": (mean("derby", "addBatch"), "ms"),
            "sinks.jdbc_rows": (jvm["derby_rows"], "count"),
            "sinks.file_ms": (mean("file", "addBatch"), "ms"),
            "sinks.file_lines": (jvm["file_lines"], "count"),
            "gen.lines_sent": (jvm["lines_sent"], "count"),
            "gen.late_ms_p95": (late[min(len(late) - 1, int(0.95 * len(late)))], "ms"),
        }
    return e2e, layers, info


def run_ingest(args, cp, work, out):
    import sensors
    gen = sensors.Generator(args.seed)
    ctl = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    ctl.bind(("127.0.0.1", 0))
    ctl.listen(1)
    proc = logf = None
    try:
        opts = {"ports": ",".join(map(str, gen.ports)), "ctl": ctl.getsockname()[1],
                "cpus": CPUS}
        proc, logf = start_jvm(jvm_command(cp, work, out, args.workload, args.seconds,
                                           args.trace, opts), out)
        deadline = T0 + RUN_LIMIT_S - 5
        rounds = serve_generator(gen, ctl, proc, deadline)
        proc.wait(timeout=max(1, deadline - time.time()))
        proc_rc = proc.returncode
    finally:
        stop_jvm(proc)
        if logf:
            logf.close()
        ctl.close()
        gen.close()
    jvm = json.load(open(os.path.join(out, "jvm.json")))
    if proc_rc != 0 or "error" in jvm:
        raise RuntimeError(f"harness JVM failed: {jvm.get('error')}")
    bad = check_ingest(jvm, gen)
    e2e, layers, info = ingest_metrics(jvm, gen, rounds, args.trace)
    attempted = gen.tally.lines
    failed = max(0, gen.tally.stored - jvm["derby_rows"])
    detail = {"checks": bad, "rounds": rounds, **info, "wall_s": time.time() - T0,
              "lines_sent": gen.tally.lines, "lines_stored": gen.tally.stored,
              "keys": len(gen.tally.keys), "jvm_cpu_s": jvm.get("cpu_s")}
    return not bad, attempted, failed, e2e, layers, detail


# ---------------------------------------------------------------- board

def board_slice():
    with open(os.path.join(HERE, "board_slice.txt")) as f:
        return [ln.split("#")[0].strip() for ln in f if ln.split("#")[0].strip()]


def board_failures(rows, check):
    """Row runs that failed, keyed by (row, pass), with the reason: the
    engine raised, no oracle is registered, or `check` (the oracle
    comparison) found a difference."""
    failures = {}
    for r in rows:
        key = (r["name"], r["pass"])
        if r["error"]:
            failures[key] = r["error"]
        elif r["oracle"] is None:
            failures[key] = "no oracle SQL registered"
        else:
            why = check(r)
            if why:
                failures[key] = why
    return failures


def row_medians(rows, failures):
    """Each row's median time in seconds over the timed passes (pass 0
    warms up), for rows that never failed."""
    bad = {name for name, _ in failures}
    times = {}
    for r in rows:
        if r["pass"] >= 1 and r["name"] not in bad:
            times.setdefault(r["name"], []).append(r["s"])
    return {name: stats.median(ts) for name, ts in times.items()}


def run_board(args, cp, work, out):
    import oracle
    rows = board_slice()
    slice_file = os.path.join(work, "slice.txt")
    with open(slice_file, "w") as f:
        f.write("\n".join(rows) + "\n")
    opts = {"sf": SF_DIR, "slice": slice_file, "cpus": CPUS}
    proc = logf = None
    try:
        proc, logf = start_jvm(jvm_command(cp, work, out, "board", args.seconds,
                                           args.trace, opts), out)
        proc.wait(timeout=max(1, T0 + RUN_LIMIT_S - 40 - time.time()))
        rc = proc.returncode
    finally:
        stop_jvm(proc)
        if logf:
            logf.close()
    jvm_done = time.time()
    jvm = json.load(open(os.path.join(out, "jvm.json")))
    if rc != 0 or "error" in jvm:
        raise RuntimeError(f"harness JVM failed: {jvm.get('error')}")
    orc = oracle.Oracle(SF_DIR, os.path.join(HERE, ".cache", "oracle"))
    runs = jvm["rows"]
    failures = board_failures(runs, lambda r: orc.check(
        r["oracle"], os.path.join(jvm["results_dir"], f"p{r['pass']}", r["name"])))
    med = row_medians(runs, failures)
    ms = [(s * 1000.0, 1) for s in med.values()] or [(0.0, 1)]
    e2e = {
        "setup_s": (stats.median(jvm["setup_s"]), "s"),
        "peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
        "latency_p50_ms": (stats.weighted_quantile(ms, 0.5), "ms"),
        "throughput_per_s": (len(med) / max(1e-9, sum(med.values())), "1/s"),
    }
    layers = {}
    if args.trace:
        timed = [r for r in runs if r["pass"] >= 1]
        passes = len({r["pass"] for r in timed})

        def tot(k, replay=None, module=None):
            """Per-pass mean of a per-row figure over the timed passes."""
            return sum(r.get(k, 0) for r in timed
                       if (replay is None or r["replay"] == replay)
                       and (module is None or r["module"] == module)) / passes
        for m in ("Relational", "TextQueries", "DedupQueries", "StateQueries",
                  "PipelineQueries", "Protocol", "Marine"):
            layers[f"queries.{m}.s"] = (tot("s", module=m), "s")
        scans = tot("cache_scans")
        layers.update({
            "board.ops_s": (tot("s", False), "s"),
            "board.replay_s": (tot("s", True), "s"),
            "board.jobs": (tot("jobs"), "count"),
            "board.build_jobs": (tot("build_jobs"), "count"),
            "board.stages": (tot("stages"), "count"),
            "board.tasks": (tot("tasks"), "count"),
            "board.shuffle_write_bytes": (tot("shuffle_write_bytes"), "bytes"),
            "board.shuffle_read_bytes": (tot("shuffle_read_bytes"), "bytes"),
            "board.spill_bytes": (tot("spill_bytes"), "bytes"),
            "board.plan_ms": (tot("plan_ms"), "ms"),
            "board.exec_ms": (tot("exec_ms"), "ms"),
            "board.cache_hit_ratio": (tot("cache_hits") / scans if scans else 0.0, "ratio"),
            "board.replay.batches": (tot("replay_batches", True), "count"),
            "board.replay.state_commit_ms": (tot("state_commit_ms", True), "ms"),
            "board.replay.state_rows": (tot("state_rows", True), "count"),
        })
    detail = {"failures": {f"{n}/p{p}": why for (n, p), why in failures.items()},
              "row_median_s": med, "passes": 1 + max(r["pass"] for r in runs),
              "runs": [[r["name"], r["pass"], r["s"]] for r in runs],
              "wall_s": time.time() - T0, "check_s": time.time() - jvm_done}
    return True, len(runs), len(failures), e2e, layers, detail


# ---------------------------------------------------------------- main

def emit(metrics_spec, values):
    """Every metric BENCHMARK.json names for this mode; a per-layer metric
    the workload has no layer for reads 0."""
    out = {}
    for m in metrics_spec:
        v, unit = values.get(m["name"], (0, m["unit"]))
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        sys.exit(selftest.main())
    if BENCH is None or not os.path.exists(os.path.join(ROOT, "build.sbt")) \
            or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources next to the benchmark: nothing to measure")
        sys.exit(2)
    if args.workload not in {w["name"] for w in BENCH["workloads"]}:
        log(f"unknown workload {args.workload}")
        sys.exit(2)
    try:
        cp = ensure_build()
    except Exception as e:
        log(f"build failed: {e}")
        sys.exit(1)
    global T0
    T0 = time.time()
    out = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        runner = run_board if args.workload == "board" else run_ingest
        correct, attempted, failed, e2e, layers, detail = runner(args, cp, work, out)
    except Exception as e:
        log(f"run failed: {e}")
        sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spec = BENCH["per_layer"] if args.trace else BENCH["end_to_end"]
    metrics = emit(spec, layers if args.trace else e2e)
    summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "correct": correct, "attempted": attempted,
               "failed": failed, "metrics": metrics, "detail": detail,
               "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True, default=str)
    if not correct:
        log(f"output check failed, see {out}/summary.json")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


T0 = time.time()

if __name__ == "__main__":
    main()
