#!/usr/bin/env python3
"""Diff two bench artifacts (bench_last.json / bench_history.jsonl entries)
per query.

Every row of a current record is timed solo: replay rows run serially in
the same loop as the operator rows. Records written before that change
timed their st_stream_/dd_stream_ rows under replay-tier thread
contention and list them in `contended_rows`; those per-row values
compare only to other contended runs, so rows listed in EITHER artifact
are excluded from the per-row regression flags. Artifacts predating the
tag (no `contended_rows` field) get the r12 heuristic: replay rows are
treated as contended when the artifact records replay_concurrency > 1.

The headline changed with it: `value` is now ops_sec + replay_solo_sec
(the replay rows' solo sum); an old record's `value` was ops_sec plus the
contended tier's wall. For an old record, replay_solo_sec is the sum of
its per-row `replay_solo` map when that tier ran.

Usage:
  tools/bench_diff.py OLD.json NEW.json [--threshold 1.5]
  tools/bench_diff.py --history bench_history.jsonl   # last two entries

Exit 1 when any non-contended row regresses past the threshold AND both
runs are labeled quiet (a loaded window is environment, not plan).
"""
import argparse
import json
import sys


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def contended_rows(art):
    if "contended_rows" in art:
        return set(art["contended_rows"])
    if art.get("replay_concurrency", 1) > 1:  # pre-tag artifact heuristic
        return {k for k in art.get("queries", {})
                if k.startswith("st_stream_") or k.startswith("dd_stream_")}
    return set()


def headline(art, field):
    """A headline figure; an old record's replay_solo_sec is the sum of its
    per-row solo tier (absent when that tier was skipped)."""
    if field == "replay_solo_sec" and field not in art and art.get("replay_solo"):
        return sum(art["replay_solo"].values())
    return art.get(field)


def fmt(x):
    return "n/a" if x is None else f"{x:.1f}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old", nargs="?")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--history", help="take the last two entries of a jsonl")
    ap.add_argument("--threshold", type=float, default=1.5)
    args = ap.parse_args()

    if args.history:
        with open(args.history) as f:
            entries = [json.loads(l) for l in f if l.strip()]
        if len(entries) < 2:
            sys.exit("history has fewer than two entries")
        old, new = entries[-2], entries[-1]
    else:
        if not (args.old and args.new):
            sys.exit("need OLD and NEW artifacts (or --history)")
        old, new = load(args.old), load(args.new)

    qo, qn = old.get("queries", {}), new.get("queries", {})
    cont = contended_rows(new) | contended_rows(old)
    # per-row times at different core counts or hosts are not a regression
    # signal, whatever their labels
    same_host = old.get("host_fp") == new.get("host_fp")
    both_quiet = (same_host and old.get("record_quality") == "quiet"
                  and new.get("record_quality") == "quiet")
    # two quiet-gated runs can still sit at different host-noise levels
    # (r12's final re-run: canary 0.115 -> 0.162, median row ratio 1.21,
    # zero real regressions) — normalize per-row ratios by the host-probe
    # ratio so a global noise shift doesn't flag every row
    ca, cb = old.get("host_canary_mean"), new.get("host_canary_mean")
    noise = cb / ca if (ca and cb and ca > 0 and cb > 0) else 1.0
    noise = max(noise, 1.0)  # only ever EXCUSE slowdowns, never speedups

    shared = sorted(set(qo) & set(qn))
    regressions = []
    print(f"{'row':34s} {'old':>8s} {'new':>8s} {'ratio':>6s}")
    for k in shared:
        a, b = qo[k], qn[k]
        ratio = b / a if a > 0 else float("inf")
        tag = " [contended]" if k in cont else ""
        flag = ""
        if k not in cont and ratio >= args.threshold * noise and b >= 0.5:
            flag = " <-- regression" if both_quiet else " (loaded window?)"
            if both_quiet:
                regressions.append((k, a, b, ratio))
        if flag or tag or ratio >= args.threshold or ratio <= 1 / args.threshold:
            print(f"{k:34s} {a:8.3f} {b:8.3f} {ratio:6.2f}{tag}{flag}")
    if noise > 1.0:
        print(f"-- host-probe noise ratio {noise:.2f}: per-row flag threshold "
              f"scaled to {args.threshold * noise:.2f}x")

    for field in ("ops_sec", "replay_solo_sec", "value"):
        a, b = headline(old, field), headline(new, field)
        ratio = f" ({b / a:.2f}x)" if a and b else ""
        print(f"-- {field}: {fmt(a)} -> {fmt(b)}{ratio}")
    if "contended_rows" in old and "contended_rows" not in new:
        print("-- value definition changed: old = ops_sec + contended replay "
              "wall, new = ops_sec + replay_solo_sec")
    print(f"-- host probe: {old.get('host_canary_mean')} -> "
          f"{new.get('host_canary_mean')} | quality: "
          f"{old.get('record_quality')} -> {new.get('record_quality')}"
          f" | host: {old.get('host_fp')} -> {new.get('host_fp')}")
    print(f"-- contended rows excluded from per-row flags: {len(cont)}")

    if regressions:
        print(f"\n{len(regressions)} per-row regression(s) past "
              f"{args.threshold}x on quiet runs", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
