"""Checks of the harness itself on tiny inputs whose answers are worked out
by hand in the comments. Run with: python3 perfbench/run.py --selftest
"""
import pandas as pd

import oracle
import sensors
import stats


def check(name, got, want):
    ok = got == want
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {got!r}" + ("" if ok else f" != {want!r}"))
    return ok


def main():
    results = []

    # nearest rank over weights 1,1,1,1: half the weight (2) is reached at
    # 20; 95% (3.8) only at 40
    samples = [(30, 1), (10, 1), (40, 1), (20, 1)]
    results.append(check("p50", stats.weighted_quantile(samples, 0.5), 20))
    results.append(check("p95", stats.weighted_quantile(samples, 0.95), 40))
    # a weight-3 sample carries the median: cumulative 1, 4 of 5 -> 2.5 at 20
    results.append(check("weighted p50",
                         stats.weighted_quantile([(10, 1), (20, 3), (30, 1)], 0.5), 20))

    # batch a runs 0..100, b 100..250. Two lines sent at 0 and inserted at
    # 50 commit with a: 100 ms. One line sent at 10, inserted at 120,
    # commits with b: 240 ms.
    lat = stats.commit_latencies([(0, 50, 2), (10, 120, 1)],
                                 [(100, 250, "b"), (0, 100, "a")])
    results.append(check("commit latency", lat, [(100, 2, "a"), (240, 1, "b")]))

    # 200 batches of one line each, latencies 1..200 ms: p95 is the 190th
    # value, 190, and batches 191..200 lie beyond it: 10, the rule holds.
    lat200 = [(float(i), 1, i) for i in range(1, 201)]
    results.append(check("tail 200 batches", stats.tail(lat200), (100.0, 190.0, 10, True)))
    # 199 batches: 95% of 199 is 189.05, so p95 is the 190th value again,
    # and only 191..199 lie beyond: 9, the rule fails
    lat199 = lat200[:199]
    results.append(check("tail 199 batches", stats.tail(lat199), (100.0, 190.0, 9, False)))
    # the rule counts batches, not lines: 10 lines beyond p95 in one batch
    # are one batch
    one_batch = [(1.0, 1, b) for b in range(190)] + [(9.0, 1, "slow")] * 10
    results.append(check("tail counts batches", stats.tail(one_batch)[2:], (1, False)))

    # hysteresis at high 150, low 100:
    #   90 -; 151 rising; 160 -; 120 -; 99 cleared; 150 rising; 100 cleared;
    #   101 -; 150 rising  => 3 rising, 2 cleared
    values = [90, 151, 160, 120, 99, 150, 100, 101, 150]
    results.append(check("alert tally", stats.alert_tally(values, 150, 100), (3, 2)))
    t = sensors.Tally()
    for v in values:
        t.add_reading("x", "k", float(v))
    results.append(check("generator tally agrees", tuple(t.keys["k"][6:8]), (3, 2)))

    # order does not change the file-sink hash; a duplicate line does
    results.append(check("hash ignores order",
                         stats.multiset_hash(["a", "b", "c"]) == stats.multiset_hash(["c", "a", "b"]),
                         True))
    results.append(check("hash sees duplicates",
                         stats.multiset_hash(["a", "b"]) == stats.multiset_hash(["a", "b", "b"]),
                         False))

    # the comparator: identical frames in another row and column order
    # match; one perturbed cell is a failed row, and only that row fails
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    same = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
    bent = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5000001]})
    results.append(check("comparator accepts reordering",
                         oracle.compare(oracle.frame_key(same), oracle.frame_key(want)), None))
    frames = {"good": same, "bent": bent}
    rows = [{"name": n, "pass": 1, "error": None, "oracle": "SELECT 1"} for n in frames]
    import run
    failed = run.board_failures(rows, lambda r: oracle.compare(
        oracle.frame_key(frames[r["name"]]), oracle.frame_key(want)))
    results.append(check("perturbed row is one failed operation", sorted(failed), [("bent", 1)]))

    print(f"{sum(results)}/{len(results)} passed")
    return 0 if all(results) else 1
