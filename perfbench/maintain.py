#!/usr/bin/env python3
"""Maintenance commands for the benchmark (run from the repository root).

    python3 perfbench/maintain.py selftest       # tiny run of every workload at sf0.001
    python3 perfbench/maintain.py fingerprints   # rewrite perfbench/fingerprints.json
    python3 perfbench/maintain.py oracle         # slice results vs DuckDB (tools/diff_oracle.py)
    python3 perfbench/maintain.py spread [--workloads a,b] [--seeds N] [--seconds S]
                                                 # per-metric quartile spread over seeds

`selftest` checks that every metric named in BENCHMARK.json is emitted
with its unit, that a clean run reports no failure, and that one
deliberately malformed statement (injected only here) counts as failed.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

import run as bench

ROOT = bench.ROOT
DATA = bench.BENCH / "data"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def harness(workload, seed=1, seconds=2, trace=0, data="sf0.01", setups=3,
            malformed=0, mode="run", out=None):
    a = bench.parser().parse_args([
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", str(DATA / data), "--setups", str(setups),
        "--inject-malformed", str(malformed), "--mode", mode]
        + (["--out", str(out)] if out else []))
    return bench.launch(a)


def lines_of(fn):
    """Run fn while capturing what it prints to stdout."""
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result = fn()
    return result, buf.getvalue().splitlines()


def selftest(_):
    assert bench.build(), "build failed"
    problems = []
    for w in bench.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = harness(w, seconds=2, trace=trace, data="sf0.001", setups=1)
            if res is None:
                problems.append(f"{w} trace={trace}: no result (exit {code})")
                continue
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                                f"or units differ")
            if not res["correct"] or res["failed"] != 0:
                problems.append(f"{w} trace={trace}: {res['failed']} failed of {res['attempted']}")
            print(f"ok {w} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations, {res['failed']} failed")
    code, res = harness("wire_short", seconds=2, data="sf0.001", setups=1, malformed=1)
    if res is None or res["failed"] != 1 or res["correct"]:
        problems.append(f"malformed statement not counted as exactly one failure: {res}")
    else:
        print("ok wire_short: the malformed statement counted as 1 failed")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


def fingerprints(_):
    assert bench.build(), "build failed"
    out = {}
    for data in ("sf0.01", "sf0.001"):
        (code, _), lines = lines_of(lambda: harness("batch", data=data, mode="fingerprints",
                                                    setups=1))
        assert code == 0, f"fingerprint run failed on {data}"
        out[data] = json.loads([l for l in lines if l.startswith("{")][-1])
    path = bench.BENCH / "fingerprints.json"
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {path}")
    print("| query | rows | collect exch/sort | noop exch/sort | count exch/sort |")
    print("|---|---|---|---|---|")
    for q, f in out["sf0.01"].items():
        print(f"| {q} | {f['rows']} | {f['collect_exchanges']}/{f['collect_sorts']} | "
              f"{f['noop_exchanges']}/{f['noop_sorts']} | "
              f"{f['count_exchanges']}/{f['count_sorts']} |")
    return 0


def oracle(_):
    assert bench.build(), "build failed"
    out = bench.BUILD / "oracle-dump"
    code, _ = harness("batch", mode="dump", out=out, setups=1)
    assert code == 0, "dump failed"
    return subprocess.run([sys.executable, str(ROOT / "tools" / "diff_oracle.py"),
                           str(DATA / "sf0.01"), str(out)]).returncode


def spread(a):
    assert bench.build(), "build failed"
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in SPEC["workloads"]]
    worst = 0.0
    for w in workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            (code, res), _ = lines_of(lambda: harness(w, seed=seed, seconds=a.seconds))
            if res is None or not res["correct"]:
                print(f"{w} seed {seed}: run failed ({code}) {res and res['failed']}")
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, vs in values.items():
            if len(vs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            rel = (q3 - q1) / med
            flag = "" if rel < bounds[k] / 3 else ("  > bound/3" if rel <= bounds[k] else "  > BOUND")
            worst = max(worst, rel / bounds[k])
            print(f"  {w:10s} {k:12s} median={med:.4g} iqr/median={rel:.3f} "
                  f"bound={bounds[k]}{flag}")
    print(f"worst spread as a share of its bound: {worst:.2f}")
    return 0 if worst <= 1 else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("selftest").set_defaults(fn=selftest)
    sub.add_parser("fingerprints").set_defaults(fn=fingerprints)
    sub.add_parser("oracle").set_defaults(fn=oracle)
    s = sub.add_parser("spread")
    s.add_argument("--workloads", default=None)
    s.add_argument("--seeds", type=int, default=10)
    s.add_argument("--first-seed", type=int, default=1)
    s.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    s.set_defaults(fn=spread)
    a = p.parse_args()
    return a.fn(a)


if __name__ == "__main__":
    sys.exit(main())
