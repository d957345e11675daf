"""Interleaved A/B of ``perfbench/run.py`` between two checkouts.

    python3 scripts/perfbench_ab.py --a /path/to/parent --b . \\
        --workloads web_pages kg_analytics --seeds 1 2 3 --out BENCH/ab.json

For every seed and workload, runs the benchmark once in each checkout (the
order alternates from seed to seed, so drift over the session cancels) and
records the run's metrics, its wall time and the host's CPU steal during the
run (from ``/proc/stat``). Writes every run plus, per workload and metric
declared in BENCHMARK.json, each side's quartiles, the per-pair B/A ratios
and B's pair wins to ``--out``.

Each end-to-end metric also gets a verdict, printed and written with it:
``gain`` when B wins at least 9 of 10 pairs and its median beats A's by
more than A's interquartile range; otherwise ``regression`` when B's median
is worse than A's by more than the metric's bound in BENCHMARK.json;
otherwise ``unresolved`` when A's interquartile range is wider than the
bound (relative to A's median) and not every B run beats every A run; and
``within bound`` when none of these holds.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time


def declared_metrics(checkout: str) -> dict[str, tuple[bool, float | None]]:
    """Every metric BENCHMARK.json declares -> (whether higher is better,
    its regression bound; None for per-layer metrics)."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: (m["better"] == "higher", m.get("bound"))
            for m in bench["end_to_end"] + bench["per_layer"]}


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def run_one(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    s0, t0 = cpu_times()
    w0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - w0
    s1, t1 = cpu_times()
    rec = {"workload": workload, "seed": seed, "trace": trace, "wall_s": round(wall, 2),
           "steal": round((s1 - s0) / max(t1 - t0, 1), 4), "returncode": proc.returncode}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        rec["stderr_tail"] = proc.stderr[-2000:]
        return rec
    out = json.loads(lines[-1])
    rec.update(failed=out["failed"], attempted=out["attempted"],
               metrics={k: v["value"] for k, v in out["metrics"].items()})
    return rec


def quartiles(xs: list[float]) -> list[float]:
    """[q1, median, q3]; with fewer than two values, that value three times."""
    if len(xs) < 2:
        return list(xs) * 3
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return [q[0], statistics.median(xs), q[2]]


def verdict(higher: bool, bound: float, vals: dict[str, list[float]],
            b_wins: int, pairs: int) -> str:
    """``gain``, ``regression``, ``unresolved`` or ``within bound`` (see the
    module doc)."""
    qa, qb = quartiles(vals["a"]), quartiles(vals["b"])
    gap = (qb[1] - qa[1]) if higher else (qa[1] - qb[1])  # > 0: B better
    if pairs and 10 * b_wins >= 9 * pairs and gap > qa[2] - qa[0]:
        return "gain"
    scale = abs(qa[1]) or 1.0
    if -gap / scale > bound:
        return "regression"
    b_all_better = (min(vals["b"]) > max(vals["a"])) if higher else (max(vals["b"]) < min(vals["a"]))
    if (qa[2] - qa[0]) / scale > bound and not b_all_better:
        return "unresolved"
    return "within bound"


def summarize(runs: list[dict], workloads, seeds,
              metrics: dict[str, tuple[bool, float | None]]) -> dict:
    """Per workload and declared metric the runs report: each side's
    quartiles, the B/A ratio of every seed's pair, how many pairs B wins
    (ties count for neither side) and, for end-to-end metrics, the
    verdict."""
    summary = {}
    for wl in workloads:
        side = {s: {r["seed"]: r for r in runs
                    if r["workload"] == wl and r["side"] == s and "metrics" in r}
                for s in ("a", "b")}
        entry = {"failed": {s: sum(r["failed"] for r in side[s].values()) for s in side},
                 "steal_median": statistics.median(
                     r["steal"] for s in side for r in side[s].values())}
        for m, (higher, bound) in metrics.items():
            if not all(m in r["metrics"] for s in side for r in side[s].values()):
                continue
            vals = {s: [r["metrics"][m] for r in side[s].values()] for s in side}
            pairs = [(side["a"][k]["metrics"][m], side["b"][k]["metrics"][m])
                     for k in seeds if k in side["a"] and k in side["b"]]
            qa, qb = quartiles(vals["a"]), quartiles(vals["b"])
            b_wins = sum((b > a) if higher else (b < a) for a, b in pairs)
            entry[m] = {
                "a_q1_med_q3": qa, "b_q1_med_q3": qb,
                "change": qb[1] / qa[1] - 1 if qa[1] else None,
                "pair_ratios_b_over_a": [round(b / a, 4) if a else None for a, b in pairs],
                "b_wins": b_wins,
                "pairs": len(pairs),
            }
            if bound is not None:
                entry[m]["verdict"] = verdict(higher, bound, vals, b_wins, len(pairs))
        summary[wl] = entry
    return summary


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--a", required=True, help="checkout A (baseline)")
    p.add_argument("--b", required=True, help="checkout B (change)")
    p.add_argument("--workloads", nargs="+", default=["web_pages", "kg_analytics"])
    p.add_argument("--seeds", nargs="+", type=int, default=[1, 2, 3])
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--labels", nargs=2, default=["a", "b"], metavar=("A", "B"),
                   help="names of the two checkouts in the output")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    sides = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    runs = []
    for k, seed in enumerate(args.seeds):
        for wl in args.workloads:
            for side in (("a", "b") if k % 2 == 0 else ("b", "a")):
                rec = {"side": side, **run_one(sides[side], wl, seed, args.seconds, args.trace)}
                runs.append(rec)
                print(json.dumps({x: rec.get(x) for x in
                                  ("side", "workload", "seed", "wall_s", "steal", "failed")}),
                      file=sys.stderr, flush=True)
    summary = summarize(runs, args.workloads, args.seeds, declared_metrics(sides["b"]))
    for wl, entry in summary.items():
        for m, st in entry.items():
            if isinstance(st, dict) and "verdict" in st:
                print(f"{wl} {m}: {st['verdict']} (median {st['a_q1_med_q3'][1]:.4g} -> "
                      f"{st['b_q1_med_q3'][1]:.4g}, B wins {st['b_wins']}/{st['pairs']}, "
                      f"A IQR {st['a_q1_med_q3'][2] - st['a_q1_med_q3'][0]:.4g})")
    result = {
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "checkouts": dict(zip(("a", "b"), args.labels)), "seconds": args.seconds, "trace": args.trace,
        "summary": summary,
        "runs": runs,
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
