#!/usr/bin/env python3
"""Runs the benchmark on two checkouts in alternating pairs and compares them.

    python3 scripts/bench_pairs.py --base <dir> --change <dir> \\
        --workloads log_ingest,kv_serve --seeds 1-10 [--seconds 12] [--trace 0] \\
        [--extra spark.jobs,self_ms.kv.write] [--out runs.jsonl]

For every workload and seed it runs `perfbench/run.py` once in each
checkout, base first on even pair numbers and change first on odd ones, so
neither side always runs on a warmer (or busier) machine. Both checkouts
must already hold a built benchmark or be able to build one.

For each workload and side it prints, per end-to-end metric of
`BENCHMARK.json` (and per `--extra` metric), the median and quartiles of
the runs, and the number of pairs the change won (better in the direction
`BENCHMARK.json` gives; extras count lower as better). It also prints every
run's exit code, its `correct` flag, and how many `CodeCache is full` lines
the run printed. `--out` keeps one JSON line per run. Standard library only.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

CODE_CACHE = "CodeCache is full"
REPORT = re.compile(r"\[perfbench\] (?:e2e|layer) (\S+) = (\S+) ")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else {}
    except json.JSONDecodeError:
        result = {}
    metrics = {k: v.get("value") for k, v in result.get("metrics", {}).items()
               if isinstance(v, dict)}
    # a traced run's result line carries the per-layer metrics only; its
    # end-to-end values are in the report lines
    for line in lines:
        m = REPORT.match(line)
        if m:
            metrics.setdefault(m.group(1), float(m.group(2)))
    return {"workload": workload, "seed": seed, "exit": proc.returncode,
            "correct": result.get("correct"), "metrics": metrics,
            "code_cache_full": (proc.stdout + proc.stderr).count(CODE_CACHE),
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload, runs, gated, extras):
    print(f"== {workload}")
    pairs = [(b, c) for b, c in runs if b["workload"] == workload]
    for name, better in [(g["name"], g["better"]) for g in gated] + [(e, "lower") for e in extras]:
        cells = []
        for side in (0, 1):
            xs = [p[side]["metrics"].get(name) for p in pairs]
            xs = [x for x in xs if isinstance(x, (int, float))]
            q1, med, q3 = quartiles(xs)
            cells.append(f"{'base' if side == 0 else 'change'} median {med} IQR {q1}-{q3} (n={len(xs)})")
        wins = 0
        for b, c in pairs:
            x, y = b["metrics"].get(name), c["metrics"].get(name)
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                wins += (y < x) if better == "lower" else (y > x)
        print(f"  {name} ({better} is better): " + "; ".join(cells) +
              f"; change wins {wins}/{len(pairs)}")
    for side, label in ((0, "base"), (1, "change")):
        print(f"  {label} exit codes: " + " ".join(
            f"s{p[side]['seed']}={p[side]['exit']}" for p in pairs))
        print(f"  {label} correct: " + " ".join(
            f"s{p[side]['seed']}={p[side]['correct']}" for p in pairs))
        print(f"  {label} 'CodeCache is full' lines: " + " ".join(
            f"s{p[side]['seed']}={p[side]['code_cache_full']}" for p in pairs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--extra", default="", help="more metric names to summarize")
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    extras = [e for e in args.extra.split(",") if e]
    runs = []
    out = args.out.open("a") if args.out else None
    for workload in args.workloads.split(","):
        for i, seed in enumerate(seeds_of(args.seeds)):
            order = [(0, args.base), (1, args.change)]
            if i % 2:
                order.reverse()
            pair = [None, None]
            for side, checkout in order:
                r = run_once(checkout, workload, seed, args.seconds, args.trace)
                r["side"] = "base" if side == 0 else "change"
                pair[side] = r
                print(f"[pairs] {workload} seed {seed} {r['side']}: exit {r['exit']} "
                      f"correct {r['correct']} code-cache-full {r['code_cache_full']} "
                      + " ".join(f"{g['name']}={r['metrics'].get(g['name'])}"
                                 for g in bench["end_to_end"]), file=sys.stderr, flush=True)
                if out:
                    out.write(json.dumps(r) + "\n")
                    out.flush()
            runs.append(tuple(pair))
    if out:
        out.close()
    for workload in args.workloads.split(","):
        summarize(workload, runs, bench["end_to_end"], extras)


if __name__ == "__main__":
    main()
