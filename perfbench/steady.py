#!/usr/bin/env python3
"""Steadiness mode: run the benchmark repeatedly and report each metric's
spread against its bound from BENCHMARK.json.

Each run is a separate process with its own seed (seeds 1..n), exactly
as ``run.py`` is invoked for a result. A run that fails, or leaves any
process of its session running after it exits, stops the mode. Per
workload and metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``), the spread (q3 - q1) / median,
and the bound. A spread within a third of the bound is steady;
``setup_s``'s spread is reported but not held to its bound, which
applies to the drift of its median between two sets of runs.

    python3 perfbench/steady.py --runs 10 [--workload relational ...]

With ``--trace 1`` each seed runs three times: untraced, traced, and
traced again. It prints each per-layer metric's median, the tracing
overhead as traced minus untraced ``pass_s`` (median over seeds), and
every count that differs between the two traced runs of one seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    # Its own session, so that whatever it leaves running can be found;
    # output goes to files, not pipes, since a pipe would also wait for
    # any process that inherited it.
    tmp = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(tmp, exist_ok=True)
    with tempfile.TemporaryFile("w+", dir=tmp) as fo, tempfile.TemporaryFile("w+", dir=tmp) as fe:
        with subprocess.Popen(cmd, cwd=ROOT, stdout=fo, stderr=fe, start_new_session=True) as p:
            try:
                p.wait(timeout=300)
            except subprocess.TimeoutExpired:
                p.kill()
                raise
        left = session_members(p.pid)
        fo.seek(0), fe.seek(0)
        out, err = fo.read(), fe.read()
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{err[-3000:]}")
    if left:
        raise SystemExit(f"{workload} seed {seed}: processes left running: {left}")
    lines = out.strip().splitlines()
    return {"wall_s": wall, "report": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[3] == str(sid) and fields[0] != "Z":
            out.append(int(d))
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def trace_mode(workloads, args, spec) -> int:
    for w in workloads:
        rows = []
        for seed in range(1, args.runs + 1):
            plain = run_once(w, seed, spec["run_seconds"], 0)
            a = run_once(w, seed, spec["run_seconds"], 1)
            b = run_once(w, seed, spec["run_seconds"], 1)
            rows.append((plain, a, b))
            ma, mb = a["result"]["metrics"], b["result"]["metrics"]
            counts = [k for k, v in ma.items() if v["unit"] in ("count", "files", "ratio")
                      and not k.endswith("slot_busy_ratio")]
            differ = [k for k in counts if ma[k]["value"] != mb[k]["value"]]
            print(f"{w} seed={seed}: traced runs repeat {len(counts) - len(differ)}/{len(counts)} counts"
                  + (f"; differ: {differ}" if differ else ""), flush=True)
        plain_pass = statistics.median(p["report"]["report"]["pass_s"]["value"] for p, _a, _b in rows)
        traced_pass = statistics.median(
            x["report"]["report"]["pass_s"]["value"] for _p, a, b in rows for x in (a, b))
        print(f"\n{w}: pass_s untraced {plain_pass:.3f} s, traced {traced_pass:.3f} s, "
              f"overhead {traced_pass - plain_pass:+.3f} s ({(traced_pass - plain_pass) / plain_pass:+.1%})")
        for k in rows[0][1]["result"]["metrics"]:
            vals = [x["result"]["metrics"][k]["value"] for _p, a, b in rows for x in (a, b)]
            print(f"  {k:32s} median {statistics.median(vals):.6g} {rows[0][1]['result']['metrics'][k]['unit']}")
    return 0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        return trace_mode(workloads, args, spec)
    runs: dict[str, list[dict]] = {}
    for w in workloads:
        for seed in range(1, args.runs + 1):
            r = run_once(w, seed, spec["run_seconds"], args.trace)
            runs.setdefault(w, []).append(r)
            m = r["result"]["metrics"]
            print(f"{w} seed={seed} wall={r['wall_s']:.1f}s correct={r['result']['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items() if k in bounds and bounds[k] is not None),
                  flush=True)
    worst = 0.0
    for w, rs in runs.items():
        print(f"\n{w}: {len(rs)} runs, wall median {statistics.median(r['wall_s'] for r in rs):.1f}s, "
              f"failed {sum(r['result']['failed'] for r in rs)}/{sum(r['result']['attempted'] for r in rs)}")
        for k in rs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][k]["value"] for r in rs]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            b = bounds.get(k)
            verdict = ""
            if b is not None:
                verdict = "steady" if sp <= b / 3 else ("within bound" if sp <= b else "UNSTEADY")
                if k != "setup_s":
                    worst = max(worst, sp / b)
            print(f"  {k:32s} median {med:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} spread {sp:7.2%}"
                  + (f"  bound {b:.0%}  {verdict}" if b is not None else ""))
    print(f"\nworst spread / bound (setup_s excluded): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
