#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md for why each exists):
  relational  timed sample of the headline queries outside the pipeline modules
  pipeline    timed sample of the text_pipeline / vector_search / graphq queries
  mvcc_cdc    seeded insert/update/delete/merge/compact + snapshot/point/secondary
              reads on a fresh indexed MVCC table

Closed loop, one client, ``local[nproc]``, the staged sf0.1 layout. A run
sets up, then runs whole passes (query workloads: the timed set in a
seeded order; mvcc_cdc: one round of the op mix) until ``--seconds`` have
passed. Every op's output is checked outside the timed region: queries
against the golden record made from the DuckDB oracle (golden.json),
mvcc_cdc against a model of the ops it issued.

``pass_s`` and ``ops_per_s`` come from the first timed pass only, the first
in a fresh JVM (see README.md, "Cold pass"), so their meaning does not
depend on how many passes fit in ``--seconds``; later passes are listed on
the report line (``passes``) and not gated.

``--trace 1`` makes the same run with the layer trace on and prints the
per-layer metrics of its first pass instead of the end-to-end ones. The
tracer times its own bookkeeping (``trace.overhead_s``); ``steady.py
--trace 1`` also reports traced minus untraced ``pass_s`` over paired
runs of the same seeds.

Output: a ``report`` JSON line (every metric with its unit and sample
count, plus the context record), then the result line the benchmark
contract defines. Exit code 0 only when the run completed.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from workloads import QUERY_WORKLOADS, WORKLOADS, query_order  # noqa: E402

# metric names and units have one owner: BENCHMARK.json at the repo root
with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def pct(values: list[float], q: float) -> float | None:
    """The q-quantile, or None when fewer than ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _err(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.per_name: dict[str, list[float]] = {}  # query name / mvcc op kind -> latencies
        self.passes: list[tuple[float, int]] = []  # (timed seconds, ops) per pass
        self.plan_s = 0.0
        self.pass_s = 0.0  # timed op seconds of the current pass
        self.layers: dict = {}  # folded trace of the first traced pass
        self.pass_ops = 0  # timed ops of the current pass
        self.tracer = None
        self.setup_parts: dict[str, float] = {}

    # -- bookkeeping -------------------------------------------------------
    def record(self, name: str, seconds: float | None, problem: str | None) -> None:
        self.attempted += 1
        if seconds is None or problem is not None:
            self.failed += 1
            if problem:
                self.mismatches.append(problem)
                _err(f"check failed: {problem}")
            return
        self.per_name.setdefault(name, []).append(seconds)
        self.pass_s += seconds
        self.pass_ops += 1

    def span(self, name, layer, phase=None):
        import contextlib

        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, phase)

    # -- query workloads ---------------------------------------------------
    def query_pass(self, pass_no: int, traced: bool) -> None:
        spark, registry, golden = self.spark, self.registry, self.golden
        for name in query_order(self.args.workload, self.args.seed, pass_no):
            fn = registry[name].fn
            try:
                t0 = time.perf_counter()
                with self.span(f"queries.{name}", "queries", "build"):
                    df = fn(spark, self.staged)
                with self.span("session.exec", "session", "exec"):
                    if traced:
                        self.plan_s += self._plan_seconds(df)
                    rows = df.collect()
                dt = time.perf_counter() - t0
            except Exception:
                _err(f"{name} raised:\n{traceback.format_exc()}")
                self.record(name, None, None)
                spark.catalog.clearCache()
                continue
            got = harness.digest(df.columns, [tuple(r) for r in rows])
            want = golden[name]
            problem = None
            if want.get("sha256") is None:  # no oracle: row count only
                if got["rows"] != want["rows"]:
                    problem = f"{name}: {got['rows']} rows, golden {want['rows']}"
            elif got != {k: want[k] for k in got}:
                problem = f"{name}: {got['rows']} rows {got['sha256'][:12]}, golden {want['rows']} rows {want['sha256'][:12]}"
            self.record(name, dt, problem)
            spark.catalog.clearCache()

    def _plan_seconds(self, df) -> float:
        """Analysis + optimization + planning time of the frame's query
        execution, from Spark's QueryPlanningTracker. Forcing the executed
        plan here costs the collect that follows nothing (it reuses the
        same QueryExecution); the py4j round trips count as tracing cost."""
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = {}
        for k in ("analysis", "optimization", "planning"):
            opt = phases.get(k)
            ms[k] = opt.get().durationMs() if opt.isDefined() else 0
        # analysis ran when the frame was built; the other two phases would
        # have run inside collect
        own = ms["optimization"] + ms["planning"]
        self.tracer.cost_s += time.perf_counter() - t0 - own / 1e3
        return sum(ms.values()) / 1e3

    # -- mvcc_cdc ----------------------------------------------------------
    def cdc_pass(self, pass_no: int, traced: bool) -> None:
        for op in next(self.cdc.rounds):
            try:
                with self.span(f"op.{op.kind}", "op", "op"):
                    dt, problem = self.cdc.run_op(op, trace_counts=traced)
            except Exception:
                _err(f"{op.kind} raised:\n{traceback.format_exc()}")
                self.record(op.kind, None, None)
                continue
            self.record(op.kind, dt, problem)

    # -- orchestration -----------------------------------------------------
    def main(self) -> dict:
        a = self.args
        t_start = time.perf_counter()
        harness.isolate_env()
        if a.trace:
            from layertrace import Tracer

            self.tracer = Tracer(lambda: getattr(self, "spark", None) and self.spark.sparkContext,
                                 run_id=f"{a.workload}-{a.seed}")
            self.tracer.active = True
            self.tracer.install()
        import bench  # noqa: F401  (after install: bench binds load_table)
        from pixels_spark.queries import load_all_modules

        self.registry = load_all_modules()
        parts = self.setup_parts
        parts["imports_s"] = time.perf_counter() - t_start
        t0 = time.perf_counter()
        self.spark = harness.start_session()
        parts["session_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        queries = a.workload in QUERY_WORKLOADS
        self.staged, storage = harness.prepare(self.spark, derived=queries)
        parts["prepare_s"] = time.perf_counter() - t0
        if queries:
            with open(os.path.join(harness.HERE, "golden.json")) as f:
                self.golden = json.load(f)
            # first-call JIT/planning warm-up, as bench.py does
            t0 = time.perf_counter()
            self.registry["tpch_q6"].fn(self.spark, self.staged).collect()
            parts["warmup_s"] = time.perf_counter() - t0
            run_pass = self.query_pass
        else:
            from mvcc_cdc import CdcWorkload

            root = os.path.join(harness.CACHE, "mvcc", f"{os.getpid()}-{a.seed}")
            self.cdc = CdcWorkload(self.spark, self.staged, a.seed, root, self.tracer, self.span)
            parts["table_load_s"] = self.cdc.setup_s
            run_pass = self.cdc_pass
        setup_s = sum(parts.values())
        if self.tracer:
            self.setup_spans = list(self.tracer.spans)
            self.tracer.active = False
        try:
            t_end = time.perf_counter() + a.seconds
            p = 0
            while p == 0 or time.perf_counter() < t_end:
                self._one_pass(run_pass, p, bool(a.trace))
                p += 1
            if a.workload == "mvcc_cdc":
                problem = self.cdc.final_check()
                self.attempted += 1
                if problem:
                    self.failed += 1
                    self.mismatches.append(problem)
                    _err(f"check failed: {problem}")
            return self._result(setup_s, storage)
        finally:
            if a.workload == "mvcc_cdc":
                self.cdc.close()

    def _one_pass(self, run_pass, p: int, traced: bool) -> None:
        tr = self.tracer
        if tr is not None:
            tr.active = traced
            i0, plan0, cost0 = len(tr.spans), self.plan_s, tr.cost_s
        self.pass_s, self.pass_ops = 0.0, 0
        run_pass(p, traced)
        self.passes.append((self.pass_s, self.pass_ops))
        if tr is not None:
            tr.active = False
            if p == 0:
                self.layers = self._fold_pass(tr.spans[i0:], self.pass_s, self.plan_s - plan0)
                self.layers["trace.overhead_s"] = tr.cost_s - cost0

    def _fold_pass(self, spans, wall: float, plan_s: float) -> dict:
        from layertrace import self_times, spark_jobs

        tr = self.tracer
        by_group = {tr.group_of(s.idx): s for s in spans}
        jobs, stages = spark_jobs(self.spark, set(by_group))
        st = self_times(spans)
        idx = {s.idx: s for s in spans}

        def outermost(s, layer):
            p = s.parent
            while p is not None and p in idx:
                if idx[p].layer == layer:
                    return False
                p = idx[p].parent
            return True

        def incl(pred, layer):
            return sum(s.end - s.start for s in spans if pred(s) and outermost(s, layer))

        calls = Counter(s.layer for s in spans)
        self_s = Counter()
        for s in spans:
            self_s[s.layer] += st[s.idx]
        run_ms = sum(s["executorRunTime"] for s in stages)
        cpu_ns = sum(s["executorCpuTime"] for s in stages)
        mb = 2**20
        m = {
            "catalog.load_table_calls": sum(s.name.startswith("catalog.load_table") for s in spans),
            "catalog.load_table_s": incl(lambda s: s.name.startswith("catalog.load_table"), "catalog"),
            "queries.build_s": incl(lambda s: s.layer == "queries", "queries"),
            "queries.build_jobs": sum(by_group[j["jobGroup"]].phase == "build" for j in jobs),
            "session.plan_s": plan_s,
            "session.exec_s": incl(lambda s: s.name == "session.exec", "session"),
            "session.jobs": len(jobs),
            "session.stages": len(stages),
            "session.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "session.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "session.task_run_s": run_ms / 1e3,
            "session.task_cpu_s": cpu_ns / 1e9,
            "session.task_wait_s": run_ms / 1e3 - cpu_ns / 1e9,
            "session.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "session.slot_busy_ratio": (run_ms / 1e3) / (wall * harness.cores()),
            "session.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "session.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
            "session.spill_mb": sum(s["diskBytesSpilled"] + s["memoryBytesSpilled"] for s in stages) / mb,
            "session.input_mb": sum(s["inputBytes"] for s in stages) / mb,
        }
        for layer in ("functions", "operators", "sql"):
            m[f"{layer}.calls"] = calls[layer]
            m[f"{layer}.self_s"] = self_s[layer]
        for meth in ("insert", "update", "delete", "merge", "read", "point_lookup"):
            m[f"mvcc.{meth}_s"] = incl(lambda s, n=f"mvcc.MvccTable.{meth}": s.name == n, "mvcc")
        m["mvcc.compact_s"] = incl(lambda s: s.name == "mvcc.MvccTable.compact_history", "mvcc")
        m["mvcc.secondary_lookup_s"] = incl(lambda s: s.name == "mvcc.SecondaryIndex.lookup", "mvcc")
        trans = [s for s in spans if s.name.startswith("mvcc.TransService.")]
        m["mvcc.trans_s"] = sum(s.end - s.start for s in trans)
        m["mvcc.trans_calls"] = len(trans)
        return m

    def _result(self, setup_s: float, storage: dict) -> dict:
        a = self.args
        first_s, first_ops = self.passes[0]
        metrics = {
            "setup_s": setup_s,
            "pass_s": first_s,
            "ops_per_s": first_ops / first_s if first_ops else 0.0,
        }
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
        report = {k: {"value": v, "unit": units[k], "n": 1} for k, v in metrics.items()}
        report["ops_per_s"]["n"] = first_ops
        report["peak_rss_mb"] = {"value": harness.peak_rss_mb(self.spark), "unit": "MB", "n": 1}
        lat = self.per_name
        if a.workload == "mvcc_cdc":
            groups = {
                "op": [x for v in lat.values() for x in v],
                "write": [x for k in ("insert", "update", "delete", "merge", "compact") for x in lat.get(k, [])],
                "lookup": [x for k in ("point_lookup", "secondary_lookup") for x in lat.get(k, [])],
                "scan": lat.get("scan", []),
            }
            report["stored_mb"] = {"value": self.cdc.stored_mb(), "unit": "MB", "n": 1}
        else:
            groups = {"query": [x for v in lat.values() for x in v]}
        for g, xs in groups.items():
            for q in (0.5, 0.9):
                report[f"{g}_p{round(q * 100)}_s"] = {"value": pct(xs, q), "unit": "s", "n": len(xs)}
        report["fail_ratio"] = {"value": self.failed / max(self.attempted, 1), "unit": "ratio", "n": self.attempted}
        if a.trace:
            metrics = self._layer_metrics(storage)
            report.update({k: {"value": v, "unit": units[k], "n": 1} for k, v in metrics.items()})
        kind = "per_layer" if a.trace else "end_to_end"
        out_metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in SPEC[kind]}
        print(json.dumps({
            "report": report,
            "context": harness.context(self.spark, a.workload, a.seed, bool(a.trace)),
            "setup_parts_s": self.setup_parts,
            "passes": [{"seconds": t, "ops": n} for t, n in self.passes],
            "per_op_s": self.per_name,
            "mismatches": self.mismatches[:20],
        }), flush=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": out_metrics,
        }

    def _layer_metrics(self, storage: dict) -> dict:
        """Layer sums of the first pass, set-up figures of the run and MVCC
        layout figures over all the run's writes."""
        m = dict(self.layers)
        m["storage.stage_s"] = storage["stage_s"]
        m["storage.derived_build_s"] = storage["derived_build_s"]
        m["storage.derived_calls"] = sum(s.name == "storage.ensure_derived" for s in self.setup_spans)
        cdc = getattr(self, "cdc", None)
        m["mvcc.files_per_commit"] = cdc.files_written / cdc.commits if cdc and cdc.commits else 0.0
        m["mvcc.bytes_per_row_written"] = cdc.bytes_written / cdc.rows_written if cdc and cdc.rows_written else 0.0
        m["mvcc.commit_dirs"] = cdc.peak_commit_dirs if cdc else 0
        m["mvcc.pk_candidate_ratio"] = statistics.mean(cdc.pk_ratio) if cdc and cdc.pk_ratio else 0.0
        m["mvcc.sidx_candidate_ratio"] = statistics.mean(cdc.sidx_ratio) if cdc and cdc.sidx_ratio else 0.0
        return m


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops the processes it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args)
    try:
        result = run.main()
    except harness.MissingProgram as e:
        _err(f"perfbench: {e}")
        return 2
    finally:
        harness.stop_session()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
