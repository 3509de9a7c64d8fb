"""The mvcc_cdc workload: a seeded CDC op mix on a fresh indexed MVCC table.

The table is ``MvccTable(key_col="event_id", indexed=True)`` with a
``SecondaryIndex`` on ``user_id``, loaded over ``LOAD_COMMITS`` commits
from the staged ``events`` table minus a held-out pool that later inserts
and merges draw from. ``index_files`` is the session's shuffle-partition
count, the table's documented default: left unset, adaptive execution
coalesces a small commit into one file. Every op is checked against an
in-benchmark model of the ops issued (a dict from event id to row); the
check runs outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

from harness import DATA_DIR
from workloads import LOAD_COMMITS, CdcPlan

COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def _canon(row) -> tuple:
    eid, ts, uid, et, v, props = row
    # Arrow hands back UTC-aware timestamps; the session and fixture are UTC
    return (int(eid), ts.replace(tzinfo=None).isoformat(), int(uid), et, repr(float(v)), props)


class CdcWorkload:
    def __init__(self, spark, staged: str, seed: int, root: str, tracer, span):
        """``tracer`` is None in untraced runs; ``span(name, layer, phase)``
        opens a trace span (a no-op context when untraced)."""
        from pyspark.sql import functions as F

        from pixels_spark.catalog import load_table
        from pixels_spark.mvcc.secondary import SecondaryIndex
        from pixels_spark.mvcc.table import MvccTable

        self.spark, self.root, self.tracer, self.span = spark, root, tracer, span
        events = load_table(spark, staged, "events").select(*COLS)
        self.schema = events.schema
        # model source: the fixture's events (the staged table is a
        # repartitioned copy), read without Spark
        cols = pq.read_table(os.path.join(DATA_DIR, "events.parquet"), columns=list(COLS))
        self.base = {r[0]: r for r in zip(*(cols.column(c).to_pylist() for c in COLS))}
        self.plan = CdcPlan(seed, list(self.base), sorted({r[2] for r in self.base.values()}))
        self.model = {k: self.base[k] for k in self.plan.initial}
        self.rounds = self.plan.rounds()

        # timed set-up: fresh table, initial load, secondary index
        t0 = time.perf_counter()
        shutil.rmtree(root, ignore_errors=True)
        files = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.table = MvccTable(spark, root, key_col="event_id", indexed=True, index_files=files)
        initial = events.filter(~F.col("event_id").isin(self.plan.pool))
        for i in range(LOAD_COMMITS):
            self.table.insert(initial.filter(F.pmod("event_id", F.lit(LOAD_COMMITS)) == i))
        self.sidx = SecondaryIndex(self.table, "user_id")
        self.sidx.build()
        self.setup_s = time.perf_counter() - t0
        self.files_written = 0
        self.bytes_written = 0
        self.rows_written = 0
        self.commits = 0
        self.peak_commit_dirs = 0  # data + delete commit dirs, before compaction
        self.pk_ratio: list[float] = []
        self.sidx_ratio: list[float] = []

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    # -- helpers -------------------------------------------------------------
    def _df(self, rows):
        return self.spark.createDataFrame(rows, self.schema)

    def _written(self, ts: int, rows: int) -> None:
        d = os.path.join(self.table.data_dir, f"_commit={ts}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")] if os.path.isdir(d) else []
        self.files_written += len(files)
        self.bytes_written += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.rows_written += rows
        self.commits += 1

    def _live_files(self) -> int:
        n = 0
        for r, _d, files in os.walk(self.table.data_dir):
            n += sum(f.endswith(".parquet") for f in files)
        return max(n, 1)

    def _candidate_ratios(self, op) -> None:
        """Files a lookup may open over live data files, measured from the
        index manifests (only in traced runs)."""
        if op.kind == "point_lookup":
            hw = self.table.trans.high_watermark
            n = sum(
                1 for e in self.table.manifest.load()
                if e["commit_ts"] <= hw and e["min"] <= op.probe <= e["max"]
                and os.path.exists(e["path"])
            )
            self.pk_ratio.append(n / self._live_files())
        else:
            self.sidx_ratio.append(len(self.sidx.candidate_files(op.probe)) / self._live_files())

    def stored_mb(self) -> float:
        n = 0
        for r, _d, files in os.walk(self.root):
            n += sum(os.path.getsize(os.path.join(r, f)) for f in files)
        return n / 2**20

    def commit_dirs(self) -> int:
        return sum(
            e.startswith("_commit=")
            for d in (self.table.data_dir, self.table.delete_dir)
            if os.path.isdir(d)
            for e in os.listdir(d)
        )

    # -- one op: returns (seconds, mismatch description or None) ------------
    def run_op(self, op, trace_counts: bool = False):
        from pyspark.sql import functions as F

        t, sidx, m = self.table, self.sidx, self.model
        if op.kind in ("insert", "update", "merge"):
            new = {}
            for k, v, u in zip(op.keys, op.values, op.users):
                eid, ts, _u, et, _v, props = m[k]
                new[k] = (eid, ts, u, et, v, props)
            for k in op.new_keys if op.kind == "merge" else op.keys if op.kind == "insert" else ():
                new[k] = self.base[k]
            df = self._df([new[k] for k in sorted(new)])
            call = {"insert": t.insert, "update": t.update, "merge": t.merge}[op.kind]
            t0 = time.perf_counter()
            ts = call(df)
            sidx.index_commit(ts)
            dt = time.perf_counter() - t0
            m.update(new)
            self._written(ts, len(new))
            return dt, None
        if op.kind == "delete":
            t0 = time.perf_counter()
            t.delete(op.keys)
            dt = time.perf_counter() - t0
            for k in op.keys:
                m.pop(k)
            return dt, None
        if op.kind == "compact":
            self.peak_commit_dirs = max(self.peak_commit_dirs, self.commit_dirs())
            t0 = time.perf_counter()
            t.compact_history()
            sidx.build()
            dt = time.perf_counter() - t0
            self._written(t.trans.high_watermark, len(m))
            return dt, None
        if op.kind == "scan":
            t0 = time.perf_counter()
            with self.span("session.exec", "session", "exec"):
                row = t.read().agg(
                    F.count("*"), F.sum("event_id"), F.sum("user_id")
                ).collect()[0]
            dt = time.perf_counter() - t0
            want = (len(m), sum(m), sum(r[2] for r in m.values()))
            got = (row[0], row[1] or 0, row[2] or 0)
            return dt, None if got == want else f"scan {got} != model {want}"
        if op.kind in ("point_lookup", "secondary_lookup"):
            if trace_counts and self.tracer is not None:
                with self.tracer.paused():
                    self._candidate_ratios(op)
            t0 = time.perf_counter()
            if op.kind == "point_lookup":
                df = t.point_lookup(op.probe)
                want = {_canon(m[op.probe])} if op.probe in m else set()
            else:
                df = sidx.lookup(op.probe)
                want = {_canon(r) for r in m.values() if r[2] == op.probe}
            with self.span("session.exec", "session", "exec"):
                rows = df.select(*COLS).collect()
            dt = time.perf_counter() - t0
            got = {_canon(tuple(r)) for r in rows}
            ok = got == want and len(rows) == len(got)
            return dt, None if ok else f"{op.kind}({op.probe}): {len(rows)} rows, model {len(want)}"
        raise ValueError(op.kind)

    def final_check(self) -> str | None:
        """Whole latest snapshot against the model (untimed)."""
        snap = self.table.read().select(*COLS).toArrow()
        rows = list(zip(*(snap.column(c).to_pylist() for c in COLS)))
        got = {_canon(r) for r in rows}
        want = {_canon(r) for r in self.model.values()}
        if len(rows) != len(want) or got != want:
            return f"final snapshot: {len(rows)} rows vs model {len(want)}; {len(got ^ want)} differ"
        return None
