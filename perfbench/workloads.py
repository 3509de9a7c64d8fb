"""Frozen workload definitions and the seeded MVCC CDC op mix.

Nothing here touches Spark: the lists are plain data and the op mix is a
pure function of (seed, key universe), so the benchmark's own test can
check them without a session.

Query lists. ``RELATIONAL`` and ``PIPELINE`` split ``bench.HEADLINE`` by
the module that declares each query: ``PIPELINE`` is every headline query
declared in ``queries.text_pipeline``, ``queries.vector_search`` or
``queries.graphq``; ``RELATIONAL`` is the rest. Both lists are frozen in
``bench.HEADLINE`` order.

Timed sets. One run of the benchmark has about 40 s of wall time (70
runs of the three workloads share a 3420 s budget), and a full pass over ``RELATIONAL``
took 86 s at ``local[4]`` (``PIPELINE``: 104 s). So a run times a frozen,
cost-stratified sample of each list: sort the list by its measured
per-query time at ``local[4]``, cut it into k equal-count strata and take
each stratum's middle query (k = 7 for relational, 3 for pipeline). Where
that would leave a layer or query family untimed, the stratum gives the
query of that layer/family nearest its middle instead: ``sql_tpch_q6``
(the one relational query through the ``sql`` layer) for relational
stratum 5, ``vec_hybrid_rrf_topn`` (vector search) for pipeline stratum 2.
The probe times behind the strata are in ``perfbench/README.md``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

RELATIONAL = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q13",
    "tpch_q18", "tpch_q21", "cb_daily", "cb_top_users", "cb_json_props",
    "win_topn_per_customer", "win_sessionize", "setop_except", "cb_rollup",
    "ev_sliding_hourly", "sql_tpch_q6", "asof_attribution",
    "range_price_bands", "dec_money_rollup", "struct_field_rollup",
    "reshape_grouping_sets", "ts_gap_fill", "funnel_signup_click_purchase",
    "mvcc_scd2", "cb_approx_quantile", "cb_window_funnel", "tpch_q11_ps",
    "tpch_q9_ps", "ts_ewma", "profile_columns", "dq_checks",
    "ev_transition_matrix", "sketch_kmv", "ts_anomaly", "ts_trend_forecast",
    "ev_top_paths", "stat_skyline", "sketch_histogram", "ts_active_intervals",
    "ts_cumulative_users", "ts_cusum", "ts_holt", "stat_mann_whitney",
    "stat_chi_square", "asof_nearest", "stat_weighted_median",
    "dq_skew_report", "stat_ks_test", "ts_lttb", "eval_auc",
    "eval_calibration", "eval_avg_precision", "stat_mad_outliers",
    "dq_volume_anomaly", "eval_gains_table", "eval_threshold_sweep",
    "feat_target_encode", "ts_seasonal_profile", "stat_spearman", "ts_acf",
    "eval_group_auc", "eval_psi", "stat_benford", "eval_brier",
    "ts_theil_sen", "stat_trimmed_mean", "eval_log_loss",
    "stat_hodges_lehmann", "stat_bootstrap_ci",
)

PIPELINE = (
    "txt_quality", "txt_langid", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_simhash", "vec_knn", "vec_near_dup",
    "vec_ivf_probe", "txt_repetition", "txt_decontaminate", "vec_pq_probe",
    "txt_lm_score", "txt_boilerplate", "txt_heavy_hitters", "dedup_substring",
    "dedup_substring_cut", "txt_bloom_decontaminate", "txt_char_entropy",
    "vec_batch_knn", "txt_source_overlap", "txt_quality_cut",
    "txt_corpus_report", "txt_temperature_mix", "graph_triangles",
    "vec_hybrid_rrf", "vec_hybrid_rrf_topn", "txt_quota_sample",
    "txt_bpe_train", "rec_item_sim", "rec_user_topk", "rec_assoc_rules",
    "txt_priority_sample", "vec_covariance", "vec_pca_power",
    "vec_pca_scores", "graph_link_predict", "eval_ndcg_ann",
    "dedup_containment", "txt_jsd_pairs", "txt_bm25_topk", "vec_hybrid_bm25",
    "eval_mrr_ternary", "eval_recall_sweep", "graph_modularity",
    "txt_zipf_fit", "graph_assortativity", "eval_rbo", "graph_transitivity",
)

PIPELINE_MODULES = ("text_pipeline", "vector_search", "graphq")

TIMED = {
    "relational": (
        "ts_holt", "setop_except", "asof_attribution", "ev_transition_matrix",
        "sql_tpch_q6", "tpch_q5", "stat_trimmed_mean",
    ),
    "pipeline": ("txt_zipf_fit", "vec_hybrid_rrf_topn", "graph_assortativity"),
}

QUERY_WORKLOADS = {"relational": RELATIONAL, "pipeline": PIPELINE}
WORKLOADS = ("relational", "pipeline", "mvcc_cdc")


def query_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """The timed set of a query workload in the order of one pass: a fresh
    permutation per (seed, pass)."""
    names = list(TIMED[workload])
    random.Random(f"{workload}:{seed}:{pass_no}").shuffle(names)
    return names


# -- mvcc_cdc -----------------------------------------------------------------

# The initial table is loaded over LOAD_COMMITS commits (event_id mod
# LOAD_COMMITS: interleaved arrival), each range-clustered into the
# session's shuffle-partition count of files, so the first round's reads
# see about two hundred live files (6 x 32 = 192 at the engine default):
# a many-file layout like the one the secondary index was probed on.
LOAD_COMMITS = 6

# One round of the op mix. Its multiset is fixed so every round does the
# same amount of work; the seed draws the order, the keys and the batches.
# compact_history closes every round (the periodic compaction), after all
# of the round's reads; the gated pass is the first round.
ROUND_OPS = (
    "insert", "update", "delete", "merge",
    "scan", "point_lookup", "secondary_lookup",
)
INSERT_ROWS = 200
UPDATE_ROWS = 200
DELETE_ROWS = 100
MERGE_MATCHED = 100
MERGE_NEW = 100
POOL_ROWS = 4000  # held out of the initial load; feeds insert and merge


@dataclass
class Op:
    kind: str
    keys: list[int] = field(default_factory=list)  # rows the op writes or probes
    new_keys: list[int] = field(default_factory=list)  # merge: unmatched source keys
    values: list[float] = field(default_factory=list)  # new `value` per written key
    users: list[int] = field(default_factory=list)  # new `user_id` per written key
    probe: int | None = None  # point_lookup key / secondary_lookup user_id


class CdcPlan:
    """Seeded generator of mvcc_cdc rounds over the key universe
    ``all_keys`` (event ids) and user universe ``all_users``.

    It tracks which keys are live so every write is valid (updates and
    deletes hit live keys, inserts use unused pool keys) and lookups probe
    a mix of live and deleted keys. ``rounds()`` yields rounds forever; the
    first n rounds depend only on (seed, all_keys, all_users)."""

    def __init__(self, seed: int, all_keys: list[int], all_users: list[int]):
        self.rng = random.Random(f"mvcc_cdc:{seed}")
        keys = sorted(all_keys)
        self.pool = self.rng.sample(keys, POOL_ROWS)
        pool = set(self.pool)
        self.initial = [k for k in keys if k not in pool]
        self.users = sorted(all_users)
        self._live = list(self.initial)
        self._live_set = set(self._live)
        self._dead: list[int] = []

    def _take_live(self, n: int) -> list[int]:
        out = self.rng.sample(self._live, n)
        return sorted(out)

    def _remove(self, ks: list[int]) -> None:
        gone = set(ks)
        self._live = [k for k in self._live if k not in gone]
        self._live_set -= gone
        self._dead.extend(ks)

    def _add(self, ks: list[int]) -> None:
        self._live.extend(ks)
        self._live_set.update(ks)

    def _from_pool(self, n: int) -> list[int]:
        if len(self.pool) < n:
            raise RuntimeError("mvcc_cdc insert pool exhausted")
        ks, self.pool = sorted(self.pool[:n]), self.pool[n:]
        return ks

    def _payload(self, n: int) -> tuple[list[float], list[int]]:
        values = [round(self.rng.uniform(0, 500), 2) for _ in range(n)]
        users = [self.rng.choice(self.users) for _ in range(n)]
        return values, users

    def _op(self, kind: str) -> Op:
        if kind == "insert":
            ks = self._from_pool(INSERT_ROWS)
            self._add(ks)
            return Op(kind, keys=ks)
        if kind == "update":
            ks = self._take_live(UPDATE_ROWS)
            v, u = self._payload(len(ks))
            return Op(kind, keys=ks, values=v, users=u)
        if kind == "delete":
            ks = self._take_live(DELETE_ROWS)
            self._remove(ks)
            return Op(kind, keys=ks)
        if kind == "merge":
            matched = self._take_live(MERGE_MATCHED)
            new = self._from_pool(MERGE_NEW)
            v, u = self._payload(len(matched))
            self._add(new)
            return Op(kind, keys=matched, new_keys=new, values=v, users=u)
        if kind == "point_lookup":
            # half the probes target a deleted key once one exists
            if self._dead and self.rng.random() < 0.5:
                return Op(kind, probe=self.rng.choice(self._dead))
            return Op(kind, probe=self.rng.choice(self._live))
        if kind == "secondary_lookup":
            return Op(kind, probe=self.rng.choice(self.users))
        if kind in ("scan", "compact"):
            return Op(kind)
        raise ValueError(kind)

    def rounds(self):
        while True:
            kinds = list(ROUND_OPS)
            self.rng.shuffle(kinds)
            yield [self._op(k) for k in kinds] + [self._op("compact")]
