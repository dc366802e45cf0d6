"""Query catalog: the single source of truth behind
``__spark_entry__.queries()`` / ``oracle_sql()``, the bench set and
every script or test that addresses a query by name.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` declared
once with ``@register(name, oracle=...)`` at its definition. The
oracle is an ANSI-SQL string DuckDB runs on the same parquet tables
(column names/aliases MUST match between the two: the driver sorts
columns by name before value-hashing); ``oracle=None`` marks a
rows-only entry, reserved for genuinely non-SQL-expressible ops.

Every query's roles come from its one row of ``CATALOG``, and every
name list is derived from that table:

- ``gate`` or ``retired`` (exactly one): gate rows hold a slot in the
  driver's correctness gate (``registered_queries()``); retired rows
  gave theirs up, and each retiree's docstring names its witness.
- rotation pool = retired rows that have an oracle, in table order:
  each round ``ROTATION_SLOTS`` of them rotate back into the gate.
- ``donor``: a gate row with an oracle that may sit a round out;
  donors leave in table order, enough of them that the emitted gate
  (``all_queries()``) is always exactly ``DRIVER_CAP`` entries.
- ``bench``: timed by bench.py, in table order.
- ``scale``: default set of scripts/bench_scaling.py.

``_load()`` checks the table against the decorators in pure Python
(no Spark job, no file I/O) and raises ``ValueError`` naming the
offending query.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None):
    """Decorator declaring a query under ``name`` with an optional
    DuckDB oracle; its roles come from its ``CATALOG`` row."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle)
        return fn

    return deco


#: (name, roles) per query; order is rotation order for donors and
#: retirees, and run order for the bench.
CATALOG: list[tuple[str, str]] = [
    # gate slots that rotate out: rotation order
    ("q_fuzzy_match", "gate donor bench"),
    ("q_pack_sequences", "gate donor bench"),
    ("q_scd2_asof", "gate donor bench"),
    ("q_repetition_filter", "gate donor bench"),
    ("q_contamination", "gate donor bench"),
    ("q_weighted_sample", "gate donor bench"),
    ("q_boilerplate", "gate donor bench"),
    ("q_lm_perplexity", "gate donor bench scale"),
    ("q_cdc_chunk_dedup", "gate donor bench"),
    ("q_expectations", "gate donor bench"),
    ("q_pivot_report", "gate donor bench"),
    ("q_split_assign", "gate donor bench"),
    ("q_vocabulary_divergence", "gate donor bench"),
    ("q_outlier_report", "gate donor bench"),
    ("q_attribution", "gate donor bench"),
    ("q_hybrid_topk", "gate donor bench"),
    ("q_dedup_clusters", "gate donor bench"),
    ("q_bm25_topk", "gate donor bench"),
    ("q_benford", "gate donor bench"),
    # gate slots that never rotate out
    ("q_pricing_approx", "gate bench"),
    ("q_substring_dedup", "gate bench"),
    ("q_decontaminate_exact", "gate bench"),
    ("q_snapshot_diff", "gate bench"),
    ("q_ann_hnsw", "gate bench"),
    ("q_repeat_upsample", "gate bench"),
    ("q_epoch_shuffle", "gate bench"),
    ("q_tfidf_keywords", "gate bench"),
    ("q_image_near_dup", "gate"),
    ("q_multimodal_features", "gate bench"),
    ("q_sessionize", "gate bench"),
    ("q_ann_ivf_pq", "gate bench"),
    ("q_bpe_encode", "gate bench"),
    ("q_bm25_served", "gate bench"),
    ("q_top_ngrams", "gate bench"),
    ("q_daily_census", "gate bench"),
    ("q_rolling_aggregate", "gate bench"),
    ("q_dp_release", "gate bench"),
    ("q_ann_ivf_pq_served", "gate bench"),
    ("q_skew_report", "gate bench"),
    ("q_freshness_report", "gate bench"),
    ("q_pricing_summary", "gate bench scale"),
    ("q_percentiles", "gate bench"),
    ("q_rollup", "gate bench"),
    ("q_json_extract", "gate bench"),
    ("q_multi_source_union", "gate bench"),
    ("q_lsh_near_dup", "gate bench"),
    ("q_corpus_clean", "gate bench scale"),
    ("q_quality_score", "gate bench"),
    ("q_token_budget", "gate bench"),
    ("q_embed_near_dup", "gate bench"),
    ("q_join_lookup_cast", "gate bench scale"),
    ("q_join_normalized", "gate"),
    ("q_asof_next_order", "gate bench scale"),
    ("q_join_nullsafe_junk", "gate bench"),
    ("q_orphan_cleanup", "gate bench"),
    ("q_qa_orphan_report", "gate bench"),
    ("q_regex_numeric_parse", "gate"),
    # retired: oldest retirement first = rotation order
    ("q_keyword_filter", "retired"),
    ("q_ngram_jaccard", "retired"),
    ("q_ann_ivf_nprobe", "retired"),
    ("q_lang_id", "retired"),
    ("q_text_stats", "retired"),
    ("q_semi_valid_fact", "retired"),
    ("q_dup_probe", "retired"),
    ("q_stratified_sample", "retired"),
    ("q_window_tumbling", "retired"),
    ("q_embed_quantize", "retired"),
    ("q_qa_rowcount_report", "retired"),
    ("q_qa_agg_consistency", "retired"),
    ("q_chunk_dedup", "retired scale"),
    ("q_surrogate_key", "retired"),
    ("q_insert_if_absent", "retired"),
    ("q_sentinel_timestamps", "retired"),
    ("q_frame_sample", "retired bench"),
    ("q_paragraph_dedup", "retired bench"),
    ("q_range_join", "retired bench"),
    ("q_agg_per_order", "retired bench scale"),
    ("q_cosine_topk", "retired bench scale"),
    ("q_minhash_lsh_pairs", "retired bench scale"),
    ("q_scd2_dim", "retired bench"),
    ("q_approx_stats", "retired bench"),
    ("q_funnel_steps", "retired bench scale"),
    ("q_cohort_retention", "retired bench"),
    ("q_quota_sample", "retired bench"),
    ("q_ann_ivf_learned", "retired bench"),
    ("q_resample_fill", "retired bench"),
    ("q_readmission_gap", "retired bench"),
    ("q_grouped_percentiles", "retired bench"),
    ("q_repeated_spans", "retired bench"),
    ("q_simhash_pairs", "retired bench"),
    ("q_anti_new_dates", "retired bench"),
    ("q_calendar_dim", "retired bench"),
    ("q_stream_dedup_dual", "retired bench"),
    ("q_scalar_lookup_default", "retired"),
    ("q_ann_hnsw_routed", "retired bench"),
]

_ROLES = {"gate", "retired", "donor", "bench", "scale"}

#: retired rows rotated back into the gate per round
ROTATION_SLOTS = 5

#: the driver's hard gate records at most this many entries (round 2
#: proved positions 50+ are silently skipped)
DRIVER_CAP = 50

#: round the rotation mechanism shipped; the schedule is defined
#: relative to it (round 13 -> pool offset 0)
_ROTATION_EPOCH = 13


def _load() -> None:
    """Import all query modules (side effect: they register), then
    check ``CATALOG`` against the registrations."""
    from clinical_data_warehouse_bi_spark import queries  # noqa: F401

    listed = [n for n, _ in CATALOG]
    dups = sorted({n for n in listed if listed.count(n) > 1})
    if dups:
        raise ValueError(f"duplicate CATALOG rows: {dups}")
    unlisted = sorted(_REGISTRY.keys() - set(listed))
    if unlisted:
        raise ValueError(f"registered without a CATALOG row: {unlisted}")
    for name, roles in CATALOG:
        r = set(roles.split())
        if name not in _REGISTRY:
            raise ValueError(f"{name}: CATALOG row but no @register")
        if r - _ROLES:
            raise ValueError(f"{name}: unknown roles {sorted(r - _ROLES)}")
        if len(r & {"gate", "retired"}) != 1:
            raise ValueError(f"{name}: must be exactly one of gate/retired")
        if "donor" in r and ("gate" not in r or _REGISTRY[name].oracle is None):
            raise ValueError(f"{name}: a donor must be a gate row with an oracle")


def names_with(role: str) -> list[str]:
    """Catalog names carrying ``role``, in table order."""
    _load()
    return [n for n, roles in CATALOG if role in roles.split()]


def rotation_pool() -> list[str]:
    return [n for n in names_with("retired") if _REGISTRY[n].oracle is not None]


def rotation_round() -> int:
    """Current driver round, derived from committed artifacts: the
    driver writes one CORRECTNESS_r{N}.json per completed round, so
    ``count + 1`` is the round in progress. Deterministic for the
    whole round (the file lands only after the gate runs). Override
    with SPARK_GRAFT_ROTATION_ROUND for tests; a bare checkout with
    no artifacts pins to the epoch (offset 0)."""
    env = os.environ.get("SPARK_GRAFT_ROTATION_ROUND")
    if env is not None:
        return int(env)
    root = Path(__file__).resolve().parent.parent
    n = len(list(root.glob("CORRECTNESS_r*.json")))
    return n + 1 if n else _ROTATION_EPOCH


def _slice_wrap(seq: list, start: int, n: int) -> list:
    return [seq[(start + i) % len(seq)] for i in range(n)]


def rotation_batch(round_: int | None = None) -> list[str]:
    """The pool entries under the hard gate this round."""
    r = rotation_round() if round_ is None else round_
    pool = rotation_pool()
    off = ((r - _ROTATION_EPOCH) * ROTATION_SLOTS) % len(pool)
    return _slice_wrap(pool, off, ROTATION_SLOTS)


def rotation_donors_out(round_: int | None = None) -> list[str]:
    """The gate rows sitting this round out (still fully
    oracle-checked in pytest via ``benched_queries``): ROTATION_SLOTS
    plus the gate rows past DRIVER_CAP, so the emitted gate stays
    exactly at the cap."""
    r = rotation_round() if round_ is None else round_
    donors = names_with("donor")
    n = ROTATION_SLOTS + max(0, len(names_with("gate")) - DRIVER_CAP)
    if n > len(donors):
        raise ValueError(
            "gate rows outgrew the rotation donors: retire entries or "
            "mark more donors"
        )
    off = ((r - _ROTATION_EPOCH) * ROTATION_SLOTS) % len(donors)
    return _slice_wrap(donors, off, n)


def _emitted() -> list[str]:
    """The entries the driver's gate sees this round, in table order:
    gate rows minus this round's donors, plus this round's batch."""
    out = set(rotation_donors_out())
    rotated = set(rotation_batch())
    return [
        n
        for n, roles in CATALOG
        if n in rotated or ("gate" in roles.split() and n not in out)
    ]


def _queries(names) -> dict[str, QueryFn]:
    return {n: _REGISTRY[n].fn for n in names}


def _oracles(names) -> dict[str, str]:
    return {
        n: _REGISTRY[n].oracle for n in names if _REGISTRY[n].oracle is not None
    }


def all_queries() -> dict[str, QueryFn]:
    return _queries(_emitted())


def all_oracles() -> dict[str, str]:
    return _oracles(_emitted())


def registered_queries() -> dict[str, QueryFn]:
    """Every gate row, independent of this round's rotation."""
    return _queries(names_with("gate"))


def registered_oracles() -> dict[str, str]:
    return _oracles(names_with("gate"))


def catalog_queries() -> dict[str, QueryFn]:
    """Every catalog row, gate and retired: the lookup for tools and
    tests that address a query by name regardless of gate status."""
    _load()
    return _queries(n for n, _ in CATALOG)


def catalog_oracles() -> dict[str, str]:
    _load()
    return _oracles(n for n, _ in CATALOG)


def benched_queries() -> dict[str, tuple[QueryFn, str]]:
    """This round's donors (gate rows with an oracle that the driver
    does not see): tests/test_retired_parity.py runs the same
    cross-engine comparison on these, so donating a slot never
    weakens the evidence."""
    return {
        n: (_REGISTRY[n].fn, _REGISTRY[n].oracle) for n in rotation_donors_out()
    }
