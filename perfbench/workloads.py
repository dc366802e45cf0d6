"""The three workloads: set-up, one timed operation, and output checks.

Each workload is driven only through the engine's public functions.
``setup`` is everything a user pays once per process (session start,
inputs, index builds, warm-up); ``op`` is one timed operation and
returns its latency, the input rows it processed, the bytes it wrote
and a list of failed checks.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

import numpy as np

import datagen

#: star_etl: MIMIC-shaped sources for this many patients
#: (~26 source rows per patient, about 40% of them labevents)
STAR_PATIENTS = 1200
#: corpus_release: documents in the input corpus
CORPUS_DOCS = 5000
#: bi_serving: warehouse scale factor (lineitem has 6M*sf rows)
BI_SF = 0.003

#: bi_serving mix: every registered query of the six BI query modules,
#: pinned by name. Resolved through registry.registered_queries(), never
#: through all_queries(), whose gate-slot rotation changes with the
#: repository's history.
BI_MIX = {
    "queries.core": [
        "q_pricing_summary", "q_pricing_approx", "q_regex_numeric_parse",
        "q_multi_source_union", "q_json_extract", "q_percentiles", "q_rollup",
    ],
    "queries.join_ops": [
        "q_join_lookup_cast", "q_join_normalized", "q_asof_next_order",
        "q_join_nullsafe_junk", "q_orphan_cleanup", "q_fuzzy_match",
    ],
    "queries.windows": [
        "q_sessionize", "q_multimodal_features", "q_image_near_dup",
        "q_scd2_asof", "q_daily_census", "q_rolling_aggregate",
        "q_attribution",
    ],
    "queries.qa_report": [
        "q_qa_orphan_report", "q_expectations", "q_pivot_report",
        "q_outlier_report", "q_benford", "q_skew_report",
        "q_freshness_report", "q_snapshot_diff",
    ],
    "queries.similarity": ["q_embed_near_dup", "q_ann_hnsw"],
    "queries.retrieval_ops": ["q_bm25_topk", "q_hybrid_topk", "q_bm25_served"],
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        #: ctx: run_dir, seed, cores, tracer (or None), start_session()
        self.ctx = ctx
        self.spark = None
        self.inputs: dict[str, int] = {}
        self.op_rows: int = 0
        #: seconds spent in each named set-up phase, for the run record
        self.setup_phases: dict[str, float] = {}

    def span(self, name):
        tracer = self.ctx.tracer
        return nullcontext() if tracer is None else tracer.span(name)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def start_session(self):
        with self.phase("session"), self.span("session.get_spark"):
            self.spark = self.ctx.start_session()
        return self.spark

    def reset(self) -> None:
        """Drop what one operation left in the session."""
        from clinical_data_warehouse_bi_spark.io import release_new_persistent_rdds

        self.spark.catalog.clearCache()
        release_new_persistent_rdds(self.spark, self.rdd_baseline)

    def snapshot(self) -> None:
        from clinical_data_warehouse_bi_spark.io import snapshot_persistent_rdds

        self.rdd_baseline = snapshot_persistent_rdds(self.spark)


class StarEtl(Workload):
    """Reference star pipeline: staging -> DWH written as parquet
    layers, then the four QA suites over the re-read layers."""

    name = "star_etl"

    def setup(self) -> None:
        from clinical_data_warehouse_bi_spark.fixtures import make_sources

        spark = self.start_session()
        with self.phase("inputs"), self.span("fixtures.make_sources"):
            self.src = make_sources(
                spark, n_patients=STAR_PATIENTS, seed=self.ctx.seed
            )
            self.inputs = {k: df.cache().count() for k, df in self.src.items()}
        self.op_rows = sum(self.inputs.values())
        self.snapshot()
        self.expected_counts = None

    def reset(self) -> None:
        super().reset()
        for df in self.src.values():
            df.cache().count()

    def op(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from clinical_data_warehouse_bi_spark import qa, star

        out = os.path.join(self.ctx.run_dir, f"star-{i}")
        w0, t0 = time.time(), time.perf_counter()
        r = star.run_pipeline(self.src, out_dir=out)
        with self.span("qa"):
            res = {k: v.collect() for k, v in qa.run_all(r["stage"], r["dwh"]).items()}
        latency, w1 = time.perf_counter() - t0, time.time()

        failed = []
        fact = r["dwh"]["fact_disorder_events"]
        null_adm = fact.filter(F.col("admission_id").isNull()).count()
        for row in res["orphans"]:
            want = null_adm if row["issue"] == "Orphan admissions" else 0
            if row["num_records"] != want:
                failed.append(f"{row['issue']}={row['num_records']} (want {want})")
        for row in res["duplicates"]:
            if row["num_dupes"] != 0:
                failed.append(f"{row['issue']}={row['num_dupes']}")
        diff = res["fact_vs_agg"][0]["diff_events"]
        if diff != 0:
            failed.append(f"fact_vs_agg diff_events={diff}")
        counts = sorted(
            (row["table_name"], row["stage_rows"], row["dwh_rows"])
            for row in res["rowcounts"]
        )
        if self.expected_counts is None:
            self.expected_counts = counts
        elif counts != self.expected_counts:
            failed.append("layer row counts changed between iterations")
        written = _dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"latency": latency, "window": (w0, w1), "rows": self.op_rows,
                "bytes": written, "failed": failed}


class CorpusRelease(Workload):
    """LLM-corpus release: boilerplate/quality/exact dedup,
    decontamination against a held-out slice's suffix index, substring
    dedup, temperature mix and chunking; chunks written as parquet with
    a verified dataset manifest."""

    name = "corpus_release"

    def setup(self) -> None:
        from clinical_data_warehouse_bi_spark.suffix import build_suffix_index

        spark = self.start_session()
        input_dir = os.path.join(self.ctx.run_dir, "input")
        docs_path = os.path.join(input_dir, "documents.parquet")
        rng = np.random.default_rng(self.ctx.seed)
        datagen.write_tables({"documents": datagen.documents(rng, CORPUS_DOCS)}, input_dir)
        docs = spark.read.parquet(docs_path).select("doc_id", "source", "text")
        held_out = f"doc_id % 50 = {self.ctx.seed % 50}"
        self.corpus = docs.filter(f"NOT ({held_out})")
        self.index = os.path.join(self.ctx.run_dir, "suffix_index")
        with self.phase("index"), self.span("suffix.build_suffix_index"):
            build_suffix_index(docs.filter(held_out), self.index,
                               min_tokens=12, n_buckets=64)
        n_held_out = sum(1 for i in range(CORPUS_DOCS) if i % 50 == self.ctx.seed % 50)
        self.inputs = {"documents": CORPUS_DOCS,
                       "corpus_docs": CORPUS_DOCS - n_held_out}
        self.op_rows = self.inputs["corpus_docs"]
        self.expected = None
        self.snapshot()

    def op(self, i: int) -> dict:
        from clinical_data_warehouse_bi_spark.corpus import build_corpus_release
        from clinical_data_warehouse_bi_spark.io import (
            verify_dataset_manifest,
            write_dataset_manifest,
        )

        out = os.path.join(self.ctx.run_dir, f"release-{i}")
        w0, t0 = time.time(), time.perf_counter()
        with self.span("corpus.build_corpus_release"):
            r = build_corpus_release(
                self.spark, self.corpus,
                decontaminate_index=self.index, substring_dedup=True,
            )
        with self.span("sink.release_parquet"):
            r["chunks"].write.parquet(out)
        with self.span("io.manifest"):
            manifest = write_dataset_manifest(self.spark, out)
            verdict = verify_dataset_manifest(self.spark, out)
        latency, w1 = time.perf_counter() - t0, time.time()

        failed = []
        if not verdict["ok"]:
            failed.append(f"manifest mismatches: {verdict['mismatches']}")
        got = (r["n_release"], manifest["total_rows"])
        if min(got) <= 0:
            failed.append(f"empty release {got}")
        if self.expected is None:
            self.expected = got
        elif got != self.expected:
            failed.append(f"release {got} != first iteration {self.expected}")
        self.release_counts = {"n_release": got[0], "chunk_rows": got[1]}
        written = _dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return {"latency": latency, "window": (w0, w1), "rows": self.op_rows,
                "bytes": written, "failed": failed}


def _normalize(df) -> tuple[list[str], list[tuple]]:
    """Order-insensitive canonical form of a result (sorted columns,
    stringified cells, sorted rows), as the repository's parity check
    compares Spark with DuckDB."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    cells = []
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            s = s.map(lambda v: None if pd.isna(v) else repr(float(v)))
        elif pd.api.types.is_bool_dtype(s):
            s = s.map(lambda v: None if pd.isna(v) else str(bool(v)))
        else:
            s = s.map(
                lambda v: None
                if v is None or (isinstance(v, float) and pd.isna(v))
                else str(v)
            )
        cells.append([c if isinstance(c, str) else None for c in s.tolist()])
    rows = sorted(
        tuple("<NULL>" if c is None else c for c in row) for row in zip(*cells)
    ) if cells else []
    return list(df.columns), rows


def _fingerprint(df) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a result: sorted columns, one
    64-bit hash per row, row hashes sorted. Cheap enough to check every
    execution; list-valued cells are hashed by their repr."""
    import numpy as np
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if df[col].dtype == object:
            df[col] = df[col].map(repr)
    rows = np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy())
    h = hashlib.sha256(repr(list(df.columns)).encode())
    h.update(rows.tobytes())
    return len(df), h.hexdigest()


def _oracle_results(data: str, tables, oracles: dict[str, str]) -> dict:
    """Normalized DuckDB result of each oracle SQL over the same files."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: _normalize(con.execute(sql).df()) for n, sql in oracles.items()}
    finally:
        con.close()


class BiServing(Workload):
    """One analyst in a closed loop: each query of the pinned mix runs
    to a pandas result the analyst receives, the next is sent only
    after it returns, in a seed-shuffled order per pass."""

    name = "bi_serving"

    def setup(self) -> None:
        from clinical_data_warehouse_bi_spark import registry

        spark = self.start_session()
        self.data = os.path.join(self.ctx.run_dir, "warehouse")
        with self.phase("inputs"):
            self.inputs = datagen.write_tables(
                datagen.warehouse_tables(BI_SF, self.ctx.seed), self.data
            )
        registered = registry.registered_queries()
        oracles = registry.registered_oracles()
        missing = [n for ns in BI_MIX.values() for n in ns if n not in registered]
        if missing:
            raise LookupError(f"pinned bi_serving queries not registered: {missing}")
        self.mix = [(layer, n, registered[n]) for layer, ns in BI_MIX.items() for n in ns]

        # warm-up pass: first calls build the served indexes (the
        # similarity and retrieval modules, started first) and compile
        # every plan. It is set-up, so it runs on as many threads as
        # cores, while DuckDB computes the oracle results beside it.
        def first_call(item):
            layer, name, fn = item
            df = fn(spark, self.data)
            tables = {os.path.basename(f).rsplit(".", 1)[0] for f in df.inputFiles()}
            rows = sum(self.inputs.get(t, 0) for t in tables)
            return name, rows, df.toPandas()

        checked = {n: oracles[n] for _, n, _ in self.mix if n in oracles}
        indexed = ("queries.similarity", "queries.retrieval_ops")
        order = sorted(self.mix, key=lambda item: item[0] not in indexed)
        with ThreadPoolExecutor(1) as duck:
            truth = duck.submit(_oracle_results, self.data, self.inputs, checked)
            with self.phase("warm_up"), ThreadPoolExecutor(self.ctx.cores) as pool:
                warm = list(pool.map(first_call, order))
            with self.phase("oracle_wait"):
                truth = truth.result()
        self.input_rows = {name: rows for name, rows, _ in warm}
        self.expected = {name: _fingerprint(pdf) for name, _, pdf in warm}
        self.setup_failed = [
            f"{name}: differs from its DuckDB oracle"
            for name, _, pdf in warm
            if name in truth and _normalize(pdf) != truth[name]
        ]
        self.oracle_checked = len(checked)
        self.snapshot()

    def pass_order(self, p: int) -> list:
        order = list(self.mix)
        random.Random(f"{self.ctx.seed}:{p}").shuffle(order)
        return order

    def op(self, layer: str, name: str, fn) -> dict:
        w0, t0 = time.time(), time.perf_counter()
        with self.span(layer):
            pdf = fn(self.spark, self.data).toPandas()
        latency, w1 = time.perf_counter() - t0, time.time()
        failed = []
        if _fingerprint(pdf) != self.expected[name]:
            failed.append(f"{name}: result differs from its checked first run")
        return {"latency": latency, "window": (w0, w1), "rows": self.input_rows[name],
                "bytes": 0, "failed": failed}


WORKLOADS = {w.name: w for w in (StarEtl, CorpusRelease, BiServing)}
