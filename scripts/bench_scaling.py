"""Scale-up probe: run headline queries against an N-fold replica of
the sf0.1 tables and report t(Nx)/t(1x) per query.

The driver's correctness gate runs at small sf; this script is the
evidence the plans behave at volume: a query whose shape is right
(map-side work + slim shuffles + broadcast dims) should scale
SUB-linearly locally (fixed job overhead amortizes, 32 cores stay
busy longer), while an accidentally quadratic or driver-bound plan
blows past Nx. Results are recorded per round in BASELINE.md.

Replication keeps every distribution shape: keys are shifted by
replica * (max_key + 1) so join fan-outs, group sizes per key, and
dedup cluster sizes stay IDENTICAL to the base table — the row count
scales, the per-key skew does not (the honest scale-up; naive
UNION-without-reshift would multiply group sizes instead, conflating
volume with skew).

With --duckdb, each query's DuckDB oracle is ALSO timed at 1x and Nx
(views over the replicated parquet), recording the crossover
evidence the per-query 2x bar accepts when a fixed-cost-dominated
Spark entry is slower at sf0.1: DuckDB's cost grows ~linearly with
volume while a correctly-shaped Spark plan amortizes its job
overhead, so the ratio at Nx IS the adjudication.

Usage: python scripts/bench_scaling.py [--duckdb] [factor] [query ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from clinical_data_warehouse_bi_spark.registry import (
    catalog_oracles,
    catalog_queries,
    names_with,
)
from clinical_data_warehouse_bi_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/spark_graft_scale"

#: key columns to shift per replica so per-key cardinalities are
#: preserved exactly (referential integrity included: lineitem's
#: orderkey shifts in lockstep with orders')
SHIFT_KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": [],
    "part": [],
    "region": [],
    "nation": [],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

def replicate(spark, factor: int) -> str:
    out = f"{OUT}_{factor}x"
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    # factors past 64 compose from a smaller replica (4x per stage,
    # recursively materialized): a single-stage 1024x build would
    # plan a 1024-branch union per table — deep-plan analysis cost
    # and one giant write job, where staged 4x replications of an
    # already-written replica stay shallow. Key shifts are relative
    # to each source's own max, so composition preserves referential
    # integrity and per-key cardinality exactly like one stage.
    if factor > 64 and factor % 4 == 0:
        src = replicate(spark, factor // 4)
        mult = 4
    else:
        src, mult = BASE, factor
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for t, keys in SHIFT_KEYS.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if mult > 1 and keys:
            span = {
                k: (df.agg(F.max(k)).first()[0] or 0) + 1 for k in keys
            }
            parts = []
            for r in range(mult):
                p = df
                for k in keys:
                    p = p.withColumn(k, F.col(k) + F.lit(r * span[k]))
                parts.append(p)
            reps = parts[0]
            for p in parts[1:]:
                reps = reps.unionByName(p)
        else:
            # keyless dims (supplier/part/region/nation) keep their
            # identity: replicating them would break FK semantics,
            # and the queries treat them as broadcast dims anyway
            reps = df
        reps.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    open(marker, "w").write("ok")
    return out


#: planted-duplication corpus knobs (round-14 verdict item 2): the
#: N-fold replica is DEGENERATE for substring dedup — every doc
#: occurs N times, so output spans grow with N and the enumeration
#: worst case dominates, a shape real pipelines never see after
#: exact dedup. The representative corpus is unique synthetic docs
#: with a small planted overlap rate.
PLANTED_BASE_DOCS = 5_000  # = sf0.1 documents rows per 1x
PLANTED_DUP_PCT = 5        # % of docs carrying one shared passage
PLANTED_PASSAGE_TOKENS = 30
PLANTED_VOCAB = 30_000
PLANTED_SEED = 101


def replicate_planted(spark, factor: int) -> str:
    """documents := factor * PLANTED_BASE_DOCS UNIQUE synthetic docs
    (20-90 tokens, drawn per-doc-deterministically from a 30k vocab,
    so no 12-token window repeats by chance) with PLANTED_DUP_PCT %
    of docs paired up to share one PLANTED_PASSAGE_TOKENS-token
    passage at independent offsets — the post-exact-dedup corpus
    shape where substring dedup's output is sparse and planted, not
    volume-proportional. Non-document tables symlink to the base sf
    so the oracle connection binds every view."""
    import numpy as np

    out = f"{OUT}_planted_{factor}x"
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    n_docs = PLANTED_BASE_DOCS * factor
    n_planted = (n_docs * PLANTED_DUP_PCT // 100) & ~1  # even: full pairs

    def gen(batches):
        import pandas as pd

        vocab = np.array([f"w{j}" for j in range(PLANTED_VOCAB)])
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            texts = []
            for d in ids:
                rng = np.random.RandomState(
                    (PLANTED_SEED + int(d)) % (2**31 - 1)
                )
                toks = list(vocab[rng.randint(0, PLANTED_VOCAB,
                                              rng.randint(20, 91))])
                if d < n_planted:
                    # pair (2k, 2k+1) shares passage k verbatim
                    prng = np.random.RandomState(
                        (PLANTED_SEED * 7 + int(d) // 2) % (2**31 - 1)
                    )
                    passage = list(
                        vocab[prng.randint(0, PLANTED_VOCAB,
                                           PLANTED_PASSAGE_TOKENS)]
                    )
                    at = int(rng.randint(0, len(toks) + 1))
                    toks = toks[:at] + passage + toks[at:]
                text = " ".join(toks)
                texts.append(text)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "lang": "en",
                    "source": "synthetic-planted",
                    "n_chars": [len(t) for t in texts],
                }
            )

    spark.range(n_docs).repartition(64).mapInPandas(
        gen, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    for t in SHIFT_KEYS:
        if t != "documents":
            os.symlink(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")
    open(marker, "w").write("ok")
    return out


def time_query(spark, fn, sf_dir: str) -> float:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    runs = []
    for _ in range(2):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def duck_con_for(sf_dir: str):
    """DuckDB views over a data dir whose tables are either single
    parquet files (the driver's testdata) or Spark-written parquet
    DIRECTORIES (the replicas)."""
    import duckdb

    from clinical_data_warehouse_bi_spark.io import DRIVER_TABLES

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src})")
    return con


def time_oracle(con, sql: str) -> float:
    con.execute(sql).fetchall()  # warm
    runs = []
    for _ in range(2):
        t0 = time.time()
        con.execute(sql).fetchall()
        runs.append(time.time() - t0)
    return round(min(runs), 3)


def main() -> None:
    argv = [a for a in sys.argv[1:] if a not in ("--duckdb", "--planted")]
    with_duckdb = "--duckdb" in sys.argv[1:]
    planted = "--planted" in sys.argv[1:]
    factor = int(argv[0]) if argv else 16
    names = argv[1:] or names_with("scale")
    spark = get_spark("bench-scaling")
    from clinical_data_warehouse_bi_spark.io import (
        release_new_persistent_rdds,
        snapshot_persistent_rdds,
    )

    if planted:
        # 1x is the planted corpus at base size, Nx the planted
        # corpus at N-fold doc count — both non-degenerate
        global BASE
        BASE = replicate_planted(spark, 1)
        big_dir = replicate_planted(spark, factor)
    else:
        big_dir = replicate(spark, factor)
    queries = catalog_queries()

    # winnow-knob variants of the registered exact form (no SQL twin:
    # winnowing trades guaranteed-match length L+w-1 for a w-fold
    # smaller exchange; measured on the planted corpus per the
    # round-14 verdict item 2)
    def _substring_w(w: int):
        def fn(spark, sf_dir):
            from clinical_data_warehouse_bi_spark.io import read_table
            from clinical_data_warehouse_bi_spark.queries.dedup import (
                SUBSTRING_MIN_TOKENS,
            )
            from clinical_data_warehouse_bi_spark.suffix import (
                duplicate_spans,
            )

            docs = read_table(spark, sf_dir, "documents")
            return duplicate_spans(
                docs, min_tokens=SUBSTRING_MIN_TOKENS, winnow_w=w
            )

        return fn

    for w in (4, 8):
        queries[f"q_substring_dedup_w{w}"] = _substring_w(w)
    oracles = {}
    cons = {}
    if with_duckdb:
        oracles = catalog_oracles()
        cons = {BASE: duck_con_for(BASE), big_dir: duck_con_for(big_dir)}

    baseline = snapshot_persistent_rdds(spark)
    rows = []
    for name in names:
        fn = queries[name]
        spark.catalog.clearCache()
        release_new_persistent_rdds(spark, baseline)
        t1 = time_query(spark, fn, BASE)
        spark.catalog.clearCache()
        release_new_persistent_rdds(spark, baseline)
        tn = time_query(spark, fn, big_dir)
        ratio = round(tn / t1, 2) if t1 > 0 else None
        row = [name, t1, tn, ratio]
        msg = f"{name:28s} 1x={t1:7.3f}s {factor}x={tn:7.3f}s ratio={ratio}"
        if with_duckdb and name in oracles and oracles[name]:
            try:
                d1 = time_oracle(cons[BASE], oracles[name])
                dn = time_oracle(cons[big_dir], oracles[name])
            except Exception as e:  # noqa: BLE001
                print(f"duckdb error in {name}: {e}", file=sys.stderr)
                d1 = dn = None
            row += [d1, dn]
            if d1 is not None:
                msg += (
                    f" | duck 1x={d1:7.3f}s {factor}x={dn:7.3f}s"
                    f" spark/duck@{factor}x="
                    f"{(tn / dn):5.2f}" if dn else " | duck n/a"
                )
        rows.append(row)
        print(msg, file=sys.stderr)
    print(json.dumps({"factor": factor, "duckdb": with_duckdb,
                      "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
