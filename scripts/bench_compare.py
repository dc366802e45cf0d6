"""Per-query Spark-vs-DuckDB wall-clock comparison (the BASELINE.md
performance table).

For every query in the bench set (the catalog's bench rows): run
the Spark plan to a noop sink (warm-up + timed) and the DuckDB oracle
to a fetch-all (warm-up + timed), print a ratio table, and emit one
JSON line for tooling.

With --update-baseline, the per-query table is also WRITTEN into
BASELINE.md between the BENCH_COMPARE markers (created on first
use) — the driver's per-query 2x bar must be auditable in one
lookup, not recomputed; aggregates alone let individual misses hide
(the round-9 lesson: six >2x entries went unflagged for rounds).

Usage: python scripts/bench_compare.py [--update-baseline] [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clinical_data_warehouse_bi_spark.registry import (
    catalog_oracles,
    catalog_queries,
    names_with,
)
from clinical_data_warehouse_bi_spark.session import get_spark
from scripts.check_parity import duck_con


_BEGIN = "<!-- BENCH_COMPARE:BEGIN (auto-maintained, do not edit) -->"
_END = "<!-- BENCH_COMPARE:END -->"


def update_baseline(
    rows: list, sf_dir: str, tot_s: float, tot_d: float,
    job_floor: float,
) -> None:
    """Rewrite BASELINE.md's marked per-query block in place (create
    it before the CURRENT STATE section on first use)."""
    import datetime

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BASELINE.md")
    stamp = datetime.date.today().isoformat()
    n_miss = sum(
        1 for _, s, d, r in rows
        if r is not None and r > 2.0 and d is not None and d >= 0.05
    )
    n_floor = sum(
        1 for _, s, d, r in rows
        if r is not None and r > 2.0 and d is not None and d < 0.05
    )
    lines = [
        _BEGIN,
        "",
        f"### Per-query Spark-vs-DuckDB ({sf_dir}, best-of-2 both "
        f"engines, updated {stamp})",
        "",
        f"Measured minimal-query Spark floor this run: **{job_floor}s**",
        "(a FRESH `spark.read.parquet(region)` + count(*) to a noop",
        "sink: new plan, footer schema read, one scan job — the cycle",
        "every registered query pays at least once) — any query whose",
        "DuckDB side is below ~0.05s cannot meet 2x at this sf with ANY",
        "plan, because the minimal cycle already costs more; those",
        "rows are marked *floor* and adjudicated by the floor argument,",
        "not left as silent misses. Ratio > 2.00 with a substantive",
        "DuckDB side (>= 0.05s) is a real **MISS**: it needs either an",
        "optimization or a recorded 16x/64x crossover",
        "(bench_scaling.py --duckdb) before the round closes.",
        f"This run: **{n_miss} MISS**, {n_floor} floor-bound.",
        "",
        "| query | spark s | duckdb s | ratio |",
        "|---|---|---|---|",
    ]
    for name, s, d, r in rows:
        flag = ""
        if r is not None and r > 2.0 and d is not None:
            flag = " **MISS**" if d >= 0.05 else " *floor*"
        lines.append(
            f"| {name} | {s if s is not None else 'n/a'} | "
            f"{d if d is not None else 'n/a'} | "
            f"{(str(r) + flag) if r is not None else 'n/a'} |"
        )
    ratio = round(tot_s / tot_d, 2) if tot_d else None
    lines += [
        f"| **TOTAL** | **{round(tot_s, 3)}** | **{round(tot_d, 3)}** |"
        f" **{ratio}** |",
        "",
        _END,
    ]
    block = "\n".join(lines)
    text = open(path).read()
    if _BEGIN in text and _END in text:
        pre = text[: text.index(_BEGIN)]
        post = text[text.index(_END) + len(_END):]
        text = pre + block + post
    else:
        anchor = "## CURRENT STATE"
        i = text.index(anchor) if anchor in text else len(text)
        text = text[:i] + block + "\n\n" + text[i:]
    open(path, "w").write(text)
    print(f"BASELINE.md per-query block updated ({len(rows)} rows)",
          file=sys.stderr)


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--update-baseline"]
    write_baseline = "--update-baseline" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    names = argv[1:] or names_with("bench")
    spark = get_spark("bench-compare")
    con = duck_con(sf_dir)
    queries, oracles = catalog_queries(), catalog_oracles()
    rows = []
    for name in names:
        fn = queries[name]
        # one failing query must not abort the whole comparison run:
        # report -1 / n-a for its side, like bench.py does
        s_sec = None
        try:
            spark.catalog.clearCache()  # prior caches are never hit again
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            for _ in range(2):  # best-of-2 on both engines: noisy host
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                s_sec = dt if s_sec is None or dt < s_sec else s_sec
        except Exception as e:  # noqa: BLE001
            print(f"spark error in {name}: {e}", file=sys.stderr)
            s_sec = -1.0
        d_sec = None
        if name in oracles:
            try:
                con.execute(oracles[name]).fetchall()
                for _ in range(2):
                    t0 = time.time()
                    con.execute(oracles[name]).fetchall()
                    dt = time.time() - t0
                    d_sec = dt if d_sec is None or dt < d_sec else d_sec
            except Exception as e:  # noqa: BLE001
                print(f"duckdb error in {name}: {e}", file=sys.stderr)
                d_sec = None
        ratio = (s_sec / d_sec) if (d_sec and s_sec and s_sec >= 0) else None
        rows.append((name, round(s_sec, 3), round(d_sec, 3) if d_sec else None,
                     round(ratio, 2) if ratio else None))
        print(f"{name:28s} spark={s_sec:7.3f}s duckdb="
              f"{('%7.3f' % d_sec) if d_sec else '   n/a '}s "
              f"ratio={('%6.2f' % ratio) if ratio else '  n/a'}", flush=True)
    tot_s = sum(r[1] for r in rows if r[1] is not None and r[1] >= 0)
    tot_d = sum(r[2] for r in rows if r[2] is not None)
    ratio_s = f"{tot_s / tot_d:6.2f}" if tot_d else "  n/a"
    print(f"{'TOTAL':28s} spark={tot_s:7.3f}s duckdb={tot_d:7.3f}s "
          f"ratio={ratio_s}")
    print(json.dumps({"sf_dir": sf_dir, "rows": rows,
                      "total_spark": round(tot_s, 3),
                      "total_duckdb": round(tot_d, 3)}))
    if write_baseline:
        # the honest floor: what the SMALLEST possible registered
        # query costs end-to-end — a fresh parquet read (new plan,
        # schema inference from footer, scan job) of the 5-row region
        # table plus one aggregate. spark.range(1) would measure
        # 0.02s and prove nothing: every real query pays at least one
        # fresh read+plan+job cycle.
        floor_runs = []
        for _ in range(3):
            t0 = time.time()
            spark.read.parquet(f"{sf_dir}/region.parquet").selectExpr(
                "count(*) AS n"
            ).write.format("noop").mode("overwrite").save()
            floor_runs.append(time.time() - t0)
        update_baseline(rows, sf_dir, tot_s, tot_d,
                        round(min(floor_runs), 3))
    spark.stop()


if __name__ == "__main__":
    main()
