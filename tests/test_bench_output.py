"""bench.py's last stdout line must parse on its own within the
1,900-byte budget (the driver archives only the last 2,000 bytes of
stdout). Spark-free: the line is built by a pure function."""

from __future__ import annotations

import json

from bench import TAIL_LINE_MAX_BYTES, tail_line


def _record(n: int = 78) -> dict:
    """n entries shaped like BENCH_LOCAL.json's, one of them failed."""
    queries = {
        f"q_synthetic_entry_{i:03d}": round(0.1 + i * 0.137, 4) for i in range(n - 1)
    }
    queries["pipeline_failed"] = -1.0
    return {
        "metric": "headline_queries_wall_clock",
        "value": round(sum(t for t in queries.values() if t >= 0), 4),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
    }


def test_tail_line_fits_and_round_trips():
    rec = _record()
    line = tail_line(rec)
    assert len(line.encode()) <= TAIL_LINE_MAX_BYTES
    out = json.loads(line)
    assert out["metric"] == rec["metric"]
    assert out["unit"] == "sec"
    assert out["value"] == rec["value"]
    assert out["sf"] == 0.1
    assert out["n_queries"] == 78
    # a prefix of the slowest entries, slowest first, with exact times
    slowest = sorted(rec["queries"], key=lambda n: -rec["queries"][n])
    kept = list(out["queries"])
    assert 10 < len(kept) < 78
    assert kept == slowest[: len(kept)]
    assert all(out["queries"][n] == rec["queries"][n] for n in kept)


def test_tail_line_keeps_everything_when_it_fits():
    rec = _record(5)
    out = json.loads(tail_line(rec))
    assert out["queries"] == rec["queries"]
