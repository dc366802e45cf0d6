"""Structured Streaming surface (SURVEY.md section 2.10 notes the
reference is pure batch; README.md:151 lists real-time decision
support as future work — this module is that extension, Spark-first).

Operators:
- windowed_counts / sessionized: watermarked tumbling- and
  session-window aggregation
- enrich / stream_stream_interval_join: stream-static broadcast dim
  join and time-bounded stream-stream join
- running_user_state / streaming_funnel / streaming_ewma_anomalies:
  custom stateful operators via applyInPandasWithState (per-user
  counters, ordered-sequence funnel, EWMA control chart)
- scd2_apply_changes / streaming_scd2: incremental SCD2 dimension
  maintenance from a CDC stream (crash-safe rename-swap sink)
- dedup_events / dedup_ingest_batch / streaming_dedup_ingest /
  near_dup_ingest_batch / streaming_near_dup (+
  compact_pairs_distinct): exact and MinHash-LSH dedup ingest
  against persistent indexes, replay-safe
- streaming_vector_ingest / streaming_bm25_ingest: exactly-once
  appends into the persisted IVF-PQ and BM25 indexes
- preagg_apply_batch / expectations_apply_batch /
  join_view_apply_batch (+ read_* and compact_* for each):
  exactly-once incremental maintenance of the BI pre-aggregate, the
  data-quality totals, and the broadcast-join enrichment view — all
  via batch-id dynamic partition overwrite with the shared
  crash-safe compaction swap

All operators take/return DataFrames so they compose identically in
batch mode (Spark's unified API): the batch oracle-checked
equivalents live in queries/windows.py.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", StringType()),  # kept string-agnostic for sinks
    ]
)


def read_event_stream(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """File-source stream: each new parquet file in `path` is a
    micro-batch. At scale the same operators run off Kafka — only
    this reader changes."""
    return (
        spark.readStream.format("parquet")
        .schema(schema or EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def dedup_events(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop repeated ``keys`` within the
    watermark horizon (dropDuplicatesWithinWatermark — state is
    bounded by the watermark, unlike plain dropDuplicates whose state
    grows forever on an unbounded stream). The streaming face of
    q_dedup_exact: at-least-once sources (Kafka redeliveries, replayed
    files) become effectively-once event feeds.

    Unified: on a batch DataFrame the bounded-state machinery is
    meaningless (Spark rejects dropDuplicatesWithinWatermark outside
    streaming), so the same call degrades to plain key-dedup — the
    value-checked batch dual is q_stream_dedup_dual."""
    if not stream.isStreaming:
        return stream.dropDuplicates(keys or ["event_id"])
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked windowed counts per event_type — tumbling by
    default, SLIDING (hopping) when ``slide`` < ``window`` is given:
    each event lands in window/slide overlapping windows (the moving
    BI view: "events in the trailing hour, every 10 minutes").
    Late rows beyond the watermark are dropped; state is bounded by
    watermark x (window/slide) open windows per key — the only
    correct shape for an unbounded 100TB/day stream. Sliding
    multiplies state and output by the overlap factor, which is the
    documented price of the smoother series; for overlap factors
    beyond ~10 prefer aggregating tumbling panes of ``slide`` width
    and summing window/slide panes at read time."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionized(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessionization via session_window (stateful,
    watermark-bounded)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def enrich(stream: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static join: dim is broadcast per micro-batch (the
    streaming analogue of the star schema's J1 concept lookup)."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    tolerance: str = "1 hour",
    watermark: str = "2 hours",
    right_key: str | None = None,
) -> DataFrame:
    """Stream-stream equi-join bounded by a time interval — the
    streaming face of the star schema's interval joins (J5/J6,
    Stage_area.sql:237-256): match right rows whose timestamp falls
    within ``tolerance`` AFTER the left row's.

    Both sides are watermarked and the join condition bounds
    right_ts to [left_ts, left_ts + tolerance], which is what lets
    Spark expire buffered state: without the time bound a
    stream-stream join must hold EVERY past row forever. State per
    key is O(rows within watermark+tolerance) — the only shape that
    survives an unbounded 100 TB/day stream pair. Works identically
    on batch frames (the unified-API dual; watermarks are no-ops).

    ``right_key`` names the right side's join-key column; it defaults
    to the ``r_<key>`` prefix convention (the right frame must not
    collide with the left's column names) and is validated up front
    so a mismatched frame fails with the convention spelled out
    rather than an unresolved-column error."""
    right_key = right_key or f"r_{key}"
    if right_key not in right.columns:
        raise ValueError(
            f"right side has no column {right_key!r} (columns:"
            f" {right.columns}); pass right_key= explicitly or rename —"
            f" the default expects the left key {key!r} prefixed as"
            f" r_{key}"
        )
    l_ = left.withWatermark(left_ts, watermark)
    r_ = right.withWatermark(right_ts, watermark)
    cond = (
        (l_[key] == r_[right_key])
        & (r_[right_ts] >= l_[left_ts])
        & (r_[right_ts] <= l_[left_ts] + F.expr(f"INTERVAL {tolerance}"))
    )
    return l_.join(r_, cond)


_STATE_SCHEMA = StructType([StructField("total", LongType())])
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("batch_events", LongType()),
        StructField("total_events", LongType()),
    ]
)


def _update_user_state(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    batch = sum(len(pdf) for pdf in pdfs)
    total = (state.get[0] if state.exists else 0) + batch
    state.update((total,))
    yield pd.DataFrame(
        {"user_id": [key[0]], "batch_events": [batch], "total_events": [total]}
    )


def running_user_state(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    lifetime event counters, emitted once per micro-batch. State is a
    single long per user — O(users) memory, partitioned by the group
    key across executors."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(result: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to completion against the memory
    sink (test/drive helper): returns the started query; caller does
    `q.processAllAvailable()` then reads `spark.sql(f"SELECT * FROM
    {name}")`."""
    return (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


_SCD2_COLS = ["valid_from", "valid_to", "is_current"]


def scd2_apply_changes(
    dim: DataFrame | None,
    changes: DataFrame,
    key: str = "customer_id",
    state_col: str = "state",
    ts_col: str = "ts",
) -> DataFrame:
    """One SCD2 merge step — the pure-batch body of streaming_scd2's
    foreachBatch, usable standalone as a CDC upsert: fold a batch of
    (key, state, ts) observations into an effective-dated dimension
    with q_scd2_dim's exact shape (change compression, half-open
    [valid_from, valid_to) intervals, one open row per key).

    Merge semantics:
    - untouched keys and the CLOSED history of touched keys pass
      through unchanged — only each touched key's open row is
      re-derived, so per-batch work scales with the batch's key set,
      not dimension size;
    - the open row re-enters compression as a pseudo-observation at
      its own valid_from, so a change to the same state is absorbed
      (no spurious new version) and a real change closes it at the
      new observation's timestamp;
    - observations OLDER than a key's open row are dropped (the
      late-data policy: an SCD2 open row asserts 'current since
      valid_from'; rewriting closed history from stragglers is a
      batch backfill job, not an incremental merge). Feed batches in
      event-time order — the streaming wrapper inherits the source's
      watermarking for that;
    - ties at identical ts order by state for determinism (same
      convention as q_scd2_dim's orderkey tie-break).

    The composability invariant (property-tested): applying a change
    history split across any chronological batching equals applying
    it in one batch."""
    ch = changes.select(
        F.col(key), F.col(state_col), F.col(ts_col).alias("valid_from")
    ).distinct()
    if dim is None:
        dim = (
            ch.limit(0)
            .withColumn("valid_to", F.col("valid_from"))
            .withColumn("is_current", F.lit(True))
            .select(key, state_col, *_SCD2_COLS)
        )
    changed_keys = ch.select(key).distinct()
    open_rows = dim.filter(F.col("is_current"))
    affected_open = open_rows.join(changed_keys, key, "left_semi")
    # everything except touched keys' open rows passes through
    marked = dim.join(
        changed_keys.withColumn("__chg", F.lit(True)), key, "left"
    )
    keep = marked.filter(
        ~(F.col("is_current") & F.col("__chg").isNotNull())
    ).drop("__chg")
    # late-data guard: drop observations behind the open row
    bounds = affected_open.select(
        F.col(key), F.col("valid_from").alias("__open_from")
    )
    valid_ch = (
        ch.join(bounds, key, "left")
        .filter(
            F.col("__open_from").isNull()
            | (F.col("valid_from") >= F.col("__open_from"))
        )
        .select(key, state_col, "valid_from")
    )
    events = affected_open.select(key, state_col, "valid_from").unionByName(
        valid_ch
    )
    w = Window.partitionBy(key).orderBy("valid_from", state_col)
    chg = (
        events.withColumn("__prev", F.lag(state_col).over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != F.col(state_col)))
        .drop("__prev")
    )
    rebuilt = chg.withColumn(
        "valid_to", F.lead("valid_from").over(w)
    ).withColumn("is_current", F.col("valid_to").isNull())
    cols = [key, state_col, *_SCD2_COLS]
    return keep.select(*cols).unionByName(rebuilt.select(*cols))


def _dim_siblings(dim_path: str, kind: str) -> list[str]:
    """Existing ``{dim_path}.{kind}-{batch_id}`` work directories."""
    base = os.path.dirname(os.path.abspath(dim_path)) or "."
    name = os.path.basename(os.path.abspath(dim_path))
    prefix = f"{name}.{kind}-"
    if not os.path.isdir(base):
        return []
    return [
        os.path.join(base, fn)
        for fn in os.listdir(base)
        if fn.startswith(prefix)
    ]


def _parquet_complete(path: str) -> bool:
    """A parquet directory whose write committed (_SUCCESS marker)."""
    return os.path.isdir(path) and os.path.exists(
        os.path.join(path, "_SUCCESS")
    )


def recover_scd2_dim(dim_path: str) -> None:
    """Crash recovery for publish_scd2_dim's rename protocol (local /
    posix-rename filesystems — the documented scope of this sink; a
    distributed deployment uses a MERGE-capable table format instead).

    Cases, by where a crash hit the publish sequence
    (write tmp -> rename dim to old -> rename tmp to dim -> rm old):
    - during the tmp write: ``dim_path`` intact; the incomplete tmp is
      swept.
    - between the two renames: ``dim_path`` missing but the retired
      ``.old-{batch}`` version is complete — restore it (the PRE-batch
      state; the streaming engine did not commit the batch's offsets,
      so the batch replays, and scd2_apply_changes is idempotent for
      replayed observations).
    - after the second rename: ``dim_path`` is the post-batch state;
      stale ``.old``/``.tmp`` siblings are swept.

    Single-writer assumption (one streaming query maintains one
    dimension path), same as any foreachBatch merge sink."""
    if not os.path.isdir(dim_path):
        olds = [p for p in _dim_siblings(dim_path, "old") if _parquet_complete(p)]
        if olds:
            newest = max(
                olds, key=lambda p: int(p.rsplit("-", 1)[1])
                if p.rsplit("-", 1)[1].isdigit() else -1
            )
            os.rename(newest, dim_path)
    for p in _dim_siblings(dim_path, "old") + _dim_siblings(dim_path, "tmp"):
        shutil.rmtree(p, ignore_errors=True)


def publish_scd2_dim(merged: DataFrame, dim_path: str, batch_id: int) -> None:
    """Atomically replace the dimension at ``dim_path`` with
    ``merged``: write to a temp directory, then swap via renames. At
    no point is the only copy of the dimension deleted before its
    replacement is fully committed — the property mode('overwrite')
    on the live path cannot give (it deletes, then rewrites; a crash
    in between destroys the dimension). The paired reader-side
    recovery is recover_scd2_dim."""
    tmp = f"{dim_path}.tmp-{batch_id}"
    old = f"{dim_path}.old-{batch_id}"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(dim_path):
        os.rename(dim_path, old)
    os.rename(tmp, dim_path)
    shutil.rmtree(old, ignore_errors=True)


def read_scd2_dim(spark: SparkSession, dim_path: str) -> DataFrame | None:
    """Current dimension at ``dim_path`` (after crash recovery), or
    None when none exists yet (the genuine first batch). Existence is
    an os check, NOT an exception catch: a transient read failure on
    an EXISTING dimension (corrupt footer, permission error, FS
    hiccup) raises, failing the batch so the engine retries — it must
    never be misread as 'first batch' and silently trigger a
    from-scratch rebuild that discards the accumulated history."""
    recover_scd2_dim(dim_path)
    if not os.path.isdir(dim_path):
        return None
    return spark.read.parquet(dim_path)


def streaming_scd2(
    changes: DataFrame,
    dim_path: str,
    key: str = "customer_id",
    state_col: str = "state",
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
):
    """Maintain an SCD2 dimension incrementally from a CDC/observation
    stream: each micro-batch folds into the parquet dimension at
    ``dim_path`` via scd2_apply_changes (foreachBatch — the standard
    Structured Streaming shape for merge-style sinks). The merged
    dimension is localCheckpoint-materialized (the read-modify-write
    of the same path never streams from the files it replaces), then
    published by publish_scd2_dim's write-then-rename swap, so a
    crash at ANY point leaves a readable dimension for
    read_scd2_dim's recovery (property-tested at every crash point in
    tests/test_streaming.py).

    At scale the swap becomes a format with real MERGE (the
    foreachBatch body is the part that stays); per-batch cost scales
    with touched keys, not dimension size. Returns the started
    StreamingQuery."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        dim = read_scd2_dim(spark, dim_path)
        merged = scd2_apply_changes(
            dim, batch, key=key, state_col=state_col, ts_col=ts_col
        ).localCheckpoint(eager=True)
        publish_scd2_dim(merged, dim_path, batch_id)

    writer = changes.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def dedup_ingest_batch(
    batch: DataFrame,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch of exact-dedup corpus ingest: fingerprint the
    batch (md5 of normalized text), dedup WITHIN the batch (keep min
    id per fingerprint), anti-join against the corpus's existing
    fingerprints, append the survivors. The corpus file itself is the
    index — its fingerprint column is all the anti-join reads
    (column-pruned scan), and appending survivors atomically extends
    both corpus and index, which makes REPLAY IDEMPOTENT: if a crash
    lands after the append but before the offset commit, the replayed
    batch's fingerprints all match and the anti-join drops every row.
    A two-artifact design (separate index) loses that for free.

    Scale: the per-batch anti-join is batch-vs-corpus on the
    fingerprint column only; at 100 TB store the corpus bucketed on
    fingerprint (io.write_bucketed_table) so the probe is
    exchange-free on the corpus side, or keep the dimension in a
    MERGE-capable format. Same single-writer / posix-rename scope as
    the SCD2 sink."""
    from pyspark.sql import Window

    from clinical_data_warehouse_bi_spark.text import normalized_text

    spark = batch.sparkSession
    fresh = batch.select(id_col, text_col).withColumn(
        "fingerprint", F.md5(normalized_text(text_col))
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    fresh = (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # the corpus is also a compaction target (io.compact_parquet_dir
    # bounds its micro-batch file count) — recover any interrupted
    # rename-swap before trusting the directory's existence
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(corpus_path)
    if os.path.isdir(corpus_path):
        existing = spark.read.parquet(corpus_path).select("fingerprint")
        fresh = fresh.join(existing, "fingerprint", "left_anti")
    fresh.select(id_col, text_col, "fingerprint").write.mode("append").parquet(
        corpus_path
    )


def read_text_file_stream(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    wholetext: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of io.read_raw_files for text: each file
    dropped into ``path`` becomes rows of a micro-batch —
    document-per-file when ``wholetext`` (one row per file), one row
    per line otherwise (the splittable shape for big files). Output
    is (doc_id, path, text) with doc_id = xxhash64(path): a stable,
    layout-independent identity for file-born documents, so the
    exactly-once/dedup sinks downstream (streaming_dedup_ingest,
    streaming_bm25_ingest, ...) key on something a re-listed file
    reproduces. ``glob`` prunes at listing time; combined with the
    content-fingerprint dedup of dedup_ingest_batch this is the full
    drop-a-file-in-a-bucket corpus ingest story, exercised e2e in
    tests."""
    reader = spark.readStream.format("text").option(
        "wholetext", "true" if wholetext else "false"
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    df = reader.load(path)
    return df.select(
        F.xxhash64(F.input_file_name()).alias("doc_id"),
        F.input_file_name().alias("path"),
        F.col("value").alias("text"),
    )


def streaming_dedup_ingest(
    docs: DataFrame,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
):
    """Maintain an exact-deduped document corpus from a stream: each
    micro-batch flows through dedup_ingest_batch (foreachBatch), so
    the corpus at ``corpus_path`` only ever gains documents whose
    normalized-content fingerprint was never seen — across batches,
    within batches, and across crash/replay (idempotent by
    construction; see dedup_ingest_batch). The streaming face of
    q_corpus_clean's dedup stage, and the exact-dup complement of the
    batch incremental near-dup path (text.incremental_near_dup_pairs).
    Returns the started StreamingQuery."""
    writer = docs.writeStream.foreachBatch(
        lambda b, _id: dedup_ingest_batch(b, corpus_path, id_col, text_col)
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def near_dup_ingest_batch(
    batch: DataFrame,
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch of streaming NEAR-dup detection: band the
    batch's MinHash signatures (work proportional to the batch),
    probe the persistent LSH band index for batch-vs-corpus
    candidates, self-join the batch bands for batch-vs-batch pairs,
    append the found pairs to ``pairs_path`` and the batch's bands to
    ``index_path`` (text.incremental_near_dup_pairs' steady-state
    loop, run by the streaming engine).

    Crash/replay semantics: appending PAIRS before BANDS makes replay
    lose nothing — if a crash lands between the two appends, the
    replayed batch re-probes an index that does not yet contain it
    and re-finds the same pairs. If the crash lands after BOTH
    appends (before the offset commit), the replayed batch's own
    bands are already in the index; the probe anti-joins those out
    (see below) so replay emits only duplicate ROWS of correct pairs
    — never self-pairs or reversed inventions. Consumers read pairs
    DISTINCT (or run compact_pairs_distinct), which the exactly-once
    variant would need a transactional store to avoid. Batch ids
    must be globally fresh (any real ingest assigns monotone ids)."""
    from clinical_data_warehouse_bi_spark import text as T

    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    new_bands = T.lsh_index(batch, id_col, text_col).localCheckpoint()
    # both sink directories are compaction targets
    # (compact_pairs_distinct / compact_parquet_dir) — recover any
    # interrupted rename-swap before reading or appending
    recover_compacted_dir(index_path)
    recover_compacted_dir(pairs_path)
    idx = spark.read.parquet(index_path) if os.path.isdir(index_path) else None
    # compose candidates from the materialized band relation (do NOT
    # re-derive signatures via incremental_near_dup_pairs — that
    # would re-tokenize the batch a second time)
    bb = T.lsh_candidate_pairs(new_bands).withColumn("origin", F.lit("batch"))
    if idx is not None:
        # Replay guard: if a crash landed AFTER both appends but
        # before the offset commit, the replayed batch's own bands
        # are already IN the index — probing them would emit
        # self-pairs (doc_a == doc_b) and reversed duplicates of the
        # batch-vs-batch pairs, i.e. NEW incorrect rows, not mere
        # duplicates. Anti-join the index down to rows whose doc_id
        # is NOT in this batch (broadcast: batch ids are one
        # micro-batch small) so the corpus side is genuinely
        # pre-batch corpus; batch-vs-batch pairs come from the
        # self-join above, exactly once per replay.
        batch_ids = new_bands.select("doc_id").distinct()
        i = (
            idx.join(F.broadcast(batch_ids), "doc_id", "left_anti")
            .select(
                F.col("doc_id").alias("doc_a"),
                F.col("band_id").alias("band_id_i"),
                F.col("band_sig").alias("sig_i"),
            )
        )
        nb = new_bands.select(
            F.col("doc_id").alias("doc_b"),
            "band_id",
            F.col("band_sig").alias("sig_b"),
        )
        cb = (
            i.join(
                nb,
                (F.col("band_id_i") == F.col("band_id"))
                & (F.col("sig_i") == F.col("sig_b")),
            )
            .select("doc_a", "doc_b")
            .distinct()
            .withColumn("origin", F.lit("corpus-batch"))
        )
        found = cb.unionByName(bb)
    else:
        found = bb
    found.write.mode("append").parquet(pairs_path)
    new_bands.write.mode("append").parquet(index_path)


def streaming_near_dup(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
):
    """Streaming MinHash-LSH near-duplicate detection: maintain the
    band index incrementally and emit candidate pairs per micro-batch
    — the streaming face of text.incremental_near_dup_pairs, as
    streaming_dedup_ingest is of exact dedup. Returns the started
    StreamingQuery."""
    writer = docs.writeStream.foreachBatch(
        lambda b, _id: near_dup_ingest_batch(
            b, index_path, pairs_path, id_col, text_col
        )
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_pairs_distinct(
    spark: SparkSession, pairs_path: str, target_files: int = 1
) -> dict:
    """Maintenance rewrite for the streaming near-dup PAIRS sink: the
    at-least-once append contract allows duplicate pair rows on
    replay (near_dup_ingest_batch's documented semantics), so a
    long-running stream needs a periodic compaction that bounds the
    directory by its TRUE distinct pair set, not the replay history.
    io.compact_parquet_dir's crash-safe rename-swap publish composed
    with ``.distinct()`` over all pair columns (doc_a, doc_b,
    origin): run between (never concurrently with) micro-batches —
    the same single-writer window any sink maintenance needs.

    Returns compact_parquet_dir's stats dict; ``rows`` is the
    distinct pair count."""
    from clinical_data_warehouse_bi_spark.io import compact_parquet_dir

    return compact_parquet_dir(
        spark, pairs_path, target_files, transform=lambda df: df.distinct()
    )


#: synopsis partition value the roll-up compaction merges history
#: into; real batch ids from the streaming engine are >= 0
PREAGG_BASE_BATCH = -1


def preagg_apply_batch(
    batch: DataFrame,
    synopsis_path: str,
    batch_id: int,
    group_col: str = "admission_id",
    concept_col: str = "clinical_concept_id",
    source_col: str = "event_source_type",
) -> None:
    """One micro-batch of EXACTLY-ONCE incremental pre-aggregate
    maintenance for the reference's BI roll-up (DWH.sql:203-210
    aggregates events per admission; this maintains that table as
    events stream in, instead of recomputing it from the full fact).

    The state is a SYNOPSIS, not the final aggregate: per
    (group, concept, source) partial counts, partitioned by the
    engine's batch_id. Two properties fall out:
    - MERGEABLE: total_events is a sum over partials, and the
      distinct counts are distincts over synopsis KEYS — so the
      derived aggregate (read_preagg) is exact across any number of
      batches, including re-observed groups, which a stored FINAL
      aggregate could never repair for COUNT(DISTINCT).
    - EXACTLY-ONCE: the batch's contribution lands via DYNAMIC
      partition overwrite of ITS OWN batch_id partition — a replayed
      batch (same epoch id, the engine's contract) overwrites the
      identical partition with identical content, so replay after
      ANY crash point is a no-op, with no index, no anti-join, and
      no transactional store.

    Scale shape: one groupBy of the batch (batch-proportional), one
    partition-directory write. Synopsis size is bounded by touched
    keys per batch; compact_preagg rolls history into one base
    partition so the read side never scans unbounded batch counts."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    # the synopsis is compact_preagg's rename-swap target — restore
    # any interrupted publish before overwriting a partition in it
    recover_compacted_dir(synopsis_path)
    contrib = (
        batch.groupBy(group_col, concept_col, source_col)
        .agg(F.count("*").alias("n"))
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            synopsis_path
        )
    finally:
        spark.conf.set(key, before)


def read_preagg(
    spark: SparkSession,
    synopsis_path: str,
    group_col: str = "admission_id",
    concept_col: str = "clinical_concept_id",
    source_col: str = "event_source_type",
) -> DataFrame:
    """Derive the final BI aggregate from the synopsis: sum of
    partial counts + distinct-over-keys (collect_set, never the
    multi-countDistinct Expand). The synopsis is orders of magnitude
    smaller than the event stream it summarizes, so this read is
    cheap; run compact_preagg periodically to keep it so."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(synopsis_path)
    syn = spark.read.parquet(synopsis_path)
    return syn.groupBy(group_col).agg(
        F.sum("n").alias("total_events"),
        F.size(F.collect_set(concept_col)).alias("unique_concepts"),
        F.size(F.collect_set(source_col)).alias("different_sources"),
    )


def streaming_preagg(
    events: DataFrame,
    synopsis_path: str,
    checkpoint_dir: str | None = None,
    **cols,
):
    """Maintain the pre-aggregate synopsis from a stream — the
    exactly-once BI-rollup sink (see preagg_apply_batch). Returns the
    started StreamingQuery."""
    writer = events.writeStream.foreachBatch(
        lambda b, bid: preagg_apply_batch(b, synopsis_path, bid, **cols)
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_preagg(
    spark: SparkSession,
    synopsis_path: str,
    group_col: str = "admission_id",
    concept_col: str = "clinical_concept_id",
    source_col: str = "event_source_type",
) -> dict:
    """Roll the synopsis's batch partitions into ONE base partition
    (batch_id={PREAGG_BASE_BATCH}), summing partials per key — the
    maintenance op that bounds read_preagg's scan by the KEY space
    instead of the batch count. Crash-safe via the shared compaction
    publish protocol (io.recover_compacted_dir sibling names). Run
    between micro-batches, after their offsets commit — the same
    single-writer window every sink maintenance here assumes; a
    batch replayed AFTER its partition was compacted would
    double-count, and committed offsets are what rule that out."""
    import glob

    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    from clinical_data_warehouse_bi_spark.io import maintenance_lock

    recover_compacted_dir(synopsis_path)
    with maintenance_lock(synopsis_path):
        syn = spark.read.parquet(synopsis_path)
        rolled = (
            syn.groupBy(group_col, concept_col, source_col)
            .agg(F.sum("n").alias("n"))
            .withColumn("batch_id", F.lit(PREAGG_BASE_BATCH).cast("long"))
            .localCheckpoint()
        )
        rows = rolled.count()
        tmp = f"{synopsis_path}.tmp-compact"
        old = f"{synopsis_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(synopsis_path, old)
        os.rename(tmp, synopsis_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(
            glob.glob(os.path.join(synopsis_path, "batch_id=*"))
        ),
    }


def streaming_funnel(
    stream: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming ordered-sequence funnel — the stateful face of
    funnel.funnel_steps (whose greedy fold is oracle-checked as
    q_funnel_steps): per user, maintain (stage, completion
    timestamps) across micro-batches via applyInPandasWithState and
    emit the user's current funnel row whenever a batch touches them.
    State is O(steps) per user, the same bound as the batch fold.

    Ordering contract: events are processed in timestamp order WITHIN
    each batch, and batches are assumed to arrive in event-time order
    per user (the greedy state cannot revisit a step when an earlier
    event surfaces later — the standard limitation of any
    single-pass funnel; a source with cross-batch disorder feeds this
    through a watermarked sort or falls back to the batch fold).

    Unified API: on a batch frame the same call degrades to the batch
    fold semantics via funnel.funnel_steps."""
    from pyspark.sql.types import ArrayType

    if not stream.isStreaming:
        from clinical_data_warehouse_bi_spark.funnel import funnel_steps

        return funnel_steps(stream, steps, user_col, type_col, ts_col)

    k = len(steps)
    out_schema = StructType(
        [
            StructField(user_col, LongType()),
            StructField("steps_completed", LongType()),
        ]
        + [StructField(f"step_{i + 1}_ts", TimestampType()) for i in range(k)]
    )
    state_schema = StructType(
        [
            StructField("stage", LongType()),
            StructField("hits", ArrayType(LongType())),  # epoch micros
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            stage, hits = state.get
            stage, hits = int(stage), list(hits or [])
        else:
            stage, hits = 0, []
        ev = []
        for pdf in pdfs:
            # ns -> us; the state stores integers so the arrow
            # round-trip is exact
            us = pdf[ts_col].astype("int64") // 1000
            ev.extend(zip(us.tolist(), pdf[type_col].tolist()))
        ev.sort()
        for ts_us, et in ev:
            if stage < k and et == steps[stage] and (
                stage == 0 or ts_us > hits[-1]
            ):
                stage += 1
                hits.append(ts_us)
        state.update((stage, hits))
        row = {user_col: [key[0]], "steps_completed": [stage]}
        for i in range(k):
            row[f"step_{i + 1}_ts"] = [
                pd.Timestamp(hits[i], unit="us") if i < stage else pd.NaT
            ]
        yield pd.DataFrame(row)

    return (
        stream.filter(F.col(type_col).isin(list(steps)))
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_vector_ingest(
    vectors: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming embedding ingest into a persisted IVF-PQ index
    (similarity.append_to_ivf_pq_index per micro-batch): each batch
    assigns/encodes against the index's frozen quantizers and
    appends only ids the postings don't already contain, so replay
    after any crash point is a no-op — the vector-store face of
    streaming_dedup_ingest. The index must exist
    (similarity.build_ivf_pq_index trains it on a seed corpus; a
    cadence job rebuilds/compacts as distribution drifts). Returns
    the started StreamingQuery."""
    from clinical_data_warehouse_bi_spark.similarity import (
        append_to_ivf_pq_index,
    )

    writer = vectors.writeStream.foreachBatch(
        lambda b, _id: append_to_ivf_pq_index(b.sparkSession, index_path, b)
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def semantic_ingest_batch(
    batch: DataFrame,
    index_path: str,
    centroids: list,
    threshold: float = 0.95,
) -> None:
    """One micro-batch of streaming SEMANTIC dedup (round-16 verdict
    item 6 — the embedding-space face of near_dup_ingest_batch):
    assign the batch to the FROZEN centroids, verify only against the
    stored members of the touched clusters plus lower-id batch-mates
    (similarity.incremental_semantic_dedup), and append the batch's
    verdict rows (vec_id, cluster, keep, embedding) to the persisted
    index — which is simultaneously the sink and the next batch's
    probe target.

    Crash/replay semantics (the near-dup pattern): if a crash lands
    after the append but before the offset commit, the replayed
    batch's own rows are already IN the index — probing them would
    drop every batch vector against itself. The replay guard
    anti-joins the index down to rows whose vec_id is NOT in this
    batch (broadcast: one micro-batch of ids), so the probe side is
    genuinely pre-batch corpus and the recomputed verdicts are
    IDENTICAL — replay appends duplicate rows of correct verdicts,
    never changed ones. Consumers read the index DISTINCT (or run
    io.compact_parquet_dir with a distinct transform). Batch ids
    must be globally fresh and larger than every stored id (any real
    ingest assigns monotone ids — the full-rebuild-equivalence
    contract)."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir
    from clinical_data_warehouse_bi_spark.similarity import (
        incremental_semantic_dedup,
    )

    spark = batch.sparkSession
    recover_compacted_dir(index_path)
    b = batch.select("vec_id", "embedding").localCheckpoint()
    if os.path.isdir(index_path):
        idx = spark.read.parquet(index_path)
        batch_ids = b.select("vec_id").distinct()
        idx = idx.join(F.broadcast(batch_ids), "vec_id", "left_anti")
    else:
        # seed drain: an empty index with the batch's own schema
        idx = b.limit(0).select(
            "vec_id",
            F.lit(0).cast("long").alias("cluster"),
            F.lit(True).alias("keep"),
            "embedding",
        )
    verdicts = incremental_semantic_dedup(b, idx, centroids, threshold)
    rows = verdicts.join(b, "vec_id").select(
        "vec_id", "cluster", "keep", "embedding"
    )
    rows.write.mode("append").parquet(index_path)


def streaming_semantic_ingest(
    vectors: DataFrame,
    index_path: str,
    centroids: list,
    threshold: float = 0.95,
    checkpoint_dir: str | None = None,
):
    """Streaming embedding ingest with SemDeDup verdicts maintained
    incrementally (semantic_ingest_batch per micro-batch): the
    persisted (vec_id, cluster, keep, embedding) relation stays
    equal — as a distinct set — to the full-rebuild
    similarity.semantic_dedup verdicts over everything ingested so
    far, at batch-proportional cost. Centroids are frozen at index
    build time (the IVF-PQ convention: a cadence job re-trains as
    distribution drifts). Returns the started StreamingQuery."""
    writer = vectors.writeStream.foreachBatch(
        lambda b, _id: semantic_ingest_batch(
            b, index_path, centroids, threshold
        )
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def phash_ingest_batch(
    batch: DataFrame,
    index_path: str,
    pairs_path: str,
    max_hamming: int | None = None,
    real_decode: bool = False,
) -> None:
    """One micro-batch of streaming perceptual-image near-dup: pHash
    the batch's blobs (batch-proportional, one mapInPandas pass),
    probe the persisted (doc_id, phash) index for corpus-vs-batch
    pairs within the Hamming radius, self-join the batch for
    batch-vs-batch pairs, append pairs then hashes — the image face
    of near_dup_ingest_batch, with the identical crash/replay
    semantics: pairs-before-hashes ordering plus the anti-join
    replay guard (a replayed batch whose hashes already landed
    re-emits only duplicate ROWS of correct pairs, never self-pairs);
    consumers read pairs DISTINCT (compact_pairs_distinct)."""
    from clinical_data_warehouse_bi_spark import multimodal as M
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    k = M.PHASH_MAX_HAMMING if max_hamming is None else max_hamming
    hashes = M.image_phash(batch, real_decode=real_decode).localCheckpoint()
    recover_compacted_dir(index_path)
    recover_compacted_dir(pairs_path)
    bb = M.phash_near_dup_pairs(hashes, k).withColumn(
        "origin", F.lit("batch")
    )
    if os.path.isdir(index_path):
        idx = spark.read.parquet(index_path)
        batch_ids = hashes.select("doc_id").distinct()
        idx = idx.join(F.broadcast(batch_ids), "doc_id", "left_anti")
        cb = M.incremental_phash_pairs(hashes, idx, k).filter(
            F.col("origin") == "corpus-batch"
        )
        pairs = cb.unionByName(bb)
    else:
        pairs = bb
    pairs.write.mode("append").parquet(pairs_path)
    hashes.write.mode("append").parquet(index_path)


def streaming_graph_ingest(
    vectors: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming embedding ingest into a persisted GRAPH-ANN index
    (hnsw.hnsw_index_append per micro-batch) — the round-13 graph
    face of streaming_vector_ingest: each batch rebuilds ONLY the
    shards its ids hash into (per-shard graphs are self-contained),
    and the append's shard-scoped anti-join (the replay probe reads
    vec_id from the TOUCHED shard= directories only — partition
    pruning, not an O(index) scan) makes replay after any crash
    point a no-op, so engine redelivery is exactly-once effective
    without an external guard. The index must exist
    (hnsw.build_hnsw_index or hnsw.build_routed_hnsw_index seeds it
    — a ROUTED index dispatches to hnsw.routed_index_append, which
    assigns each batch by frozen-centroid GEMM and grows hot cells
    under the skew guard, so streaming ingest serves both index
    kinds through this one entry point). Batch-proportional byte-work:
    untouched shard files are hardlinked, never read or copied, and
    the new index state publishes via the crash-safe rename swap —
    concurrent searches see a complete index or fail fast on the
    maintenance lock. Returns the started StreamingQuery."""
    from clinical_data_warehouse_bi_spark.hnsw import hnsw_index_append

    writer = vectors.writeStream.foreachBatch(
        lambda b, _id: hnsw_index_append(b.sparkSession, index_path, b)
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_bm25_ingest(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming document ingest into a persisted BM25 index
    (retrieval.bm25_index_append per micro-batch): the engine's
    batch id IS the index batch id, so redelivery after any crash
    point finds the committed batch=<id> directory and no-ops —
    exactly-once postings without an id-level guard, the lexical
    face of streaming_vector_ingest. Scope: this guards ENGINE
    replay (same batch id after a crash); a source that re-delivers
    the same documents in a NEW file gets a new batch id, so feed
    this from a deduped stream (dedup_events / dedup_ingest_batch)
    when the source is at-least-once at the file level. The index
    must exist (retrieval.bm25_index_build seeds it). Returns the
    started StreamingQuery."""
    from clinical_data_warehouse_bi_spark.retrieval import bm25_index_append

    writer = docs.writeStream.foreachBatch(
        lambda b, bid: bm25_index_append(b, index_path, f"s{bid}")
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_suffix_ingest(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming document ingest into a persisted exact-substring
    digest index (suffix.append_suffix_index per micro-batch): each
    batch's DISTINCT window digests anti-join the touched bucket=
    directories only, so replay after any crash point is a no-op —
    the decontamination-index face of streaming_vector_ingest. The
    index must exist (suffix.build_suffix_index seeds it from the
    initial reference corpus). Returns the started StreamingQuery."""
    from clinical_data_warehouse_bi_spark.suffix import append_suffix_index

    writer = docs.writeStream.foreachBatch(
        lambda b, _id: append_suffix_index(b.sparkSession, index_path, b)
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_decontaminate(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str | None = None,
):
    """Per-micro-batch exact-substring decontamination REPORT: probe
    each arriving batch against the persisted reference index
    (suffix.probe_suffix_index — batch digests map-side, index scan
    pruned to the batch's bucket set) and write the flagged
    (doc_id, span_start, span_end, batch_id) spans to a parquet sink
    partitioned by batch id — batch-id partition overwrite makes
    redelivery exactly-once (the preagg synopsis protocol: a replayed
    batch rewrites ITS OWN partition, never duplicates it). Consumers
    drop or mask the flagged spans before the batch enters a
    training corpus. Returns the started StreamingQuery."""
    from pyspark.sql import functions as _F

    from clinical_data_warehouse_bi_spark.suffix import probe_suffix_index

    def _probe(batch: DataFrame, batch_id: int) -> None:
        spans = probe_suffix_index(
            batch.sparkSession, batch, index_path
        ).withColumn("batch_id", _F.lit(int(batch_id)))
        (
            spans.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    writer = docs.writeStream.foreachBatch(_probe).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def expectations_apply_batch(
    batch: DataFrame,
    report_path: str,
    batch_id: int,
    spec: list[dict],
    dims: dict[str, DataFrame] | None = None,
) -> None:
    """One micro-batch of EXACTLY-ONCE streaming data-quality
    monitoring: run the declarative expectation suite
    (qa.expectation_report) on the batch — the stream is addressed
    as table 'stream' in the spec; static dimension tables for
    referential checks come in via ``dims`` — and land the per-check
    (violations, total_rows) rows via dynamic partition overwrite of
    the batch's OWN batch_id partition (the preagg_apply_batch
    contract: replay overwrites identical content, no-op).

    Per-check counts are MONOIDS over batches (sums), so
    read_expectation_totals is exact across any number of batches.
    'unique' checks are rejected: cross-batch uniqueness is not a
    summable per-batch quantity — that is streaming_dedup_ingest's
    job. Report size is O(checks) rows per batch; the read side
    aggregates a relation of batches x checks rows, which stays
    trivial for years of batches."""
    from clinical_data_warehouse_bi_spark import qa

    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    for e in spec:
        if e["check"] == "unique":
            raise ValueError(
                "streaming expectations cannot monitor 'unique' across"
                " batches (not per-batch summable); use"
                " streaming_dedup_ingest for cross-batch key dedup"
            )
    # the report is compact_expectations' rename-swap target — restore
    # any interrupted publish before overwriting a partition in it
    recover_compacted_dir(report_path)
    spark = batch.sparkSession
    tables = {"stream": batch, **(dims or {})}
    contrib = (
        qa.expectation_report(tables, spec)
        .select("check_name", "violations", "total_rows")
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            report_path
        )
    finally:
        spark.conf.set(key, before)


def read_expectation_totals(spark: SparkSession, report_path: str) -> DataFrame:
    """Exact cumulative data-quality state: per-check violation and
    row totals over every committed batch partition."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(report_path)
    rep = spark.read.parquet(report_path)
    return rep.groupBy("check_name").agg(
        F.sum("violations").cast("bigint").alias("violations"),
        F.sum("total_rows").cast("bigint").alias("total_rows"),
        (F.sum("violations") == 0).alias("passed"),
    )


def streaming_expectations(
    stream: DataFrame,
    report_path: str,
    spec: list[dict],
    dims: dict[str, DataFrame] | None = None,
    checkpoint_dir: str | None = None,
):
    """Continuous data-quality monitoring on an ingest stream:
    expectations_apply_batch per micro-batch. Returns the started
    StreamingQuery; read_expectation_totals serves the dashboard."""
    writer = stream.writeStream.foreachBatch(
        lambda b, bid: expectations_apply_batch(b, report_path, bid, spec, dims)
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def join_view_apply_batch(
    fact_batch: DataFrame,
    view_path: str,
    batch_id: int,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    as_of_col: str | None = None,
    how: str = "left",
) -> None:
    """One micro-batch of EXACTLY-ONCE incremental JOIN-view
    maintenance — the enrichment counterpart of preagg_apply_batch:
    the materialized view V = fact >< dim is maintained by landing
    ONLY the batch delta, already joined (dV = dfact >< dim), via
    dynamic partition overwrite of the batch's own batch_id
    partition. Replay overwrites identical content: no-op.

    Dimension correctness over time is the SCD2 contract, not
    retro-rewrites: pass an SCD2 dimension (valid_from / valid_to
    columns, scd2_apply_changes' schema) plus ``as_of_col`` naming
    the fact's event-time column, and each fact row joins the
    version in force AT ITS OWN TIME — so later dim changes never
    invalidate rows already materialized (the warehouse-standard
    semantics; a Type-1 overwrite dim would need full re-enrichment,
    which is a rebuild, not maintenance).

    Scale shape: one broadcast join per batch (dim is the small side
    of a star by construction), one partition write. No view-sized
    read, shuffle, or rewrite ever happens on the maintenance path."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    # the view is compact_join_view's rename-swap target
    recover_compacted_dir(view_path)
    spark = fact_batch.sparkSession
    d = F.broadcast(dim)
    if as_of_col is not None:
        cond = (
            (fact_batch[fact_key] == d[dim_key])
            & (d["valid_from"] <= fact_batch[as_of_col])
            & (
                d["valid_to"].isNull()
                | (fact_batch[as_of_col] < d["valid_to"])
            )
        )
    else:
        cond = fact_batch[fact_key] == d[dim_key]
    enriched = fact_batch.join(d, cond, how).drop(dim_key).withColumn(
        "batch_id", F.lit(int(batch_id)).cast("long")
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        enriched.write.mode("overwrite").partitionBy("batch_id").parquet(
            view_path
        )
    finally:
        spark.conf.set(key, before)


def read_join_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The maintained enrichment view (all committed batches)."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(view_path)
    return spark.read.parquet(view_path).drop("batch_id")


def streaming_join_view(
    stream: DataFrame,
    view_path: str,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    as_of_col: str | None = None,
    how: str = "left",
    checkpoint_dir: str | None = None,
):
    """Continuously maintain the enrichment view from an ingest
    stream (join_view_apply_batch per micro-batch)."""
    writer = stream.writeStream.foreachBatch(
        lambda b, bid: join_view_apply_batch(
            b, view_path, bid, dim, fact_key, dim_key,
            as_of_col=as_of_col, how=how,
        )
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_expectations(spark: SparkSession, report_path: str) -> dict:
    """Roll the streaming data-quality report's batch partitions into
    one base partition of per-check totals (the per-check counts are
    monoids, so summing partials preserves read_expectation_totals
    exactly). Same single-writer window and crash-safe publish
    protocol as compact_preagg."""
    import glob

    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    from clinical_data_warehouse_bi_spark.io import maintenance_lock

    recover_compacted_dir(report_path)
    with maintenance_lock(report_path):
        rep = spark.read.parquet(report_path)
        rolled = (
            rep.groupBy("check_name")
            .agg(
                F.sum("violations").cast("bigint").alias("violations"),
                F.sum("total_rows").cast("bigint").alias("total_rows"),
            )
            .withColumn("batch_id", F.lit(PREAGG_BASE_BATCH).cast("long"))
            .localCheckpoint()
        )
        rows = rolled.count()
        tmp = f"{report_path}.tmp-compact"
        old = f"{report_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(report_path, old)
        os.rename(tmp, report_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(glob.glob(os.path.join(report_path, "batch_id=*"))),
    }


def compact_join_view(
    spark: SparkSession, view_path: str, num_files: int | None = None
) -> dict:
    """Roll the join view's batch partitions into one base partition
    (no aggregation — the view rows ARE the content; this bounds the
    read side's partition count and merges small per-batch files).
    Crash-safe via the shared compaction publish protocol; same
    single-writer window as compact_preagg."""
    import glob

    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    from clinical_data_warehouse_bi_spark.io import maintenance_lock

    recover_compacted_dir(view_path)
    with maintenance_lock(view_path):
        view = spark.read.parquet(view_path).drop("batch_id").withColumn(
            "batch_id", F.lit(PREAGG_BASE_BATCH).cast("long")
        )
        if num_files:
            view = view.coalesce(int(num_files))
        rolled = view.localCheckpoint()
        rows = rolled.count()
        tmp = f"{view_path}.tmp-compact"
        old = f"{view_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(view_path, old)
        os.rename(tmp, view_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(glob.glob(os.path.join(view_path, "batch_id=*"))),
    }


def streaming_ewma_anomalies(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    alpha: float = 0.3,
    k_sigma: float = 3.0,
    warmup: int = 3,
) -> DataFrame:
    """Streaming EWMA control chart — the stateful face of
    timeseries.ewma_anomalies: per key, carry (ewma, ewd, n) across
    micro-batches via applyInPandasWithState (O(1) doubles per key,
    the smallest state any operator here holds) and emit one row per
    observation with the pre-point estimates and the anomaly flag.
    The metrics-pipeline deployment shape: a batch recompute scores
    history, THIS scores the live stream with identical decisions
    (batch==stream equivalence is the test).

    Same in-order contract as streaming_funnel: points are processed
    in timestamp order within a batch and batches arrive in
    event-time order per key. Unified API: a batch frame degrades to
    the batch fold."""
    if not stream.isStreaming:
        from clinical_data_warehouse_bi_spark.timeseries import ewma_anomalies

        return ewma_anomalies(
            stream, key_col, ts_col, val_col, alpha, k_sigma, warmup
        )

    from pyspark.sql.types import BooleanType, DoubleType, IntegerType

    a = float(alpha)
    out_schema = StructType(
        [
            StructField(key_col, LongType()),
            StructField(ts_col, TimestampType()),
            StructField(val_col, DoubleType()),
            StructField("ewma", DoubleType()),
            StructField("dev", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ewma", DoubleType()),
            StructField("ewd", DoubleType()),
            StructField("n", IntegerType()),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ewma, ewd, n = state.get
            n = int(n)
        else:
            ewma, ewd, n = 0.0, 0.0, 0
        pts = []
        for pdf in pdfs:
            for ts, v in zip(pdf[ts_col], pdf[val_col]):
                pts.append((ts, float(v)))
        pts.sort(key=lambda p: p[0])
        out = []
        for ts, v in pts:
            if n == 0:
                out.append((key[0], ts, v, None, None, False))
                ewma, ewd = v, 0.0
            else:
                an = bool(
                    n >= warmup and ewd > 0.0 and abs(v - ewma) > k_sigma * ewd
                )
                out.append((key[0], ts, v, ewma, ewd, an))
                ewma, ewd = (
                    a * v + (1 - a) * ewma,
                    a * abs(v - ewma) + (1 - a) * ewd,
                )
            n += 1
        state.update((float(ewma), float(ewd), int(n)))
        yield pd.DataFrame(
            out,
            columns=[key_col, ts_col, val_col, "ewma", "dev", "is_anomaly"],
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------ heavy hitters

HH_BASE_BATCH = -1


def heavy_hitters_apply_batch(
    batch: DataFrame,
    synopsis_path: str,
    batch_id: int,
    key_col: str,
    k: int = 256,
) -> None:
    """One micro-batch of EXACTLY-ONCE mergeable heavy-hitter
    maintenance (Misra-Gries-family truncated summaries; merging
    per-batch summaries with per-batch error budgets is the
    Agarwal et al. 2013 'Mergeable Summaries' construction).

    Per batch: ONE distributed groupBy counts the batch's keys;
    only the TOP-k keys are stored, each row carrying the batch's
    ``threshold`` — the (k+1)-th largest count, which upper-bounds
    what any UNSTORED key could have accumulated in this batch
    (threshold <= n_batch/(k+1) by the pigeonhole: k+1 keys each
    have at least that many rows). Storage per batch is <= k rows
    however large the batch: the state is bounded by design, which
    is the whole point at 100 TB — an exact per-key count table
    would be corpus-sized.

    Driver traffic is O(k) per batch (the top-(k+1) rows come back
    via TakeOrderedAndProject to stamp the threshold literal) —
    bounded and documented, the same class as the registry's top-n
    histogram collects.

    Exactly-once: dynamic overwrite of the batch's OWN batch_id
    partition (the preagg_apply_batch contract) — replay after any
    crash point rewrites identical content, no index, no anti-join.

    Row schema: (key string, n long, slack long, threshold long,
    batch_id long). Live batches write slack=0; ``slack`` exists so
    compaction can fold per-key upper-bound looseness into the base
    partition (see compact_heavy_hitters)."""
    if k <= 0:
        raise ValueError("k must be positive")
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    recover_compacted_dir(synopsis_path)
    counts = batch.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    top = counts.orderBy(F.desc("n"), F.asc("key")).limit(k + 1).collect()
    threshold = int(top[k]["n"]) if len(top) > k else 0
    stored = [(r["key"], int(r["n"])) for r in top[:k]]
    contrib = spark.createDataFrame(
        [(key, n, 0, threshold, int(batch_id)) for key, n in stored],
        "key string, n long, slack long, threshold long, batch_id long",
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            synopsis_path
        )
    finally:
        spark.conf.set(mode_key, before)


def read_heavy_hitters(spark: SparkSession, synopsis_path: str) -> DataFrame:
    """Derive per-key frequency BOUNDS from the synopsis:
    (key, n_lower, n_upper) plus the dataset-wide ``unseen_upper``
    (same value on every row): no key absent from the report can
    have a true count above it.

    lower(key)  = sum of stored counts.
    upper(key)  = lower + stored slack + the thresholds of every
                  batch the key was NOT stored in (it could have
                  hidden just under each of those batches' cuts).
    unseen_upper = sum of ALL batch thresholds.

    Plan: the synopsis is k x batches rows — orders of magnitude
    smaller than the stream; one groupBy plus a broadcast of the
    per-batch threshold relation (batches rows)."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(synopsis_path)
    return _hh_bounds(spark.read.parquet(synopsis_path))


def _hh_bounds(syn: DataFrame) -> DataFrame:
    """Bound derivation over an already-loaded synopsis relation —
    split out so compact_heavy_hitters can reuse it INSIDE its own
    maintenance lock (read_heavy_hitters' recover guard would
    correctly refuse to run there)."""
    # max, not first: within a live batch every row carries the same
    # threshold, but the compacted base partition stamps its budget
    # on ONE row and 0 elsewhere (first() would be nondeterministic)
    meta = syn.groupBy("batch_id").agg(F.max("threshold").alias("threshold"))
    total_threshold = meta.agg(
        F.coalesce(F.sum("threshold"), F.lit(0)).alias("t")
    ).collect()[0]["t"]
    # presence credit comes from the BATCH's threshold (broadcast
    # meta join), never the row's own threshold column — compacted
    # base rows carry 0 there while the base budget lives on one
    # marker row, and a key present in the base must still be
    # credited the full base budget (its residual looseness is
    # already folded into its slack)
    per_key = (
        syn.join(
            F.broadcast(meta.withColumnRenamed("threshold", "__bt")),
            "batch_id",
        )
        .groupBy("key")
        .agg(
            F.sum("n").alias("n_lower"),
            F.sum("slack").alias("__slack"),
            F.sum("__bt").alias("__present_threshold"),
        )
    )
    return (
        per_key.filter(F.col("key").isNotNull())  # empty-base marker row
        .select(
            "key",
            "n_lower",
            (
                F.col("n_lower")
                + F.col("__slack")
                + (F.lit(int(total_threshold)) - F.col("__present_threshold"))
            ).alias("n_upper"),
            F.lit(int(total_threshold)).alias("unseen_upper"),
        )
    )


def streaming_heavy_hitters(
    events: DataFrame,
    synopsis_path: str,
    key_col: str,
    k: int = 256,
    checkpoint_dir: str | None = None,
):
    """Maintain the heavy-hitter synopsis from a stream — returns
    the started StreamingQuery (foreachBatch over
    heavy_hitters_apply_batch, the exactly-once sink family)."""
    writer = events.writeStream.foreachBatch(
        lambda b, bid: heavy_hitters_apply_batch(
            b, synopsis_path, bid, key_col, k
        )
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_heavy_hitters(
    spark: SparkSession,
    synopsis_path: str,
    keep: int = 1024,
) -> dict:
    """Roll the synopsis's batch partitions into ONE base partition
    of at most ``keep`` keys, preserving bound VALIDITY (bounds may
    only loosen, never understate an upper or overstate a lower):

    - kept key:   n = its lower bound, slack = upper - lower (the
                  per-key looseness, folded into the row so future
                  reads need no per-batch presence history),
                  threshold = 0 on all but one row.
    - the base partition's single threshold budget = max(sum of all
      old thresholds, max dropped key's upper) — any key that is
      unseen OR was dropped here is still correctly upper-bounded.

    Dropping the per-batch presence history is what keeps the base
    bounded; the price is that post-compaction bounds are looser
    for keys that were present in most batches. Run with
    keep >> the expected heavy-hitter count.

    Crash-safe rename-swap under the shared maintenance lock (the
    compact_preagg protocol); same single-writer window."""
    import glob

    from clinical_data_warehouse_bi_spark.io import (
        maintenance_lock,
        recover_compacted_dir,
    )

    if keep <= 0:
        raise ValueError("keep must be positive")
    recover_compacted_dir(synopsis_path)
    with maintenance_lock(synopsis_path):
        # one bounded collect: the synopsis holds <= k x batches keys
        # by construction (that bound is the operator's contract)
        rows = _hh_bounds(spark.read.parquet(synopsis_path)).orderBy(
            F.desc("n_lower"), F.asc("key")
        ).collect()
        unseen = int(rows[0]["unseen_upper"]) if rows else 0
        kept, dropped_upper = rows[:keep], 0
        if len(rows) > keep:
            dropped_upper = max(int(r["n_upper"]) for r in rows[keep:])
        budget = max(unseen, dropped_upper)
        out = [
            (
                r["key"],
                int(r["n_lower"]),
                int(r["n_upper"]) - int(r["n_lower"]),
                budget if i == 0 else 0,
                HH_BASE_BATCH,
            )
            for i, r in enumerate(kept)
        ]
        if not out:
            out = [(None, 0, 0, budget, HH_BASE_BATCH)]
        rolled = spark.createDataFrame(
            out, "key string, n long, slack long, threshold long, batch_id long"
        )
        tmp = f"{synopsis_path}.tmp-compact"
        old = f"{synopsis_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(synopsis_path, old)
        os.rename(tmp, synopsis_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": len(out),
        "unseen_budget": budget,
        "partitions_after": len(
            glob.glob(os.path.join(synopsis_path, "batch_id=*"))
        ),
    }


# -------------------------------------------- quantile synopsis

QS_BASE_BATCH = -1


def quantile_synopsis_apply_batch(
    batch: DataFrame,
    synopsis_path: str,
    batch_id: int,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    key_cols: list[str] | None = None,
) -> None:
    """One micro-batch of EXACTLY-ONCE mergeable quantile-synopsis
    maintenance: a fixed equi-width histogram over [lo, hi) with
    ``n_bins`` bins, optionally per key — the p50/p99 dashboard's
    streaming state.

    Equi-width histograms are the simplest member of the mergeable-
    summary family and the only one here with LOSSLESS merge: bin
    counts add, so any number of batches (and any compaction) yields
    the IDENTICAL histogram a single pass would have built — no
    bound loosening, unlike the heavy-hitter synopsis. The price is
    a fixed domain: the caller declares [lo, hi] (latency floors and
    SLO ceilings are known in practice); out-of-range values CLAMP
    into the edge bins, which biases edge quantiles toward the
    domain boundary — pick bounds that contain the mass you query.

    Quantile error is deterministic: the true quantile lies inside
    the reported bin, so |estimate - truth| <= (hi-lo)/n_bins.

    Scale shape: ONE batch-proportional groupBy to <= n_bins rows
    per key; state per batch is bounded by keys x n_bins however
    large the batch. Exactly-once via the batch_id dynamic partition
    overwrite (the preagg_apply_batch contract)."""
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    recover_compacted_dir(synopsis_path)
    keys = list(key_cols or [])
    width = (float(hi) - float(lo)) / n_bins
    bin_expr = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col(value_col).cast("double") - F.lit(float(lo)))
                / F.lit(width)
            ).cast("int"),
        ),
    )
    contrib = (
        batch.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            synopsis_path
        )
    finally:
        spark.conf.set(mode_key, before)


def read_quantiles(
    spark: SparkSession,
    synopsis_path: str,
    quantiles: list[float],
    lo: float,
    hi: float,
    n_bins: int = 256,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Derive quantile estimates from the histogram synopsis: one
    row per key with a column per requested quantile (q_0_5 etc.,
    the grouped_percentiles naming), each within (hi-lo)/n_bins of
    the true quantile by construction.

    Estimator: the q-th quantile's target rank is q*(n-1)+1 (the
    same linear-interpolation rank percentile_cont uses); the
    estimate interpolates INSIDE the covering bin between its edges
    by the rank's position among that bin's counts.

    Plan: merge = groupBy (key, bin) sum over the synopsis (keys x
    bins x batches rows — tiny); cumulative window per key; one
    conditional aggregation emits every quantile in a single pass.
    Three exchanges over a bounded relation, none corpus-sized."""
    if not quantiles or not all(0.0 <= q <= 1.0 for q in quantiles):
        raise ValueError("quantiles must be fractions in [0, 1]")
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(synopsis_path)
    keys = list(key_cols or [])
    width = (float(hi) - float(lo)) / n_bins
    syn = spark.read.parquet(synopsis_path)
    merged = syn.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy("bin") if keys \
        else Window.orderBy("bin")
    cum = merged.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.max(F.col("cum")).over(
            Window.partitionBy(*[F.col(k) for k in keys]) if keys
            else Window.partitionBy()
        )
    )
    aggs = []
    for q in quantiles:
        rank = F.lit(float(q)) * (F.col("total") - 1) + 1  # 1-based
        cond = (F.col("cum") >= rank) & (F.col("cum") - F.col("n") < rank)
        within = (rank - (F.col("cum") - F.col("n")) - 1) / F.col("n")
        est = F.lit(float(lo)) + (F.col("bin") + within) * F.lit(width)
        name = f"q_{str(q).replace('.', '_')}"
        aggs.append(F.max(F.when(cond, est)).alias(name))
    return cum.groupBy(*keys).agg(*aggs)


def streaming_quantiles(
    events: DataFrame,
    synopsis_path: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    key_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
):
    """Maintain the quantile synopsis from a stream (foreachBatch
    over quantile_synopsis_apply_batch)."""
    writer = events.writeStream.foreachBatch(
        lambda b, bid: quantile_synopsis_apply_batch(
            b, synopsis_path, bid, value_col, lo, hi, n_bins, key_cols
        )
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_quantile_synopsis(
    spark: SparkSession,
    synopsis_path: str,
    key_cols: list[str] | None = None,
) -> dict:
    """Roll the synopsis's batch partitions into ONE base partition
    by summing bin counts — LOSSLESS: reads before and after
    compaction are bit-identical (the histogram merge has no
    information to lose, unlike compact_heavy_hitters' budget).
    Crash-safe rename-swap under the shared maintenance lock."""
    import glob

    from clinical_data_warehouse_bi_spark.io import (
        maintenance_lock,
        recover_compacted_dir,
    )

    keys = list(key_cols or [])
    recover_compacted_dir(synopsis_path)
    with maintenance_lock(synopsis_path):
        syn = spark.read.parquet(synopsis_path)
        rolled = (
            syn.groupBy(*keys, "bin")
            .agg(F.sum("n").alias("n"))
            .withColumn("batch_id", F.lit(QS_BASE_BATCH).cast("long"))
            .localCheckpoint()
        )
        rows = rolled.count()
        tmp = f"{synopsis_path}.tmp-compact"
        old = f"{synopsis_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(synopsis_path, old)
        os.rename(tmp, synopsis_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(
            glob.glob(os.path.join(synopsis_path, "batch_id=*"))
        ),
    }


# ------------------------------------------------ census synopsis


def census_apply_batch(
    batch: DataFrame,
    synopsis_path: str,
    batch_id: int,
    unit_col: str = "careunit_id",
    patient_col: str = "patient_id",
    in_col: str = "intime",
    out_col: str = "outtime",
    max_days: int = 365,
) -> None:
    """One micro-batch of EXACTLY-ONCE daily-census maintenance —
    the streaming twin of kpi.daily_census (transfers stream in,
    the bed-occupancy report stays current).

    Distinct-patient census is NOT additive across batches (the
    same patient-day can arrive in two batches via overlapping or
    corrected stays), so the synopsis stores the DISTINCT
    (unit, day, patient) triples each batch contributes and the
    read side counts distinct over synopsis KEYS — the
    read_preagg/collect_set design note: a stored FINAL census
    could never repair a re-observed patient-day; the key synopsis
    always can.

    Batch work: the same guarded map-side interval-to-day explode
    as the batch operator (max_days fences sentinel/open intervals
    — kpi.daily_census's ~400k-rows-per-bad-row trap) + ONE
    distinct on the slim triple. Exactly-once via the batch_id
    dynamic-partition overwrite contract."""
    from clinical_data_warehouse_bi_spark import kpi as _kpi
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    spark = batch.sparkSession
    recover_compacted_dir(synopsis_path)
    tin = _kpi._desentinel(in_col)
    tout = _kpi._desentinel(out_col)
    if max_days <= 0:
        raise ValueError("max_days must be positive")
    bounded = (
        batch.withColumn("__in", F.to_date(tin))
        .withColumn("__out", F.to_date(tout))
        .filter(
            F.col("__in").isNotNull()
            & F.col("__out").isNotNull()
            & (F.col("__out") >= F.col("__in"))
            & (F.datediff("__out", "__in") <= F.lit(int(max_days)))
        )
    )
    contrib = (
        bounded.select(
            F.col(unit_col).alias("unit"),
            F.col(patient_col).alias("patient"),
            F.explode(F.sequence("__in", "__out")).alias("census_date"),
        )
        .distinct()
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            synopsis_path
        )
    finally:
        spark.conf.set(mode_key, before)


def read_census(spark: SparkSession, synopsis_path: str) -> DataFrame:
    """Derive the current daily census from the synopsis: distinct
    patients per (unit, day) over synopsis keys — exact across any
    number of batches including re-observed patient-days. Matches
    kpi.daily_census's census column on the union of all batches
    (the batch==stream dual the tests pin); stay_rows is a
    per-batch-arrival notion and deliberately not derived here."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(synopsis_path)
    syn = spark.read.parquet(synopsis_path)
    return syn.groupBy("unit", "census_date").agg(
        F.countDistinct("patient").alias("census")
    )


def compact_census(spark: SparkSession, synopsis_path: str) -> dict:
    """Roll the census synopsis into ONE base partition of distinct
    (unit, day, patient) triples — LOSSLESS (distinct-over-keys has
    nothing to lose); the shared crash-safe swap protocol."""
    import glob

    from clinical_data_warehouse_bi_spark.io import (
        maintenance_lock,
        recover_compacted_dir,
    )

    recover_compacted_dir(synopsis_path)
    with maintenance_lock(synopsis_path):
        syn = spark.read.parquet(synopsis_path)
        rolled = (
            syn.select("unit", "patient", "census_date")
            .distinct()
            .withColumn("batch_id", F.lit(PREAGG_BASE_BATCH).cast("long"))
            .localCheckpoint()
        )
        rows = rolled.count()
        tmp = f"{synopsis_path}.tmp-compact"
        old = f"{synopsis_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(synopsis_path, old)
        os.rename(tmp, synopsis_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(
            glob.glob(os.path.join(synopsis_path, "batch_id=*"))
        ),
    }


def streaming_attribution(
    stream: DataFrame,
    conversion_types: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    model: str = "last_touch",
) -> DataFrame:
    """Streaming first/last-touch attribution — the stateful face of
    timeseries.attribution: per user, maintain the journey's opening
    touch and most recent touch across micro-batches
    (applyInPandasWithState, state = two (ts, channel) pairs — O(1)
    per user regardless of journey length); every conversion event
    emits one credited row as it arrives, instead of a nightly batch
    join over the full touch history.

    Ordering contract: events are processed in timestamp order
    WITHIN each batch and batches are assumed to arrive in
    event-time order per user — the streaming_funnel contract; a
    disordered source feeds through a watermarked sort or uses the
    batch operator.

    Unified API: a batch frame degrades to timeseries.attribution
    (same semantics, window form). Same-timestamp touch-then-convert
    resolves touch first, both forms."""
    if model not in ("last_touch", "first_touch"):
        raise ValueError("model must be last_touch or first_touch")
    if not stream.isStreaming:
        from clinical_data_warehouse_bi_spark.timeseries import attribution

        return attribution(
            stream, user_col, ts_col, type_col,
            F.col(type_col).isin(list(conversion_types)), model=model,
        )

    out_schema = StructType(
        [
            StructField("user", LongType()),
            StructField("conversion_ts", TimestampType()),
            StructField("credited_channel", StringType()),
            StructField("touch_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("first_us", LongType()),
            StructField("first_ch", StringType()),
            StructField("last_us", LongType()),
            StructField("last_ch", StringType()),
        ]
    )
    conv = set(conversion_types)

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            f_us, f_ch, l_us, l_ch = state.get
        else:
            f_us, f_ch, l_us, l_ch = None, None, None, None
        ev = []
        for pdf in pdfs:
            us = pdf[ts_col].astype("int64") // 1000
            ev.extend(zip(us.tolist(), pdf[type_col].tolist()))
        # touch (0) sorts before conversion (1) at equal timestamps;
        # same-instant touches order by channel (the batch operator's
        # declared tiebreak)
        ev.sort(key=lambda x: (x[0], 1 if x[1] in conv else 0, x[1] or ""))
        out = {"user": [], "conversion_ts": [], "credited_channel": [],
               "touch_ts": []}
        for ts_us, et in ev:
            if et in conv:
                pick_us, pick_ch = (
                    (f_us, f_ch) if model == "first_touch" else (l_us, l_ch)
                )
                out["user"].append(key[0])
                out["conversion_ts"].append(pd.Timestamp(ts_us, unit="us"))
                out["credited_channel"].append(pick_ch)
                out["touch_ts"].append(
                    pd.Timestamp(pick_us, unit="us")
                    if pick_us is not None
                    else pd.NaT
                )
            elif et is not None:  # NULL channel is never creditable
                # tie-aware cross-batch state transition: first keeps
                # the (ts, channel)-least touch, last the greatest —
                # the batch struct-min/max semantics
                if f_us is None or (ts_us, et) < (f_us, f_ch):
                    f_us, f_ch = ts_us, et
                if l_us is None or (ts_us, et) > (l_us, l_ch):
                    l_us, l_ch = ts_us, et
        state.update((f_us, f_ch, l_us, l_ch))
        yield pd.DataFrame(out)

    return stream.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_seasonal_residuals(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    season: str = "dow",
    baseline_n: int = 4,
) -> DataFrame:
    """Streaming twin of timeseries.seasonal_anomalies' baseline
    stage: per (key, seasonal slot), maintain the last ``baseline_n``
    observations (applyInPandasWithState — O(baseline_n) doubles per
    slot) and emit each arriving value with its trailing same-slot
    MEDIAN baseline and residual, exactly as the batch window
    computes them (two-drain duality pinned by test).

    Flagging stays with the caller (a fixed residual threshold
    streaming-side, or the batch operator's MAD score in the nightly
    sweep): the modified z-score needs the key's FULL residual
    distribution, which is a batch property by definition.

    Ordering contract: the streaming_funnel rule — in-order per key
    across batches, sorted within each batch."""
    if season == "dow":
        slot_expr = F.dayofweek(F.col(ts_col))
    elif season == "hour":
        slot_expr = F.hour(F.col(ts_col))
    else:
        raise ValueError("season must be 'dow' or 'hour'")
    if baseline_n <= 0:
        raise ValueError("baseline_n must be positive")
    if not stream.isStreaming:
        from clinical_data_warehouse_bi_spark.timeseries import (
            seasonal_anomalies,
        )

        return seasonal_anomalies(
            stream, [key_col], ts_col, value_col,
            season=season, baseline_n=baseline_n,
        ).select(key_col, ts_col, value_col, "baseline", "residual")

    from pyspark.sql.types import ArrayType, DoubleType, IntegerType

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField(ts_col, TimestampType()),
            StructField(value_col, DoubleType()),
            StructField("baseline", DoubleType()),
            StructField("residual", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("vals", ArrayType(DoubleType()))])
    n_keep = int(baseline_n)

    def _median(vals):
        if not vals:
            return None
        s = sorted(vals)
        n = len(s)
        return (s[(n - 1) // 2] + s[n // 2]) / 2.0

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        vals = list(state.get[0] or []) if state.exists else []
        rows = {key_col: [], ts_col: [], value_col: [],
                "baseline": [], "residual": []}
        ev = []
        for pdf in pdfs:
            ev.extend(zip(pdf[ts_col].tolist(), pdf[value_col].tolist()))
        ev.sort(key=lambda x: x[0])
        orig_key = key[0].split("\x01")[0]  # strip the slot suffix
        for ts, v in ev:
            base = _median(vals)
            rows[key_col].append(orig_key)
            rows[ts_col].append(ts)
            rows[value_col].append(float(v))
            rows["baseline"].append(base)
            rows["residual"].append(None if base is None else float(v) - base)
            vals.append(float(v))
            if len(vals) > n_keep:
                vals = vals[-n_keep:]
        state.update((vals,))
        yield pd.DataFrame(rows)

    slotted = stream.withColumn("__slot", slot_expr)
    return (
        slotted.withColumn(
            "__skey",
            F.concat_ws("\x01", F.col(key_col).cast("string"),
                        F.col("__slot").cast("string")),
        )
        .groupBy("__skey")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Token-count synopsis — the corpus-drift monitor's state (round 10)
# ---------------------------------------------------------------------------

#: compacted token-count history lands in this batch partition
TOKEN_COUNTS_BASE_BATCH = -1


def token_counts_apply_batch(
    batch: DataFrame,
    synopsis_path: str,
    batch_id: int,
    text_col: str = "text",
) -> None:
    """One micro-batch of EXACTLY-ONCE token-count maintenance: the
    batch's (token, n) partials land via DYNAMIC partition overwrite
    of their own batch_id partition (the preagg_apply_batch
    protocol: a replayed batch overwrites the identical partition
    with identical content, so replay after any crash point is a
    no-op — no index, no anti-join, no transactional store).

    This synopsis is the STATE behind continuous corpus-drift
    monitoring: read_token_counts merges it exactly (counts are
    additive over partials), and text.divergence_from_counts scores
    it against a reference snapshot without ever re-tokenizing the
    corpus.

    Scale shape: one batch-proportional tokenize + groupBy whose
    exchange carries (token, count) — a bounded vocabulary, unlike
    n-grams — then one partition-directory write. Synopsis size is
    bounded by distinct tokens per batch; compact_token_counts rolls
    history into one base partition so the read side never scans
    unbounded batch counts."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir
    from clinical_data_warehouse_bi_spark.text import tokens

    spark = batch.sparkSession
    recover_compacted_dir(synopsis_path)
    contrib = (
        batch.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        contrib.write.mode("overwrite").partitionBy("batch_id").parquet(
            synopsis_path
        )
    finally:
        spark.conf.set(key, before)


def read_token_counts(spark: SparkSession, synopsis_path: str) -> DataFrame:
    """Merge the synopsis into the exact corpus-wide (token, n)
    relation — counts are additive over batch partials, so the merge
    is one groupBy however many batches contributed."""
    from clinical_data_warehouse_bi_spark.io import recover_compacted_dir

    recover_compacted_dir(synopsis_path)
    syn = spark.read.parquet(synopsis_path)
    return syn.groupBy("token").agg(F.sum("n").alias("n"))


def streaming_token_counts(
    docs: DataFrame,
    synopsis_path: str,
    checkpoint_dir: str | None = None,
    text_col: str = "text",
):
    """Maintain the token-count synopsis from a document stream —
    the exactly-once drift-monitor sink (see token_counts_apply_batch).
    Returns the started StreamingQuery."""
    writer = docs.writeStream.foreachBatch(
        lambda b, bid: token_counts_apply_batch(
            b, synopsis_path, bid, text_col
        )
    ).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def compact_token_counts(spark: SparkSession, synopsis_path: str) -> dict:
    """Roll the synopsis's batch partitions into ONE base partition
    (batch_id={TOKEN_COUNTS_BASE_BATCH}), summing per token — bounds
    read_token_counts' scan by the vocabulary instead of the batch
    count. Crash-safe via the shared compaction publish protocol;
    same single-writer window as every sink maintenance here (run
    between micro-batches, after offsets commit)."""
    import glob

    from clinical_data_warehouse_bi_spark.io import (
        maintenance_lock,
        recover_compacted_dir,
    )

    recover_compacted_dir(synopsis_path)
    with maintenance_lock(synopsis_path):
        syn = spark.read.parquet(synopsis_path)
        rolled = (
            syn.groupBy("token")
            .agg(F.sum("n").alias("n"))
            .withColumn(
                "batch_id", F.lit(TOKEN_COUNTS_BASE_BATCH).cast("long")
            )
            .localCheckpoint()
        )
        rows = rolled.count()
        tmp = f"{synopsis_path}.tmp-compact"
        old = f"{synopsis_path}.old-compact"
        rolled.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        os.rename(synopsis_path, old)
        os.rename(tmp, synopsis_path)
        shutil.rmtree(old, ignore_errors=True)
    return {
        "rows": rows,
        "partitions_after": len(
            glob.glob(os.path.join(synopsis_path, "batch_id=*"))
        ),
    }


def corpus_drift_vs_reference(
    spark: SparkSession,
    synopsis_path: str,
    reference: DataFrame,
    top_k: int = 50,
    min_count: int = 1,
) -> DataFrame:
    """Score the LIVE corpus (the token-count synopsis) against a
    REFERENCE snapshot's (token, n) relation: per-token
    Jensen-Shannon contributions via text.divergence_from_counts —
    the continuous-ingest face of text.vocabulary_divergence (which
    tokenizes two document sets; this reads the maintained counts
    and never touches corpus text). ``reference`` columns:
    (token, n)."""
    from clinical_data_warehouse_bi_spark.text import divergence_from_counts

    live = read_token_counts(spark, synopsis_path).select(
        "token", F.col("n").alias("n_a")
    )
    ref = reference.select("token", F.col("n").alias("n_b"))
    return divergence_from_counts(live, ref, top_k, min_count)
