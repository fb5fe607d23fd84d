"""Structured Streaming operators.

The reference has no streaming surface (Athena/Glue are batch); this
module is the engine's stream-ingestion path: ``readStream`` over a
dataset prefix (the same parquet layout the batch side writes),
watermarked window aggregation, and stateful sessionization via
``applyInPandasWithState``. ``availableNow`` replays the backlog as a
bounded stream — the pattern for backfill-then-tail pipelines.
"""

from __future__ import annotations

import uuid
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aws_data_wrangler_spark.s3._fs import _active_spark, normalize_path


def read_event_stream(
    path: str,
    schema: Optional[str] = None,
    spark: Optional[SparkSession] = None,
    **options: str,
) -> DataFrame:
    """File-source stream over a dataset prefix (new files = new data).

    Schema is required by Structured Streaming; when omitted it is
    inferred from the existing files via a one-off batch read.
    Extra ``options`` pass through to the reader (e.g.
    ``maxFilesPerTrigger=1`` to force one micro-batch per file).
    """
    spark = _active_spark(spark)
    path = normalize_path(path)
    if schema is None:
        inferred = spark.read.parquet(path).schema
    else:
        inferred = schema  # DDL string accepted by .schema()
    # FileStreamSource requires a directory: stream the parent dir with a
    # glob filter when handed a single file
    reader = spark.readStream.schema(inferred)
    for key, value in options.items():
        reader = reader.option(key, value)
    if path.endswith(".parquet"):
        import posixpath

        reader = reader.option("pathGlobFilter", posixpath.basename(path))
        path = posixpath.dirname(path)
    stream = reader.parquet(path)
    # event time arrives as ns-long (nanosAsLong) OR timestamp_ntz
    # depending on the parquet encoding; watermarks/windows need TIMESTAMP
    from aws_data_wrangler_spark.functions import normalize_event_ts

    return normalize_event_ts(stream)


def windowed_rollup(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    slide_duration: Optional[str] = None,
) -> DataFrame:
    """Watermarked tumbling- (or, with ``slide_duration``, hopping-)
    window rollup — the streaming hypertable.

    A hopping window assigns each row to ``window/slide`` overlapping
    windows (Spark expands them JVM-side before the agg). The
    watermark bounds state: at 100 TB/day the state store holds
    only windows newer than (max event time − watermark); late rows
    beyond it are dropped deterministically.
    """
    win = F.window(F.col(time_col), window_duration, slide_duration or window_duration)
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
            # grid-stable avg: round the sum AT the value grid first so
            # both engines divide identical doubles (see plans/queries.py)
            F.round(
                F.round(F.sum(value_col), 2) / F.count(F.lit(1)), 6
            ).alias("avg_value"),
        )
        .select(
            # string-typed window bound: engine-portable representation
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col(key_col),
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def run_available_now(
    result: DataFrame,
    query_name: Optional[str] = None,
    timeout_s: int = 300,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming plan over the existing backlog
    (``trigger(availableNow=True)``) into an in-memory sink and return
    the materialized table. Complete-mode so windowed aggs emit
    without waiting for watermark closure — single-batch replay
    therefore equals the batch SQL result. Stream-stream joins require
    ``output_mode="append"`` (inner-join matches emit immediately; the
    watermark only bounds state)."""
    spark = result.sparkSession
    name = query_name or f"sg_stream_{uuid.uuid4().hex[:8]}"
    query = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_s)
    return spark.table(name)


def enrich_stream(
    stream: DataFrame,
    static_dim: DataFrame,
    on,
    broadcast_dim: bool = True,
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join.

    The canonical streaming enrichment: each micro-batch hash-joins
    against the static dimension with NO streaming state (the static
    side is re-resolvable per batch). ``broadcast_dim=True`` ships the
    dim to executors once — at 100 TB/day of stream the dim is the
    small side by contract; a huge dim belongs in a stream-stream join
    or a keyed state store instead.
    """
    dim = F.broadcast(static_dim) if broadcast_dim else static_dim
    return stream.join(dim, on=on, how=how)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_time: str = "ts",
    right_time: str = "ts",
    window_seconds: float = 3600.0,
    watermark: str = "2 hours",
    bucket_seconds: Optional[float] = None,
) -> DataFrame:
    """Stream-stream interval join: all (left, right) pairs with
    ``right.time ∈ [left.time, left.time + window_seconds)`` — the
    streaming twin of ``operators.joins.interval_join_bucketed``.

    Spark's stream-stream join needs an equi key to shuffle state by;
    with no natural key the time bucket *is* the key: each left row is
    replicated into every bucket its window overlaps (stateless
    explode), the join is an equi-join on the bucket id plus the exact
    range predicate on the watermarked event-time columns — that
    time-range condition is what lets Spark expire join state past the
    watermark, so state stays bounded at
    ``O(rows within watermark horizon)``, not O(stream).

    Columns come back with ``l_`` / ``r_`` prefixes.
    """
    bucket_seconds = bucket_seconds or window_seconds
    bucket_us = int(bucket_seconds * 1_000_000)
    window_us = int(window_seconds * 1_000_000)

    l_pref = left.withWatermark(left_time, watermark).select(
        [F.col(c).alias(f"l_{c}") for c in left.columns]
    )
    r_pref = right.withWatermark(right_time, watermark).select(
        [F.col(c).alias(f"r_{c}") for c in right.columns]
    )
    l_bucketed = l_pref.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.unix_micros(F.col(f"l_{left_time}")) / bucket_us).cast("long"),
                ((F.unix_micros(F.col(f"l_{left_time}")) + window_us) / bucket_us).cast("long"),
            )
        ),
    )
    r_bucketed = r_pref.withColumn(
        "__bucket", (F.unix_micros(F.col(f"r_{right_time}")) / bucket_us).cast("long")
    )
    lt, rt = F.col(f"l_{left_time}"), F.col(f"r_{right_time}")
    joined = l_bucketed.join(r_bucketed, ["__bucket"]).where(
        (rt >= lt) & (rt < lt + F.expr(f"INTERVAL {int(window_seconds)} SECONDS"))
    )
    return joined.drop("__bucket")


def _write_snapshot_batch_id(snapshot_path: str, batch_id: int, spark: SparkSession) -> None:
    """Record the micro-batch id that produced a snapshot (underscore
    files are invisible to parquet readers)."""
    from aws_data_wrangler_spark.s3._fs import _fs_for, _hpath

    fs, jvm = _fs_for(spark, snapshot_path)
    out = fs.create(_hpath(jvm, f"{snapshot_path}/_batch_id"), True)
    out.write(bytearray(str(batch_id).encode()))
    out.close()


def _snapshot_batch_id(target_path: str, version: int, spark: SparkSession) -> Optional[int]:
    """Batch id recorded for snapshot ``v=version`` (None if absent)."""
    from aws_data_wrangler_spark.s3._fs import _fs_for, _hpath

    marker = f"{normalize_path(target_path)}/v={version}/_batch_id"
    fs, jvm = _fs_for(spark, marker)
    hpath = _hpath(jvm, marker)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            data.append(b)
        return int(bytes(data).decode())
    except ValueError:
        return None
    finally:
        stream.close()


def _latest_snapshot_version(target_path: str, spark: SparkSession) -> int:
    """Highest ``v=N`` snapshot under ``target_path`` (-1 if none)."""
    from aws_data_wrangler_spark.s3 import list_directories

    versions = []
    for d in list_directories(target_path, spark=spark):
        name = d.rstrip("/").rsplit("/", 1)[-1]
        if name.startswith("v="):
            try:
                versions.append(int(name[2:]))
            except ValueError:
                continue
    return max(versions, default=-1)


def read_upsert_table(
    target_path: str,
    spark: Optional[SparkSession] = None,
    version: Optional[int] = None,
) -> Optional[DataFrame]:
    """Read a snapshot of an ``upsert_sink`` table (None if the table
    has no committed snapshot yet). ``version`` time-travels to an
    older retained snapshot; default is the latest."""
    from aws_data_wrangler_spark.s3 import does_object_exist

    spark = _active_spark(spark)
    if version is None:
        version = _latest_snapshot_version(target_path, spark)
    if version < 0:
        return None
    snapshot = f"{normalize_path(target_path)}/v={version}"
    if not does_object_exist(snapshot, spark=spark):
        return None  # never committed, or vacuumed out
    return spark.read.parquet(snapshot)


def vacuum_upsert_table(
    target_path: str,
    keep_versions: int = 1,
    spark: Optional[SparkSession] = None,
) -> int:
    """Drop all but the newest ``keep_versions`` snapshots (the
    out-of-band retention compaction every snapshot table needs — old
    versions exist only for time travel and in-flight readers).
    Returns the number of snapshots removed."""
    from aws_data_wrangler_spark.s3 import delete_objects, list_directories

    spark = _active_spark(spark)
    latest = _latest_snapshot_version(target_path, spark)
    removed = 0
    for d in list_directories(target_path, spark=spark):
        name = d.rstrip("/").rsplit("/", 1)[-1]
        if not name.startswith("v="):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        if v <= latest - keep_versions:
            delete_objects(d, spark=spark)
            removed += 1
    return removed


def merge_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    keys: list,
    order_cols: list,
) -> None:
    """One MERGE-INTO micro-batch: union the current snapshot with the
    batch, keep the per-key argmax of ``order_cols``, write snapshot
    ``v=N+1``. Exactly-once on micro-batch RETRY: the merge itself is
    idempotent (argmax of a re-unioned batch is unchanged), and an
    already-committed batch id — recorded as an underscore marker in
    the snapshot — is skipped outright, so a failure between snapshot
    write and checkpoint commit never even writes a redundant version.
    """
    from pyspark.sql.window import Window

    if not batch_df.take(1):
        return
    spark_b = batch_df.sparkSession
    version = _latest_snapshot_version(target_path, spark_b)
    if version >= 0 and _snapshot_batch_id(target_path, version, spark_b) == batch_id:
        return
    current = (
        spark_b.read.parquet(f"{normalize_path(target_path)}/v={version}")
        if version >= 0
        else None
    )
    merged = batch_df if current is None else current.unionByName(batch_df)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    snapshot = f"{normalize_path(target_path)}/v={version + 1}"
    latest.write.mode("overwrite").parquet(snapshot)
    _write_snapshot_batch_id(snapshot, batch_id, spark_b)


def upsert_sink(
    stream: DataFrame,
    target_path: str,
    key_cols: Optional[list] = None,
    order_col: str = "ts",
    tiebreak_cols: Optional[list] = None,
    timeout_s: int = 300,
) -> DataFrame:
    """Streaming MERGE-INTO sink via ``foreachBatch``: maintain a table
    holding the latest row per key, and return its final snapshot.

    Each micro-batch is unioned with the current snapshot and reduced
    to the per-key argmax of ``order_col`` (ties broken by
    ``tiebreak_cols``, descending), then written as a NEW versioned
    snapshot directory (``v=N+1``). Readers always resolve
    ``max(v=N)`` — a complete, immutable snapshot — so writers never
    overwrite files a reader may be scanning: the snapshot-isolation
    pattern of Delta/Iceberg built from plain parquet. The stream
    operator itself is stateless (table state lives in the table), so
    state never accumulates in the stream; per-batch cost is one
    shuffle of (snapshot ∪ batch) on the key. At 100 TB the same merge
    runs partition-wise when the snapshot is written partitioned by a
    key prefix; old versions are retention-compacted out-of-band.
    """
    keys = key_cols or ["event_id"]
    order_cols = [order_col, *(tiebreak_cols or [])]

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert_batch(batch_df, batch_id, target_path, keys, order_cols)

    query = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{normalize_path(target_path)}/_checkpoint")
        .start()
    )
    query.awaitTermination(timeout_s)
    result = read_upsert_table(target_path, stream.sparkSession)
    if result is None:
        raise RuntimeError(f"upsert_sink produced no snapshot under {target_path}")
    return result


def dedup_stream(
    stream: DataFrame,
    key_cols: Optional[list] = None,
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    state once the watermark passes — the streaming twin of the batch
    exact-dedup operator (duplicate events within the watermark horizon
    are emitted once).
    """
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def dedup_stream_against_corpus(
    stream: DataFrame,
    corpus_keys: DataFrame,
    key_cols: Optional[list] = None,
    time_col: str = "ts",
    watermark: str = "2 hours",
    broadcast_corpus: bool = True,
) -> DataFrame:
    """Streaming ingest dedup against an EXISTING corpus: each
    micro-batch left-anti joins the static known-keys table (rows whose
    key the corpus already holds are dropped — stateless per batch, the
    streaming twin of ``dedup.minhash_lsh_incremental``'s exact tier),
    then ``dropDuplicatesWithinWatermark`` removes repeats WITHIN the
    stream with state bounded by the watermark horizon.

    ``broadcast_corpus=True`` ships the key set to executors once — at
    ingest scale the fingerprint dim is small relative to the stream; a
    corpus too big to broadcast belongs in a bucketed static table so
    the per-batch anti join stays shuffle-local.
    """
    keys = key_cols or ["fingerprint"]
    dim = corpus_keys.select(*keys).distinct()
    if broadcast_corpus:
        dim = F.broadcast(dim)
    fresh = stream.join(dim, on=keys, how="left_anti")
    return fresh.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)


def dedup_growing_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    out_path: str,
    keys: list,
) -> None:
    """One micro-batch of the growing-corpus dedup: drop rows whose key
    the corpus snapshot already holds, land the survivors, append their
    keys as the next corpus snapshot.

    Exactly-once on retry, twice over: an already-committed batch id
    (snapshot marker) is skipped outright, and the per-batch output
    directory (``batch=<id>``) is overwrite-idempotent — a re-run
    against the same corpus version deterministically rewrites the same
    rows.
    """
    if not batch_df.take(1):
        return
    spark_b = batch_df.sparkSession
    version = _latest_snapshot_version(corpus_path, spark_b)
    if version >= 0 and _snapshot_batch_id(corpus_path, version, spark_b) == batch_id:
        return
    current = (
        spark_b.read.parquet(f"{normalize_path(corpus_path)}/v={version}")
        if version >= 0
        else None
    )
    batch_first = batch_df.dropDuplicates(keys)
    fresh = (
        batch_first
        if current is None
        else batch_first.join(F.broadcast(current), on=keys, how="left_anti")
    )
    fresh.write.mode("overwrite").parquet(f"{normalize_path(out_path)}/batch={batch_id}")
    new_keys = (
        fresh.select(*keys)
        if current is None
        else current.unionByName(fresh.select(*keys))
    )
    snapshot = f"{normalize_path(corpus_path)}/v={version + 1}"
    new_keys.write.mode("overwrite").parquet(snapshot)
    _write_snapshot_batch_id(snapshot, batch_id, spark_b)


def dedup_growing_corpus_sink(
    stream: DataFrame,
    target_path: str,
    key_cols: Optional[list] = None,
    seed_corpus_keys: Optional[DataFrame] = None,
    timeout_s: int = 300,
) -> DataFrame:
    """Self-MAINTAINING streaming corpus dedup: each micro-batch drops
    rows whose key the corpus has already seen — across ALL prior
    batches, not just a static snapshot — and the survivors' keys
    become corpus state for the next batch. This is the production
    ingest loop (`dedup_stream_against_corpus` covers the static-corpus
    tier; here the corpus grows with every accepted row).

    Corpus state is a versioned-snapshot parquet key table (same
    snapshot-isolation + batch-id-marker machinery as ``upsert_sink``),
    so a restarted or retried micro-batch never re-admits duplicates
    and never double-lands output. ``seed_corpus_keys`` preloads an
    existing corpus (v=0). Returns the landed (first-occurrence-only)
    rows; read the final key set with ``read_upsert_table`` on
    ``<target>/corpus_keys``. At scale the per-batch cost is one
    broadcast (or bucketed) anti-join of batch×corpus-keys plus an
    append-sized snapshot write — the 100 TB side (full row payloads)
    is only ever written once, on first occurrence.
    """
    keys = key_cols or ["fingerprint"]
    base = normalize_path(target_path)
    corpus_path = f"{base}/corpus_keys"
    out_path = f"{base}/accepted"
    spark = stream.sparkSession
    if seed_corpus_keys is not None and _latest_snapshot_version(corpus_path, spark) < 0:
        snapshot = f"{corpus_path}/v=0"
        seed_corpus_keys.select(*keys).distinct().write.mode("overwrite").parquet(snapshot)
        _write_snapshot_batch_id(snapshot, -1, spark)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        dedup_growing_corpus_batch(batch_df, batch_id, corpus_path, out_path, keys)

    query = (
        stream.writeStream.foreachBatch(handle_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{base}/_checkpoint")
        .start()
    )
    query.awaitTermination(timeout_s)
    from aws_data_wrangler_spark.s3 import does_object_exist

    if not does_object_exist(out_path, spark=spark):
        return stream.sparkSession.createDataFrame([], stream.schema)
    return spark.read.parquet(out_path)


def session_window_rollup(
    df: DataFrame,
    gap: str = "30 minutes",
    time_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Sessionization via Spark's native ``session_window`` — works on
    both batch and streaming inputs; on a stream, pair with a watermark
    and the state store merges/expires sessions incrementally.

    Gap semantics: an event extends the session if it arrives strictly
    within ``gap`` of the previous event (window end = last_ts + gap,
    exclusive), matching the lag/cumsum SQL formulation ``diff > gap``
    starts a new session.
    """
    return (
        df.groupBy(F.col(user_col), F.session_window(F.col(time_col), gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max(time_col).alias("last_ts"))
        .select(
            F.col(user_col),
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            # sw.end = last event + gap; report the LAST EVENT time so the
            # output matches the lag-based definition (and the oracle)
            F.unix_micros(F.col("last_ts")).alias("session_end_us"),
            "n_events",
        )
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ts", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("count", T.LongType()),
    ]
)


def sessionize_stateful(
    stream: DataFrame,
    gap_seconds: float = 1800.0,
    time_col: str = "ts",
    user_col: str = "user_id",
    idle_timeout: bool = True,
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``.

    Per-user state carries the open session; a processing-time timeout
    flushes idle sessions. This is the template for stateful operators
    Spark lacks natively — Arrow-batched, state bounded per key.

    ``idle_timeout=False`` switches to ``NoTimeout``: sessions close
    only when a later event exceeds the gap, and each key's final
    session stays in state. That is the right mode for an
    ``availableNow`` backlog REPLAY — a replay has no wall-clock, and
    with processing-time timeouts registered Spark keeps scheduling
    empty micro-batches to fire them, so the query never terminates
    on its own (observed: endless 0-row batches until the caller's
    await timeout). With ``NoTimeout`` the replay emits exactly the
    gap-closed sessions — a deterministic set a batch twin can pin —
    and terminates when the backlog is drained.
    """

    gap_us = gap_seconds * 1e6

    def fn(
        key: Tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # timestamps handled as integer microseconds end-to-end: float
        # *seconds* leave ns residue that overflows Arrow's us cast;
        # µs fits exactly in the double-typed state (< 2^53)
        (user,) = key
        if state.hasTimedOut:
            start_us, last_us, count = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [pd.Timestamp(int(start_us), unit="us")],
                    "session_end": [pd.Timestamp(int(last_us), unit="us")],
                    "n_events": [count],
                }
            )
            return
        rows = pd.concat(list(batches)).sort_values(time_col)
        ts_us = rows[time_col].astype("int64") // 1000
        if state.exists:
            start_us, last_us, count = state.get
        else:
            start_us, last_us, count = float(ts_us.iloc[0]), float(ts_us.iloc[0]), 0
        sessions = []
        for t in ts_us:
            if t - last_us > gap_us:
                sessions.append((user, start_us, last_us, count))
                start_us, count = float(t), 0
            last_us = float(t)
            count += 1
        state.update((start_us, last_us, count))
        if idle_timeout:
            state.setTimeoutDuration(int(gap_seconds * 1000))
        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [s[0] for s in sessions],
                    "session_start": [pd.Timestamp(int(s[1]), unit="us") for s in sessions],
                    "session_end": [pd.Timestamp(int(s[2]), unit="us") for s in sessions],
                    "n_events": [s[3] for s in sessions],
                }
            )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )


def index_ingest_sink(
    stream: DataFrame,
    centroids: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    max_cells: int = 100_000,
    files_per_cell: int = 1,
    timeout_s: int = 300,
    pq_codebooks=None,
    metadata_cols=(),
) -> None:
    """Streaming IVF index ingest: each micro-batch of arriving vectors
    is assigned to its nearest cell (the zero-shuffle literal-argmin
    projection — stateless, no watermark) and APPENDED to a
    ``build_partitioned_ivf``-layout dataset, clustered by cid before
    the write so every batch adds at most ``files_per_cell`` files per
    touched cell. The index is searchable between batches with
    ``similarity.ivf_partitioned_topk`` — the incremental-embedding
    ingest story: index growth is one projection + one bounded append
    per batch, never a rebuild. With ``pq_codebooks`` (e.g. loaded
    from a ``build_partitioned_ivfpq`` index's ``_codebooks.json``
    sidecar) each batch instead writes the IVF+PQ SERVING layout —
    vector + norm + residual codes — appending directly into the
    compressed index ``ivfpq_partitioned_topk`` serves (assignment
    uses the IVF+PQ L2 convention in that mode; ``metric`` is
    ignored).

    Semantics: the streaming checkpoint makes replays batch-level
    idempotent (a committed batch is never re-fed — tested); a crash
    BETWEEN the append and the checkpoint commit can duplicate one
    batch's rows, which cannot corrupt search results (a duplicated
    neighbor scores identically and ``ivf_partitioned_topk``
    deduplicates (query, neighbor) pairs) — compact by rebuilding via
    ``build_partitioned_ivf`` on whatever cadence file counts demand,
    exactly the OPTIMIZE pattern of table formats. Runs availableNow:
    returns once the current backlog is ingested.

    ``metadata_cols`` MUST match the index's build-time setting: a
    filtered index (``build_partitioned_ivf[pq](metadata_cols=...)``)
    ingested without them would append column-less files whose rows a
    ``where=`` search could never match — pass the same list here so
    streamed rows stay byte-compatible with built rows.
    """
    from aws_data_wrangler_spark import s3
    from aws_data_wrangler_spark.operators.similarity import (
        _cell_key,
        cluster_by_cell,
        collect_centroids,
        ivf_index_rows,
        ivfpq_index_rows,
    )

    if pq_codebooks is None:
        # fail before the stream starts: inside a micro-batch the error
        # would surface only after the checkpoint was written
        _cell_key(metric)
    spark = stream.sparkSession
    cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    path = normalize_path(index_path)

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        if pq_codebooks is not None:
            rows = ivfpq_index_rows(
                batch_df, cent_ids, cent_vecs, pq_codebooks,
                id_col=id_col, vec_col=vec_col, metadata_cols=metadata_cols,
            )
        else:
            rows = ivf_index_rows(
                batch_df, cent_ids, cent_vecs, id_col=id_col, vec_col=vec_col,
                metric=metric, metadata_cols=metadata_cols,
            )
        clustered = cluster_by_cell(rows, id_col, files_per_cell)
        s3.to_parquet(
            clustered,
            path,
            dataset=True,
            partition_cols=["cid"],
            mode="append",
            spark=spark,
        )

    query = (
        stream.writeStream.foreachBatch(ingest_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{path}/_checkpoint")
        .start()
    )
    # a timeout means the backlog is only PARTIALLY ingested and the
    # query still holds the checkpoint — returning silently would let
    # the caller search an incomplete index or race a second sink on
    # the same path; committed batches stay committed, so a rerun
    # resumes where this one stopped
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"index ingest did not drain the backlog within {timeout_s}s "
            f"(committed batches are durable; rerun to resume)"
        )


def drift_monitor(
    stream: DataFrame,
    baseline: DataFrame,
    col: str,
    edges=None,
    eps: float = 1e-6,
    timeout_s: int = 300,
) -> DataFrame:
    """PSI drift of an ARRIVING stream against a static baseline — the
    streaming twin of ``profiling.distribution_drift``, in the position
    a production pipeline actually wants it: watching today's crawl
    drift WHILE it lands instead of after the batch closes. The stream
    side is ONE bucket-keyed stateful count aggregate — state is one
    row per bucket, bounded by construction (categorical cardinality,
    or ``len(edges)+2`` numeric buckets), so no watermark or eviction
    is needed — maintained in complete mode across micro-batches; the
    materialized cumulative counts then flow through the SAME shared
    PSI builder as the batch profiler (``psi_bucket_expr`` /
    ``psi_profile_from_counts`` are literally shared), so an
    availableNow replay of a backlog equals the batch
    ``distribution_drift`` over the same rows term-for-term.
    """
    from aws_data_wrangler_spark.operators.profiling import (
        psi_bucket_expr,
        psi_profile_from_counts,
    )

    bucket = psi_bucket_expr(col, edges)
    counts = (
        stream.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    # own the query lifecycle instead of run_available_now: a monitor
    # that silently profiles a PARTIALLY-drained backlog reports
    # understated drift — the worst failure mode it can have — so a
    # timeout raises (the index_ingest_sink contract)
    cur = _drain_complete_counts(
        counts, "sg_drift", timeout_s,
        "a partial profile would understate drift",
    )
    base = baseline.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_base")
    )
    return psi_profile_from_counts(base, cur, eps=eps)


def _drain_complete_counts(
    counts: DataFrame, prefix: str, timeout_s: int, timeout_detail: str
) -> DataFrame:
    """The monitor-family stateful-materialization lifecycle, in ONE
    place: run the bounded complete-mode count aggregate through an
    availableNow memory sink, then materialize-and-drop the sink
    (``_detach_memory_sink``). A timeout STOPS the query, DROPS the
    partially-filled sink (a timed-out monitor must not leave a pinned
    complete-mode table behind — the leak the family contract exists
    to prevent), and raises with the caller's failure-mode sentence."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    query = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(timeout_s):
        query.stop()
        counts.sparkSession.catalog.dropTempView(name)
        raise TimeoutError(
            f"{prefix} monitor did not drain the backlog within "
            f"{timeout_s}s — {timeout_detail}; rerun with a larger timeout_s"
        )
    return _detach_memory_sink(counts.sparkSession, name)


def _detach_memory_sink(spark, name: str) -> DataFrame:
    """Materialize a complete-mode memory-sink table into a plain
    local-relation DataFrame and DROP the temp view, so repeated
    monitor calls in a long-lived session don't accumulate pinned
    count tables in driver memory. The collect is bounded by the
    monitors' construction (one row per bucket / per key×bucket)."""
    sunk = spark.table(name)
    rows = sunk.collect()
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, sunk.schema)


def anomaly_monitor(
    stream: DataFrame,
    centers: DataFrame,
    time_col: str = "ts",
    key_col: str = "event_type",
    bucket: str = "hour",
    threshold: float = 3.5,
    seasonal: str = None,
    timeout_s: int = 300,
) -> DataFrame:
    """Robust anomaly detection in its PRODUCTION position: score an
    ARRIVING event stream against (median, MAD) centers trained offline
    on a history window (``timeseries.robust_centers``) — the
    offline-train / online-score split every ops monitor deploys, and
    the same pre-trained-artifact pattern as the DSIR ingest gate. The
    stream side is ONE (key, bucket)-keyed stateful count in complete
    mode — state is one row per key × time bucket, CALENDAR-bounded
    (8,760 hourly buckets per key-year — the gap-fill spine magnitude),
    not data-bounded — so a day's backlog replay holds trivial state;
    the materialized counts then run the SAME ``score_anomalies``
    scorer as the batch detector, so an availableNow replay equals
    scoring the backlog as a batch. A timeout raises rather than
    scoring a partially-drained backlog (the ``drift_monitor``
    contract). Output: flagged (key, bucket_ts, n, med, mad, score)
    rows only.
    """
    from aws_data_wrangler_spark.operators.timeseries import (
        _season_expr,
        score_anomalies,
    )

    _season_expr(seasonal)  # reject unknown modes before any stream work
    _validate_centers_season(centers, seasonal)
    counts = (
        stream.select(
            F.col(key_col).alias("key"),
            F.date_trunc(bucket, F.col(time_col)).alias("bucket_ts"),
        )
        .groupBy("key", "bucket_ts")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    materialized = _drain_complete_counts(
        counts, "sg_anomaly", timeout_s,
        "scoring partial bucket counts would mis-flag every open bucket",
    ).withColumn(
        "__season", _season_expr(seasonal)
    )
    return score_anomalies(
        materialized, centers, key_col=key_col, threshold=threshold
    )


def _sketch_sink(
    stream: DataFrame,
    state_path: str,
    sketch_fn,
    empty_schema: str,
    dedup_keys: list,
    timeout_s: int,
    what: str,
) -> DataFrame:
    """Shared scaffolding of the mergeable-state sinks
    (``hll_sketch_sink`` / ``quantile_sketch_sink``): per-micro-batch
    sketch append (foreachBatch, availableNow), the drain timeout that
    raises rather than answering from a partial backlog, the
    empty-backlog fallback (an empty sketch frame instead of an opaque
    PATH_NOT_FOUND), and the at-least-once read-back dedup. ONE place
    owns the lifecycle; the sinks differ only in their per-batch
    sketch function, empty schema, and dedup keys."""
    spark = stream.sparkSession
    path = normalize_path(state_path)

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        sk = sketch_fn(batch_df, batch_id)
        # sketch rows are artifact-sized — a single tiny file per batch
        sk.coalesce(1).write.mode("append").parquet(f"{path}/sketches")

    query = (
        stream.writeStream.foreachBatch(sketch_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{path}/_checkpoint")
        .start()
    )
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"{what} sketching did not drain the backlog within "
            f"{timeout_s}s (committed batches are durable; rerun to resume)"
        )
    from aws_data_wrangler_spark.s3 import does_object_exist

    if not does_object_exist(f"{path}/sketches", spark=spark):
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(f"{path}/sketches").dropDuplicates(dedup_keys)


def hll_sketch_sink(
    stream: DataFrame,
    cols: list,
    state_path: str,
    lg_k: int = 12,
    timeout_s: int = 300,
) -> DataFrame:
    """The HLL distinct-count trio in PRODUCTION position — the NDV
    twin of ``quantile_sketch_sink``: each micro-batch appends its
    one-row DataSketches state (``n_rows`` + a binary ``sk_<col>``
    per column, ~2.5 KB each at the default ``lg_k`` — bytes, never
    data) to a parquet sketch table. "distinct users over the whole
    ingest history" is then ``profiling.hll_union`` /
    ``hll_estimates`` over the state table, no rescan of any landed
    batch.

    Batching-independence: HLL register state is a pointwise MAX, so
    unions are register-lossless — per-batch ``n_rows`` sums exactly
    and the unioned estimate carries the sketch's error bound no
    matter how the backlog was split (representation promotion can
    move the estimate within the bound, never past it — the
    ``profiling_hll_invariants`` contract). foreachBatch is
    at-least-once: a replayed append is healed by the (batch) key
    dedup EXCEPT its n_rows would double-count, so the batch id rides
    in the row and read-back keeps one row per batch id. A timeout
    raises rather than answering NDV questions from a partially
    drained backlog; an all-empty backlog yields an empty sketch
    frame (and ``hll_estimates`` of that is an empty estimate frame).
    """
    from aws_data_wrangler_spark.operators.profiling import hll_column_sketches

    def sketch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return hll_column_sketches(batch_df, cols, lg_k=lg_k).select(
            F.lit(str(batch_id)).alias("batch"), "*"
        )

    empty = "batch string, n_rows bigint, " + ", ".join(
        f"sk_{c} binary" for c in cols
    )
    return _sketch_sink(
        stream, state_path, sketch, empty, ["batch"], timeout_s, "HLL"
    )


def quantile_sketch_sink(
    stream: DataFrame,
    cols: list,
    state_path: str,
    bins: int = 128,
    timeout_s: int = 300,
) -> DataFrame:
    """Mergeable quantile state in PRODUCTION position — the streaming
    half of the `profiling.quantile_sketches` trio: each micro-batch
    computes its EXACT ``bins``-point rank grid (batch label =
    micro-batch id) and APPENDS the sketch rows — grid-sized arrays,
    not data — to a parquet sketch table. "p99 over the whole ingest
    history" is then `quantile_union`/`quantile_estimates` over the
    state table, never a rescan of any landed batch (the HLL-trio
    contract, for percentiles).

    Exactness across batching: per-batch ``n`` sums to the true total
    regardless of micro-batch boundaries, and every estimate keeps the
    ±2/bins RANK guarantee no matter how the backlog was split —
    batching moves WHICH grids pool, never the bound. foreachBatch is
    at-least-once: a crash between append and checkpoint commit can
    duplicate one batch's sketch rows, so the read-back dedups on
    (batch, column) — duplicate appends are byte-identical because the
    per-batch sketch is deterministic, making the dedup lossless. A
    timeout raises rather than answering percentile questions from a
    partially-drained backlog (committed batches stay durable; rerun
    to resume); an all-empty backlog yields an empty sketch frame.
    """
    from aws_data_wrangler_spark.operators.profiling import quantile_sketches

    def sketch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return quantile_sketches(batch_df, cols, bins=bins).select(
            F.lit(str(batch_id)).alias("batch"), "column", "n", "grid"
        )

    return _sketch_sink(
        stream,
        state_path,
        sketch,
        "batch string, column string, n bigint, grid array<double>",
        ["batch", "column"],
        timeout_s,
        "quantile",
    )


def cms_sketch_sink(
    stream: DataFrame,
    col: str,
    state_path: str,
    depth: int = 4,
    width: int = 1024,
    timeout_s: int = 300,
) -> DataFrame:
    """Mergeable FREQUENCY state in PRODUCTION position — the
    Count-Min third of the sketch-sink family beside
    ``hll_sketch_sink`` (NDV) and ``quantile_sketch_sink``
    (percentiles): each micro-batch appends its sparse ``depth ×
    width`` counter rows (≤ ``depth·width`` integers, never data) to a
    parquet sketch table. "How many times has key X occurred over the
    whole ingest history" is then ``profiling.cms_union`` /
    ``cms_estimates`` over the state table alone — no rescan of any
    landed batch, and the counter table stays broadcastable so the
    probe side can be a full corpus.

    Batching-exactness: counters SUM cell-wise (integer addition
    commutes), so the unioned table is BIT-IDENTICAL to the single-
    pass batch sketch over the same rows no matter how the backlog was
    micro-batched — stronger than the HLL bound, the
    ``quantile_sketch_sink`` determinism class. foreachBatch is
    at-least-once: a replayed append is byte-identical (the per-batch
    sketch is md5-deterministic), so the (batch, row_i, bucket)
    read-back dedup is lossless. A timeout raises rather than
    answering frequency questions from a partially-drained backlog; an
    all-empty backlog yields an empty state frame (and
    ``cms_estimates`` of that is 0 for every probe — "nothing ingested
    yet").
    """
    from aws_data_wrangler_spark.operators.profiling import cms_sketches

    def sketch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return cms_sketches(batch_df, col, depth=depth, width=width).select(
            F.lit(str(batch_id)).alias("batch"),
            "row_i",
            "bucket",
            "cnt",
            "depth",
            "width",
        )

    return _sketch_sink(
        stream,
        state_path,
        sketch,
        "batch string, row_i int, bucket bigint, cnt bigint, depth int, width int",
        ["batch", "row_i", "bucket"],
        timeout_s,
        "Count-Min",
    )


def kmv_sketch_sink(
    stream: DataFrame,
    cols: list,
    state_path: str,
    k: int = 1024,
    timeout_s: int = 300,
) -> DataFrame:
    """Mergeable SET state in PRODUCTION position — the KMV fourth of
    the sketch-sink family beside the NDV (HLL), percentile (quantile)
    and frequency (Count-Min) sinks: each micro-batch appends its
    k-minimum-values rows (``k`` bigints per column, never data) to a
    parquet sketch table. Distinct counts AND set-operation questions
    — "how many of this quarter's users were already active last
    quarter" — are then ``profiling.kmv_union`` / ``kmv_estimates`` /
    ``kmv_set_estimates`` over state tables alone, no rescan.

    Batching-exactness (the Count-Min determinism class): the k
    smallest overall hashes each survive their own batch's k-min, so
    the unioned state is BIT-IDENTICAL to the single-pass batch sketch
    however the backlog was micro-batched, and every estimate is
    md5-deterministic arithmetic a second engine replicates exactly.
    foreachBatch is at-least-once: a replayed append is byte-identical
    (the per-batch sketch is a deterministic set minimum — the prune
    threshold never changes the output), so the (batch, column)
    read-back dedup is lossless. A timeout raises rather than
    answering set questions from a partially-drained backlog; an
    all-empty backlog yields an empty state frame (``kmv_estimates``
    of that is an empty estimate frame)."""
    from aws_data_wrangler_spark.operators.profiling import kmv_sketches

    def sketch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return kmv_sketches(batch_df, cols, k=k).select(
            F.lit(str(batch_id)).alias("batch"), "column", "n_rows", "k", "mins"
        )

    return _sketch_sink(
        stream,
        state_path,
        sketch,
        "batch string, column string, n_rows bigint, k int, mins array<bigint>",
        ["batch", "column"],
        timeout_s,
        "KMV",
    )


def ewma_monitor(
    stream: DataFrame,
    alpha: float = 0.25,
    time_col: str = "ts",
    key_col: str = "event_type",
    bucket: str = "hour",
    timeout_s: int = 300,
) -> DataFrame:
    """EWMA traffic smoothing in PRODUCTION position: the arriving
    stream's per-(key, bucket) counts — ONE calendar-bounded stateful
    aggregate in complete mode, the ``anomaly_monitor`` state shape —
    are materialized (memory-sink detached, the monitor-family
    contract) and folded chronologically by the SAME
    ``timeseries.ewma_from_counts`` the batch smoother uses, so an
    availableNow replay of a backlog equals the batch ``ewma`` over the
    same rows term-for-term. Output one row per key: the current
    smoothed level the next bucket is compared against. A timeout
    raises rather than smoothing a partially-drained backlog."""
    from aws_data_wrangler_spark.operators.timeseries import ewma_from_counts

    counts = (
        stream.select(
            F.col(key_col).alias("key"),
            F.date_trunc(bucket, F.col(time_col)).alias("bucket_ts"),
        )
        .groupBy("key", "bucket_ts")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    materialized = _drain_complete_counts(
        counts, "sg_ewma", timeout_s,
        "a partial fold would understate the level",
    )
    return ewma_from_counts(materialized, alpha, key_col)


def holt_winters_monitor(
    stream: DataFrame,
    period: int = 24,
    alpha: float = 0.25,
    beta: float = 0.25,
    gamma: float = 0.25,
    time_col: str = "ts",
    key_col: str = "event_type",
    bucket: str = "hour",
    step=None,
    timeout_s: int = 300,
) -> DataFrame:
    """Holt-Winters seasonal smoothing in PRODUCTION position — the
    seasonality rung of the monitor family (``ewma_monitor`` tracks
    level, this one level + trend + a ``period``-slot profile, so the
    daily rush hour stops reading as a fresh ramp): the arriving
    stream's per-(key, bucket) counts — the same ONE calendar-bounded
    complete-mode stateful aggregate as ``ewma_monitor`` — are
    materialized, ZERO-FILLED over each key's spine by the SAME
    ``timeseries.dense_counts`` the batch wrapper uses (the seasonal
    slot is fold position mod ``period``; a gap would desync every
    later slot), and folded by the SAME
    ``timeseries.holt_winters_from_counts`` — so an availableNow
    replay of a backlog equals the batch ``holt_winters`` over the
    same rows term-for-term. Output one row per key: current level,
    trend, the seasonally adjusted ``forecast_next`` the next bucket
    is compared against, and the learned ``season_range``. A timeout
    raises rather than folding a partially-drained backlog."""
    from aws_data_wrangler_spark.operators.timeseries import (
        _step_for_bucket,
        dense_counts,
        holt_winters_from_counts,
    )

    counts = (
        stream.select(
            F.col(key_col).alias("key"),
            F.date_trunc(bucket, F.col(time_col)).alias("bucket_ts"),
        )
        .groupBy("key", "bucket_ts")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    materialized = _drain_complete_counts(
        counts, "sg_hw", timeout_s,
        "a partial fold would desync every seasonal slot",
    )
    return holt_winters_from_counts(
        dense_counts(materialized, _step_for_bucket(bucket, step)),
        period, alpha, beta, gamma, key_col,
    )


def _validate_centers_season(centers: DataFrame, seasonal) -> None:
    """Fail fast when the monitor's ``seasonal`` doesn't match the
    setting the centers were TRAINED with: the (key, __season) inner
    join in ``score_anomalies`` would silently drop every bucket and
    the monitor would report "no anomalies" forever. The centers table
    is artifact-sized (key-cardinality × ≤24 phases), so the domain
    probe is one cheap collect."""
    if "__season" not in centers.columns:
        raise ValueError(
            "anomaly_monitor: centers must carry a __season column — "
            "train them with timeseries.robust_centers"
        )
    if "__season_mode" in centers.columns:
        # robust_centers stamps its training mode — the authoritative
        # check: the __season DOMAIN alone can't distinguish e.g.
        # day_of_week centers ({1..7}) from narrow hour_of_day data
        modes = {r[0] for r in centers.select("__season_mode").distinct().collect()}
        want = seasonal or "none"
        if modes != {want}:
            raise ValueError(
                f"anomaly_monitor: seasonal={seasonal!r} but the centers "
                f"were trained with seasonal mode(s) {sorted(modes)} — "
                f"retrain with robust_centers(seasonal={seasonal!r}) or "
                f"pass the matching seasonal="
            )
        return
    # user-built centers without a stamp: fall back to domain heuristics
    domain = {r[0] for r in centers.select("__season").distinct().collect()}
    if seasonal is None and domain != {0}:
        raise ValueError(
            f"anomaly_monitor: seasonal=None but the centers carry seasonal "
            f"phases (__season domain {sorted(domain)}) — pass the SAME "
            f"seasonal= used at robust_centers, or the (key, __season) join "
            f"drops every bucket"
        )
    if seasonal is not None and domain == {0}:
        raise ValueError(
            f"anomaly_monitor: seasonal={seasonal!r} but the centers look "
            f"trained with seasonal=None (__season domain is exactly {{0}}) "
            f"— retrain with robust_centers(seasonal={seasonal!r})"
        )
    expected = {"hour_of_day": set(range(24)), "day_of_week": set(range(1, 8))}
    if seasonal is not None and (stray := domain - expected[seasonal]):
        raise ValueError(
            f"anomaly_monitor: centers' __season domain contains "
            f"{sorted(stray)}, outside seasonal={seasonal!r}'s range — the "
            f"centers were trained with a different seasonal mode"
        )
