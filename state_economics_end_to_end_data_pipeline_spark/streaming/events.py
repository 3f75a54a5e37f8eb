"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY.md section 2.10); this is a
north-star extension. Design mirrors the batch catalog:

- file source (``readStream`` + glob) stands in for Kafka locally; every
  transformation below is source-agnostic, so swapping in
  ``spark.readStream.format("kafka")`` changes nothing downstream.
- event-time semantics: watermarks bound state for tumbling/session
  windows; at 100 TB/day the state store holds only
  O(open windows x keys), never the stream.
- ``trigger(availableNow=True)`` + memory sink turns each streaming query
  into a finite, oracle-checkable batch -- the same plan runs unbounded in
  production.
- one custom stateful operator (``stateful_user_totals``) shows the
  ``applyInPandasWithState`` pattern: Arrow-batched per-key state, the
  scale path for logic session_window/window cannot express.
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


_SCHEMA_CACHE: dict[tuple, object] = {}

_CKPT_BASE: str | None = None


def stream_checkpoint_dir(prefix: str = "q") -> str:
    """Allocate a fresh checkpoint directory under ONE session-scoped base,
    preferring tmpfs (``/dev/shm``) over disk.

    Checkpoint commit involves many small fsync'd files (offsets, commits,
    state snapshots); on tmpfs that I/O is memory-speed, measured ~0.25s
    faster per availableNow replay at sf0.1 (1.13s -> 0.85s warm). A
    finite replay never needs its checkpoint to survive a crash -- the
    whole point of the checkpoint, failure recovery, doesn't apply to a
    harness that re-runs from scratch -- so tmpfs loses nothing. A
    PRODUCTION unbounded query must keep its checkpoint on durable shared
    storage; callers doing real incremental work (e.g. foreachBatch merge
    into a long-lived table) should pass their own durable dir instead.
    The base is removed at interpreter exit."""
    global _CKPT_BASE
    import atexit
    import os
    import shutil
    import tempfile

    if _CKPT_BASE is None or not os.path.isdir(_CKPT_BASE):
        base_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
        try:
            _CKPT_BASE = tempfile.mkdtemp(prefix="stream_ckpt_", dir=base_root)
        except OSError:  # tmpfs unavailable/full: fall back to disk tmp
            _CKPT_BASE = tempfile.mkdtemp(prefix="stream_ckpt_")
        atexit.register(shutil.rmtree, _CKPT_BASE, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{prefix}_", dir=_CKPT_BASE)


def _source_stamp(path: str) -> tuple:
    """Freshness stamp for a parquet file-or-directory: (max mtime_ns,
    total bytes, file count) across the tree. Keying the schema cache by
    (path, stamp) means a source REWRITTEN IN PLACE (long-lived process,
    regenerated fixtures at a fixed dir) gets a fresh footer probe
    instead of a silently stale schema; unchanged sources still skip the
    probe on every replay."""
    import os

    if os.path.isfile(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size, 1)
    newest, total, count = 0, 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            newest = max(newest, st.st_mtime_ns)
            total += st.st_size
            count += 1
    return (newest, total, count)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over ``{sf_dir}/events.parquet``.

    Handles BOTH physical layouts: a single parquet file (the driver
    fixtures) streams from ``sf_dir`` with a glob filter selecting it,
    and a Spark-written DIRECTORY of part files (how any engine output
    is laid out) streams from the directory itself. The distinction
    matters: a glob filter matches FILE names, so pointing the
    single-file recipe at a directory silently yields an EMPTY stream
    (zero files match "events.parquet") -- caught when the 10x scale
    probe replayed against Spark-written replicas and the streaming
    entries timed suspiciously fast on zero rows.

    ``ts`` is stored as INT64 TIMESTAMP(NANOS) (no Spark type): scanned
    as long and converted to microsecond timestamps, matching
    io.readers.read_parquet_table. The schema probe (a batch footer
    read) is cached per path -- repeated replays of the same source
    skip it.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ-flavored parquet timestamps must scan as TIMESTAMP: watermarks
    # reject TIMESTAMP_NTZ event time (see io.readers.read_parquet_table)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/events.parquet"
    cache_key = (path, _source_stamp(path))
    if cache_key not in _SCHEMA_CACHE:
        # drop stale stamps for this path (rewritten in place); other
        # paths' entries stay warm
        for k in [k for k in _SCHEMA_CACHE if k[0] == path]:
            del _SCHEMA_CACHE[k]
        _SCHEMA_CACHE[cache_key] = spark.read.parquet(path).schema
    schema = _SCHEMA_CACHE[cache_key]
    reader = spark.readStream.schema(schema)
    if not os.path.isdir(path):
        reader = reader.option("pathGlobFilter", "events.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(path if os.path.isdir(path) else sf_dir)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time window x event_type: count + decimal-exact sum.
    The streaming twin of the batch ``events_hourly`` query."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# Windows ohlc_bars supports: tumbling windows that align with a
# date_trunc unit AND whose micros-within-window * 2^31 + event_id key
# stays inside int64 (window <= ~71 min; '1 day' would need 1.9e20).
_OHLC_WINDOW_TRUNC = {
    "1 hour": "hour",
    "1 minute": "minute",
    "1 second": "second",
}


def ohlc_bars(
    stream: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming OHLC bars per (event-time window, event_type): open /
    close via min_by/max_by on the same deterministic BIGINT order key
    as the batch twin (``events_ohlc_hourly``, plans/event_analytics.py)
    -- micros-within-the-WINDOW * 2^31 + event_id, which both totally
    orders ties and keeps the aggregation buffer a mutable fixed-width
    type (string/struct keys demote to SortAggregate in batch and bloat
    the state row here). State is O(open windows x types); the watermark
    closes bars one window late.

    The truncation unit of the order key is DERIVED from ``window`` (an
    unsupported window raises rather than silently ordering opens/closes
    only within the wrong sub-bucket), and like the batch twin the key
    requires event_id < 2^31 -- pinned for the fixtures by
    tests/test_diagnostics_entries.py::test_event_id_fits_ohlc_key."""
    if window not in _OHLC_WINDOW_TRUNC:
        raise ValueError(
            f"ohlc_bars supports windows {sorted(_OHLC_WINDOW_TRUNC)}; got "
            f"{window!r}. Larger windows overflow the int64 order key "
            "(micros-in-window * 2^31 + event_id) -- add an aligned unit "
            "to _OHLC_WINDOW_TRUNC only if it keeps the key in range."
        )
    keyed = stream.withColumn(
        "__k",
        (
            F.unix_micros("ts")
            - F.unix_micros(F.date_trunc(_OHLC_WINDOW_TRUNC[window], "ts"))
        )
        * F.lit(2147483648).cast("long")
        + F.col("event_id"),
    )
    return (
        keyed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.min_by("value", "__k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "__k").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def session_windows(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows (gap-based). ``session_window`` merges
    events closer than ``gap``; state closes once the watermark passes a
    session's end, so state size is O(open sessions)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def sliding_counts(
    stream: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding event-time windows: each event lands in window/slide
    overlapping windows (2 here). State cost scales with that overlap
    factor times the tumbling equivalent -- the reason production
    pipelines prefer tumbling + downstream re-aggregation when the
    consumer tolerates it."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def stream_dedup(stream: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drops repeats of ``keys`` arriving within the
    watermark horizon -- state is bounded by the watermark, unlike a plain
    ``dropDuplicates`` on a stream which retains keys forever."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_USER_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_USER_TOTALS_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def _user_totals_fn(key, pdf_iter, state: GroupState):
    """Cumulative per-user event count/value with explicit GroupState.
    Arrow-batched: each call sees this key's rows for the micro-batch."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user totals emitted every micro-batch. The pattern to copy for
    logic built-in stateful ops can't express (custom sessionization,
    fraud counters, CDC merge)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _UserPeakProcessor:
    """StatefulProcessor for transformWithStateInPandas: cumulative
    per-user event count + integer-cent peak in a ValueState. Defined
    lazily (the base class import requires a live pyspark >= 4.0)."""

    def __new__(cls, *a, **kw):  # pragma: no cover - thin dispatch
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class _Impl(StatefulProcessor):
            def init(self, handle) -> None:
                self._state = handle.getValueState(
                    "agg", "n BIGINT, peak BIGINT"
                )

            def handleInputRows(self, key, rows, timer_values):
                if self._state.exists():
                    n, peak = self._state.get()
                    n, peak = int(n), int(peak)
                else:
                    n, peak = 0, None
                for pdf in rows:
                    n += len(pdf)
                    m = int(pdf["cents"].max())
                    peak = m if peak is None else max(peak, m)
                self._state.update((n, peak))
                yield pd.DataFrame(
                    {
                        "user_id": [int(key[0])],
                        "n_events": [n],
                        "peak_cents": [peak],
                    }
                )

            def close(self) -> None:
                pass

        return _Impl()


def tws_user_peaks(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``transformWithStateInPandas`` (the
    Spark 4 arbitrary-state API: typed state handles, timers, TTL --
    the successor to applyInPandasWithState). Cumulative per-user count +
    peak value in integer cents, emitted each micro-batch. Requires the
    RocksDB state-store provider (set by the caller for the query)."""
    cents = stream.withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    return cents.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserPeakProcessor(),
        outputStructType="user_id bigint, n_events bigint, peak_cents bigint",
        outputMode="Update",
        timeMode="None",
    )


def run_available_now(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    shuffle_partitions: int | None = 2,
) -> DataFrame:
    """Execute a streaming DataFrame to completion on the data available
    now (memory sink) and return the result table. Finite, deterministic
    replay of the unbounded plan -- this is what the oracle checks.

    ``shuffle_partitions`` sizes the state-store count for the replay:
    each stateful operator maintains one store PER shuffle partition
    (a stream-stream join keeps FOUR per partition), so a small bounded
    replay wants few stores -- measured at sf0.1: the interval join drops
    ~0.6s going 8->4 stores/partition-group, and r14 re-measured the
    4-entry stateful mix at ~0.1-0.2s/entry cheaper again at 2 (kept >1
    so multi-partition state semantics stay exercised); an unbounded
    production run wants many (callers pass their own). The checkpoint goes to a
    session-shared tmpfs base (``stream_checkpoint_dir``), cutting the
    availableNow harness floor from ~1.2s to ~0.85s measured for a
    stateless memory-sink replay (query start, source listing, sink
    collect) -- shared per-query overhead, not a plan defect. The session
    conf is restored after the query starts (it is captured at start).

    The returned frame holds the sink's rows; the sink's temp view is
    dropped before returning (also on failure), so the rows live as long
    as the frame, not the session."""
    spark = result.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", stream_checkpoint_dir(name))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if shuffle_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.awaitTermination(timeout_s)
        if q.exception() is not None:
            raise q.exception()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def interval_join_clicks_to_purchases(
    purchases: DataFrame, clicks: DataFrame, lookback: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding ``lookback`` window. Both sides carry
    watermarks so the join state store retains only the lookback horizon
    per user -- bounded state, the canonical streaming attribution shape."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "1 hour")
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "1 hour")
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("c_ts") < F.col("p_ts")),
        "inner",
    )


def merge_stream_into_parquet(
    counts_per_key: DataFrame,
    target_dir: str,
    keys: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
    timeout_s: int = 300,
):
    """foreachBatch incremental merge: maintain a cumulative per-key table
    in parquet from a stream, exactly-once.

    Each micro-batch's per-key partials are merged into the target (full
    outer join on ``keys``, sums added), written to a NEW versioned
    directory, and committed by atomically rewriting a pointer file that
    names the current version and the last applied batch_id. Replayed
    batches (failure/restart hands foreachBatch the same batch_id again)
    are skipped by the batch_id guard -- that is the idempotence that
    upgrades the sink's at-least-once delivery to exactly-once table
    state. On a table format (Delta/Iceberg) the version+pointer dance is
    a MERGE INTO; the join shape and the guard are identical.

    Returns the finished StreamingQuery (already terminated)."""
    import json
    import os

    from pyspark.sql import functions as F

    pointer = os.path.join(target_dir, "_CURRENT")

    def _read_pointer() -> dict:
        if not os.path.exists(pointer):
            return {"version": None, "last_batch_id": -1}
        with open(pointer) as f:
            return json.load(f)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = _read_pointer()
        if batch_id <= state["last_batch_id"]:
            return  # replayed batch: already applied, exactly-once guard
        partial = batch_df.groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in sum_cols]
        )
        if state["version"] is not None:
            current = spark.read.parquet(os.path.join(target_dir, state["version"]))
            t, p = current.alias("t"), partial.alias("p")
            cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"p.{k}")) for k in keys]
            merged = t.join(p, cond, "full_outer").select(
                *[F.coalesce(f"t.{k}", f"p.{k}").alias(k) for k in keys],
                *[
                    (
                        F.coalesce(F.col(f"t.{c}"), F.lit(0))
                        + F.coalesce(F.col(f"p.{c}"), F.lit(0))
                    ).alias(c)
                    for c in sum_cols
                ],
            )
        else:
            merged = partial
        version = f"v{batch_id:012d}"
        merged.write.mode("overwrite").parquet(os.path.join(target_dir, version))
        tmp = pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "last_batch_id": batch_id}, f)
        os.replace(tmp, pointer)  # atomic commit

    q = (
        counts_per_key.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.exception() is not None:
        raise q.exception()
    return q


def read_merged_parquet(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read the current committed version of a merge_stream_into_parquet
    target (snapshot isolation: readers never see a half-written version)."""
    import json
    import os

    with open(os.path.join(target_dir, "_CURRENT")) as f:
        state = json.load(f)
    return spark.read.parquet(os.path.join(target_dir, state["version"]))
