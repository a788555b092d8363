"""Event-time window queries in batch mode (SURVEY.md §2.S).

``window()`` / ``session_window()`` work identically in batch and Structured
Streaming, so each query here is oracle-checkable on the static ``events``
table while the live streaming parity (same operators under readStream +
watermark) is exercised in fits2db_spark/streaming/ and its tests.

Scale: windowed aggregation shuffles once on (window, key); session windows
shuffle on the session key then merge per-key sorted runs — in streaming the
same plan is incremental with state-store-backed session merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import memo
from ..tables import load, stage


@register(
    "stream_tumbling",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts/sums in 1-hour tumbling windows."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "stream_sliding",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
      FROM events
    ), w AS (
      SELECT event_type, value,
             (sec // 900) * 900 - k.k * 900 AS start_sec
      FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
      WHERE sec < (sec // 900) * 900 - k.k * 900 + 3600
    )
    SELECT make_timestamp(start_sec * 1000000) AS window_start,
           make_timestamp((start_sec + 3600) * 1000000) AS window_end,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM w GROUP BY 1, 2, 3
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4
    windows). The oracle expands the window set relationally (offset cross
    join), the standard batch equivalent."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "stream_session",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute gap. Spark's session_window
    end = last event + gap; the oracle reproduces that with the classic
    lag + gap-flag + running-sum session assignment. Boundary semantics,
    verified empirically on this Spark build (events 30:00 apart -> ONE
    session; 30:00.000001 apart -> two): session_window MERGES an event
    landing exactly at the previous event's session_end, i.e. windows
    behave closed at the merge boundary, so the oracle splits on strictly
    ``gap > 30min``. (An r5 advice note claimed the opposite from the
    half-open [ts, ts+gap) interval shape; the measurement above settles
    it — keep `>` here and in stream_live_session.)"""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_windowed_topk",
    oracle="""
    WITH w AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_idx,
             event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value), 4) AS total
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY day_idx
                                   ORDER BY n DESC, event_type) AS rk
      FROM w
    )
    SELECT day_idx, event_type, n, total, rk FROM r WHERE rk <= 2
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per daily tumbling window — the 'trending items
    per window' streaming shape, expressed in batch mode so the oracle can
    hash it. Live form: the same `window()` aggregation with a watermark,
    ranked per closed window in foreachBatch (rank-over-stream isn't
    incremental, so production ranks at window close). The plan shares the
    window-agg shuffle with a WindowGroupLimit rank — top-k rows only ever
    shuffle k per window. Day buckets are epoch arithmetic (tz-free): a
    `window('1 day')` bucket shifts with the session timezone, which a
    cross-engine hash comparison cannot tolerate."""
    e = load(spark, sf_dir, "events")
    w = (
        e.groupBy(
            F.floor(F.unix_timestamp("ts") / F.lit(86400)).alias("day_idx"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("day_idx").orderBy(F.col("n").desc(), "event_type")
    )
    return w.withColumn("rk", rk).filter(F.col("rk") <= 2)


# ---------------------------------------------------------------------------
# Driver-visible LIVE streaming: a real Structured Streaming run inside a
# queries() entry. Everything else in streaming/live.py is pytest-only by
# the batch-oracle contract; this entry closes that gap for the tumbling
# aggregation by draining an availableNow stream to a memory sink and
# returning the sink table — deterministic (availableNow processes every
# staged file then stops; complete mode emits all windows, so no
# watermark-withholding of trailing windows) and therefore oracle-checkable
# against the SAME SQL as the batch stream_tumbling.
# ---------------------------------------------------------------------------

def _drain_live(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    stream_df: DataFrame,
    output_mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a live stream to a memory sink (availableNow) and return the
    sink table. Raises if the drain does not terminate — a partial sink
    table must never be returned (or memoized). The ONE drain contract for
    every stream_live_* query.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query's FIRST batch only (streaming state sharding is fixed at query
    start from that conf; each drain uses a fresh temp checkpoint, so the
    pin never conflicts with prior state). Every state-store shard pays a
    per-commit maintenance round trip per micro-batch — at fixture scale
    fewer shards is strictly faster, and on a real cluster the knob is
    sized to state volume, exactly as the module docstring prescribes."""
    from ..streaming.live import run_stream_to_memory

    name = f"{prefix}_{abs(hash(sf_dir)) % 10**8}"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = run_stream_to_memory(stream_df, name, output_mode=output_mode)
        terminated = q.awaitTermination(300)
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", before)
    if not terminated:
        q.stop()
        raise RuntimeError(
            f"{prefix}: availableNow drain did not terminate in 300s — a "
            "partial sink table must never be returned (or memoized)"
        )
    return spark.table(name)


# ~rows of staged source per state-store shard. Each shard pays a fixed
# per-commit maintenance round trip per micro-batch (~0.1-0.2s here), so
# shards only win once the per-shard data path outweighs that: the r12
# floor probe measured 1 shard fastest at sf0.1 (100k rows: 1.85-1.9s vs
# 2.0-2.4s at 4), and the r15 sf1 sweep measured 4 shards fastest at 1M
# rows (interval join 4.3/4.5s vs 7.4/6.1s at 1 shard; dedup 1.4/1.6 vs
# 2.8/1.7). 250k rows/shard reproduces both measured optima and keeps
# growing the shard count linearly with staged volume, capped at machine
# width — the VERDICT r14 item 3 fix for the fixture-scale constant.
_STATE_ROWS_PER_SHARD = 250_000


def _state_shards(spark: SparkSession, sf_dir: str) -> int:
    """Streaming state-store shard count sized to the staged source volume
    (events parquet footer row count — pure metadata, no Spark job; the
    same number table stats provide at 100 TB), the `_XM_LADDER_MIN_ROWS`
    derive-plan-shape-from-data-volume rule applied to streaming state."""
    try:
        import pyarrow.parquet as pq

        rows = int(
            pq.ParquetFile(f"{sf_dir}/events.parquet").metadata.num_rows
        )
    except Exception:  # unknown volume => machine width (the scale-safe end)
        return spark.sparkContext.defaultParallelism
    return max(
        1,
        min(spark.sparkContext.defaultParallelism, rows // _STATE_ROWS_PER_SHARD),
    )


def _staged_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as 3 time-ordered parquet files (one per
    future micro-batch), shared by every live-streaming query."""
    import os

    def write(out_dir: str) -> None:
        import glob as _glob
        import shutil
        import tempfile

        # 3 contiguous time slices -> deterministic no-late-data micro-batch
        # replay. ONE range-partitioned shuffle write (r10; replaces a global
        # row_number sort + 3 filtered passes, ~2.8s -> ~0.7s at sf0.1):
        # range partitions are time-contiguous and part-file names carry the
        # partition index, so name-ordered listing == time order. Window
        # fixpoints are invariant to the exact split points, so the sampled
        # range bounds don't affect any oracle.
        ev = load(spark, sf_dir, "events")
        tmp = tempfile.mkdtemp(prefix="evt_stage_")
        ev.repartitionByRange(3, "ts", "event_id").write.mode("overwrite").parquet(
            os.path.join(tmp, "slices")
        )
        os.makedirs(out_dir, exist_ok=True)
        parts = sorted(_glob.glob(os.path.join(tmp, "slices", "part-*.parquet")))
        for i, part in enumerate(parts):
            shutil.copy(part, os.path.join(out_dir, f"{i:03d}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    return stage(spark, sf_dir, "events_stream_stage", write)


@register(
    "stream_live_tumbling",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_live_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 1h tumbling counts computed by LIVE Structured Streaming:
    the events table is staged as 3 time-ordered parquet files, read back
    with ``readStream`` (maxFilesPerTrigger=1 -> 3 micro-batches), windowed
    exactly like the batch ``stream_tumbling``, and drained to a memory
    sink under ``trigger(availableNow=True)``; repeat calls return the
    memoized sink table.

    Scale: the identical plan runs unbounded on a real file/Kafka source —
    state lives in the state store keyed by (window, event_type); here the
    memory sink and complete mode are the bounded-fixture drain strategy
    (a production job uses append mode + watermark eviction)."""
    from ..streaming.live import events_stream, tumbling_counts

    return memo(spark, sf_dir, "live_tumbling", lambda: _drain_live(
        spark,
        sf_dir,
        "live_tumbling",
        tumbling_counts(
            events_stream(
                spark, _staged_events_dir(spark, sf_dir), max_files_per_trigger=1
            ),
            watermark="100 days",
        ),
        "complete",
    ))


@register(
    "stream_live_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_live_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup, driver-visible: first occurrence of each
    (user_id, event_type) pair across micro-batches via
    ``withWatermark + dropDuplicates`` on a LIVE ``readStream`` over the
    same 3-file staging as ``stream_live_tumbling`` (the staging pass is
    shared), drained to a memory sink in append mode. Projecting only the
    key columns makes the result the exact distinct key set regardless of
    which physical row the state store retained first — which is what
    keeps a stateful streaming query oracle-checkable.

    Scale: dedup state is one entry per distinct key within the watermark
    horizon, evicted as event-time advances; the identical plan is the
    standard exactly-once idempotent-ingest guard in front of a streaming
    sink (streaming/live.py:dedup_stream is the event_id variant, tested
    for batch/stream parity in tests/test_streaming_live.py).

    Drain cost (r14, the r10 interval-join/counters argument applied
    here): the registry entry drains ONE availableNow micro-batch — the
    projected distinct key set is batch-split-invariant (the docstring's
    own oracle-checkability argument), and each extra micro-batch paid a
    full state-store commit round per shard. Shards are sized from the
    staged source volume by ``_state_shards`` (r15: the r14 constant 1
    was the sf0.1 optimum; at the 1M-row sf1 tier 4 shards measured
    1.4-1.6s vs 2.8/1.7s at 1). The per-file 3-batch replay (cross-batch
    dedup state) stays pinned in
    tests/test_streaming_live.py::test_stream_dedup_drops_duplicates."""
    from ..streaming.live import events_stream

    def drain() -> DataFrame:
        stream = (
            events_stream(spark, _staged_events_dir(spark, sf_dir), max_files_per_trigger=None)
            .withWatermark("ts", "100 days")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
        return _drain_live(
            spark, sf_dir, "live_dedup", stream, "append",
            state_partitions=_state_shards(spark, sf_dir),
        )

    return memo(spark, sf_dir, "live_dedup", drain)


@register(
    "stream_live_interval_join",
    oracle="""
    SELECT c.user_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(b.ts AS TIMESTAMP) AS buy_ts,
           ROUND(b.value, 2) AS buy_value
    FROM events c JOIN events b
      ON c.user_id = b.user_id
     AND c.event_type = 'click' AND b.event_type = 'purchase'
     AND CAST(b.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
     AND CAST(b.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
    """,
)
def stream_live_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join, driver-visible: purchases matched to
    the same user's clicks in the preceding hour, both sides watermarked
    so the join state store evicts rows that can no longer match — the
    condition for running a stream-stream join forever
    (streaming/live.py:click_purchase_interval_join, already
    parity-tested; here it runs as a LIVE query over the shared 3-file
    staging and drains to a memory sink). The result equals the batch
    interval join because the staging is time-ordered (no late data) and
    inner joins emit matches eagerly — which is what makes this the one
    stream-stream shape an exact SQL oracle can check.

    Scale: per-key state is bounded by the 1h join window + 2h watermark
    delay; the equi-key (user) shards the state store, the time bound in
    the join predicate is what licenses eviction.

    Drain cost (r10): the registry entry drains ONE availableNow
    micro-batch (no maxFilesPerTrigger) — inner stream-stream joins emit
    the same matches regardless of batch splitting, and each extra
    micro-batch pays a full state-store round-trip (~2s each at sf0.1).
    The per-file 3-batch replay, which exercises cross-batch join state,
    stays pinned in tests/test_streaming_live.py."""
    from ..streaming.live import click_purchase_interval_join, events_stream

    def drain() -> DataFrame:
        joined = click_purchase_interval_join(
            events_stream(spark, _staged_events_dir(spark, sf_dir), max_files_per_trigger=None)
        ).select(
            F.col("c_user").alias("user_id"),
            "click_ts",
            "buy_ts",
            F.round("buy_value", 2).alias("buy_value"),
        )
        # 2 state stores (one per join side) x shards x per-batch commit cost.
        # r12 floor probe (BASELINE.md): warm single-batch drain is 2.0-2.4s at
        # 4 shards vs 1.85-1.9s at 1 shard at sf0.1, but the r15 sf1 sweep
        # measured 4 shards at 4.3/4.5s vs 7.4/6.1s at 1 shard — the optimum
        # moves with staged volume, so _state_shards derives it from the
        # events footer row count (1 at sf0.1, 4 at sf1, machine width cap).
        # The residue is availableNow machinery: a 1-row staging through the
        # identical plan still costs 2.8s cold / ~1.9s warm.
        return _drain_live(
            spark, sf_dir, "live_ivjoin", joined, "append",
            state_partitions=_state_shards(spark, sf_dir),
        )

    return memo(spark, sf_dir, "live_ivjoin", drain)


@register(
    "stream_live_counters",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_live_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY stateful streaming, driver-visible: per-user running
    event count + value total via ``applyInPandasWithState``
    (streaming/live.py:running_user_counters) over the shared 3-file
    staging, drained in update mode to a memory sink. Update mode emits
    one counter row per (user, micro-batch); because both counters are
    monotone non-decreasing, the FINAL state per user is the max over the
    drained rows — which equals the plain batch aggregate, making the
    custom-state path exactly oracle-checkable (the per-batch
    intermediate emissions are the streaming semantics; the max recovers
    the fixpoint).

    Scale: state is 2 numbers per user in the state store, sharded by the
    groupBy key; Python sees Arrow batches per key per trigger — the
    applyInPandasWithState contract. This is the surface for stateful
    logic Spark's built-in aggregates can't express (decaying counters,
    session models, fraud scores).

    Drain cost (r10): the registry entry drains ONE availableNow
    micro-batch — the monotone-counter fixpoint is batch-split-invariant,
    and each extra micro-batch pays a state-store + Python-worker
    round-trip per key shard. The per-file 3-batch replay (update-mode
    intermediate emissions, cross-batch state carry) stays pinned in
    tests/test_streaming_live.py::test_stateful_running_counters."""
    from ..streaming.live import events_stream, running_user_counters

    drained = memo(spark, sf_dir, "live_counters", lambda: _drain_live(
        spark,
        sf_dir,
        "live_counters",
        running_user_counters(
            events_stream(
                spark, _staged_events_dir(spark, sf_dir), max_files_per_trigger=None
            )
        ),
        "update",
    ))
    return (
        drained.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("n_events"),
            F.round(F.max("total_value"), 4).alias("total_value"),
        )
    )


@register(
    "stream_live_session",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_live_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed by LIVE Structured Streaming: the same
    30-minute-gap per-user sessionization as the batch ``stream_session``,
    but running as ``session_window`` state over the shared 3-file
    ``readStream`` staging and drained under ``availableNow`` in complete
    mode. Sessions MERGE across micro-batches (a user active in batch 1
    and batch 2 within the gap must yield one session), so this exercises
    the state-store merge path that distinguishes streaming sessionization
    from a windowed groupBy — and the final merged state equals the batch
    answer, which is what keeps it oracle-checkable against the identical
    lag + gap-flag + running-sum SQL as the batch variant.

    Scale: session state is one (start, end, aggregates) tuple per open
    session per user, sharded by the grouping key and evicted by the
    watermark as event time advances; a production job runs append mode
    with a real watermark and emits each session once, on close."""
    from ..streaming.live import events_stream

    def drain() -> DataFrame:
        stream = (
            events_stream(spark, _staged_events_dir(spark, sf_dir), max_files_per_trigger=1)
            .withWatermark("ts", "100 days")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "total_value",
            )
        )
        return _drain_live(spark, sf_dir, "live_session", stream, "complete")

    return memo(spark, sf_dir, "live_session", drain)


@register(
    "stream_live_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment, e.event_type,
           ROUND(e.value, 4) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_live_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE stream-static enrichment join — the lookup-table pattern every
    streaming pipeline runs (enrich each event with its user's dimension
    row): the staged event stream joins the STATIC customer table on
    user_id, row-level, append mode (no aggregation state at all). Spark
    re-plans the static side per micro-batch, broadcasting the dimension —
    at scale the static side refresh cadence is the micro-batch boundary,
    which is exactly how slowly-changing lookup tables are consumed by
    streams. The oracle is the plain batch join, because stream-static
    inner joins are exactly-once row-equivalent to their batch form."""
    from ..streaming.live import events_stream

    def drain() -> DataFrame:
        ev_dim = load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        stream = events_stream(spark, _staged_events_dir(spark, sf_dir), max_files_per_trigger=1)
        enriched = stream.join(F.broadcast(ev_dim), "user_id").select(
            "event_id",
            "user_id",
            "c_mktsegment",
            "event_type",
            F.round("value", 4).alias("value"),
        )
        return _drain_live(spark, sf_dir, "live_enrich", enriched, "append")

    return memo(spark, sf_dir, "live_enrich", drain)


@register(
    "stream_live_sliding",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
      FROM events
    ), w AS (
      SELECT event_type, value,
             (sec // 900) * 900 - k.k * 900 AS start_sec
      FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
      WHERE sec < (sec // 900) * 900 - k.k * 900 + 3600
    )
    SELECT make_timestamp(start_sec * 1000000) AS window_start,
           make_timestamp((start_sec + 3600) * 1000000) AS window_end,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM w GROUP BY 1, 2, 3
    """,
)
def stream_live_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE sliding windows (1h every 15min — each event in 4 overlapping
    windows) over the staged micro-batch stream, drained complete-mode
    through the shared availableNow contract and oracled against the
    SAME relational window expansion as the batch `stream_sliding`.
    Closes the live family: tumbling, sliding, session, dedup,
    stream-stream interval join, stateful counters, stream-static
    enrichment — every batch-window shape now has a driver-visible
    Structured Streaming twin."""
    from ..streaming.live import events_stream

    def drain() -> DataFrame:
        stream = events_stream(spark, _staged_events_dir(spark, sf_dir), max_files_per_trigger=1)
        agg = (
            stream.withWatermark("ts", "100 days")
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n",
                "total_value",
            )
        )
        return _drain_live(spark, sf_dir, "live_sliding", agg, "complete")

    return memo(spark, sf_dir, "live_sliding", drain)


# ---------------------------------------------------------------------------
# Watermark-sizing audit (round 8)
# ---------------------------------------------------------------------------
_WM_DELAY_S = 1800  # candidate watermark: 30 minutes
_WM_WINDOW_S = 3600  # 1-hour tumbling event-time windows


@register(
    "stream_watermark_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
             CAST(ts AS TIMESTAMP)
               + to_seconds(CAST(concat('0x', substr(md5(CAST(event_id AS
                 VARCHAR)), 1, 15)) AS BIGINT) % 7200) AS arrival
      FROM events
    ),
    lat AS (
      -- FLOOR(x / w), not x // w: DuckDB's // on DOUBLE (epoch returns a
      -- fractional-seconds DOUBLE) does not floor. Spark's side truncates
      -- sub-second parts via unix_timestamp, so both floor the WHOLE
      -- seconds; lateness then compares in whole seconds on both sides.
      SELECT event_type,
             FLOOR(epoch(arrival))
               - (FLOOR(FLOOR(epoch(ts)) / {_WM_WINDOW_S}) * {_WM_WINDOW_S}
                  + {_WM_WINDOW_S}) AS lateness_s
      FROM arr
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN lateness_s <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_on_time,
           CAST(SUM(CASE WHEN lateness_s > 0
                          AND lateness_s <= {_WM_DELAY_S} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_ok,
           CAST(SUM(CASE WHEN lateness_s > {_WM_DELAY_S} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(MAX(lateness_s) AS BIGINT) AS max_lateness_s
    FROM lat GROUP BY event_type
    """,
)
def stream_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit — the measurement you run BEFORE choosing
    `withWatermark`'s delay: simulate per-event arrival times (event time
    + a deterministic 0-2h network delay drawn from the md5 inverse-CDF
    convention), bucket each event into its 1-hour event-time window, and
    classify against a candidate {_WM_DELAY_S}s watermark — on-time
    (arrived before window close), late-but-within-watermark (arrives
    while the window state is still open: correct result, delayed
    emission), dropped (arrives after state eviction: silent data loss).
    The dropped count IS the business case for a longer watermark; the
    late tail's maximum bounds the state-retention cost of zero loss.

    This is the standard approximation (lateness measured against window
    close + delay rather than the global max-event-time watermark clock,
    which depends on cross-partition arrival interleaving — a property no
    deterministic batch audit should depend on); it upper-bounds drops,
    so the sizing it suggests is conservative. Quantified against a real
    continuous drain replaying the SAME arrival process (tests/
    test_streaming_live.py::test_watermark_audit_reconciles_with_live_
    eviction): at sf0.001 with 16 arrival-ordered micro-batches the live
    path drops 4 rows where this audit classifies 512 — the audit assumes
    the fastest possible eviction clock (arrival wall-time − delay),
    while the real clock only advances to max OBSERVED event-time at
    micro-batch boundaries, so live drops are provably ≤ the audit count
    under ANY trigger cadence. The LIVE semantics (actual eviction by
    the watermark clock) are exercised by the `stream_live_*` family in
    fits2db_spark/streaming/.

    Scale: one narrow projection (hash, epoch arithmetic) + one
    partial-agg groupBy on event_type — linear, no window functions, no
    shuffle beyond O(types)."""
    ev = load(spark, sf_dir, "events")
    delay_s = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 7200
    )
    win_end = (
        F.floor(F.unix_timestamp("ts") / _WM_WINDOW_S) * _WM_WINDOW_S + _WM_WINDOW_S
    )
    lat = ev.select(
        "event_type",
        (F.unix_timestamp("ts") + delay_s - win_end).alias("lateness_s"),
    )
    ls = F.col("lateness_s")
    return lat.groupBy("event_type").agg(
        F.sum(F.when(ls <= 0, 1).otherwise(0)).cast("long").alias("n_on_time"),
        F.sum(F.when((ls > 0) & (ls <= _WM_DELAY_S), 1).otherwise(0))
        .cast("long")
        .alias("n_late_ok"),
        F.sum(F.when(ls > _WM_DELAY_S, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.max(ls).cast("long").alias("max_lateness_s"),
    )


# ---------------------------------------------------------------------------
# Multiwindow SLO burn-rate alerts (round 8)
# ---------------------------------------------------------------------------
_SLO_BUDGET = 0.2  # error-ratio budget: the fixture stream errors at ~20%,
# so hourly burn hovers near 1.0 and the multiwindow rule genuinely
# discriminates (fires on the high tail at EVERY tier, never on all rows)
_SLO_SHORT_S = 3600  # short window: 1 hour
_SLO_LONG_S = 21600  # long window: 6 hours (aligned, short nests exactly)


@register(
    "events_slo_burnrate",
    oracle=f"""
    WITH base AS (
      SELECT CAST(FLOOR(FLOOR(epoch(CAST(ts AS TIMESTAMP))) / {_SLO_SHORT_S})
                  AS BIGINT) AS hr,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
      FROM events
    ),
    short_w AS (
      SELECT hr, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_err) AS BIGINT) AS n_err
      FROM base GROUP BY hr
    ),
    long_w AS (
      SELECT hr // {_SLO_LONG_S // _SLO_SHORT_S} AS lw,
             CAST(SUM(n) AS BIGINT) AS n_l,
             CAST(SUM(n_err) AS BIGINT) AS err_l
      FROM short_w GROUP BY 1
    )
    SELECT s.hr AS window_hr, s.n, s.n_err,
           ROUND(CAST(s.n_err AS DOUBLE) / s.n / {_SLO_BUDGET}, 6)
             AS burn_short,
           ROUND(CAST(l.err_l AS DOUBLE) / l.n_l / {_SLO_BUDGET}, 6)
             AS burn_long,
           CAST(CASE WHEN CAST(s.n_err AS DOUBLE) / s.n / {_SLO_BUDGET} > 1.05
                      AND CAST(l.err_l AS DOUBLE) / l.n_l / {_SLO_BUDGET} > 1.0
                     THEN 1 ELSE 0 END AS INT) AS alert
    FROM short_w s JOIN long_w l ON l.lw = s.hr // {_SLO_LONG_S // _SLO_SHORT_S}
    """,
)
def events_slo_burnrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn-rate alerting (the Google SRE workbook rule):
    per 1-hour window the error-budget burn rate (error ratio /
    {_SLO_BUDGET} budget), paired with its ALIGNED 6-hour window's burn,
    alerting only when BOTH exceed their thresholds (short > 1.05x AND
    long > 1x here — tuned so the rule discriminates on this stream's
    ~20%-error baseline at every fixture tier) — the short window gives fast detection, the long window
    suppresses blips, and alignment (6h = 6 nested 1h buckets) means the
    long burn is a pure rollup of the short aggregates, no second scan.

    Plan: one partial-agg groupBy to hourly counts (the only stage that
    sees event volume), a second O(hours) rollup to 6h, and an O(hours)
    equi-join — the exact two-tier aggregate a streaming deployment
    materializes incrementally. Ratios are exact integer divisions;
    the burn thresholds compare identically in both engines."""
    ev = load(spark, sf_dir, "events")
    ratio = _SLO_LONG_S // _SLO_SHORT_S
    base = ev.select(
        F.floor(F.unix_timestamp("ts") / _SLO_SHORT_S).cast("long").alias("hr"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    short_w = base.groupBy("hr").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("is_err").cast("long").alias("n_err"),
    )
    long_w = short_w.groupBy(
        (F.col("hr") / ratio).cast("long").alias("lw")
    ).agg(
        F.sum("n").cast("long").alias("n_l"),
        F.sum("n_err").cast("long").alias("err_l"),
    )
    bs = F.col("n_err").cast("double") / F.col("n") / _SLO_BUDGET
    bl = F.col("err_l").cast("double") / F.col("n_l") / _SLO_BUDGET
    return (
        short_w.join(
            long_w, long_w.lw == (F.col("hr") / ratio).cast("long")
        )
        .select(
            F.col("hr").alias("window_hr"),
            "n",
            "n_err",
            F.round(bs, 6).alias("burn_short"),
            F.round(bl, 6).alias("burn_long"),
            F.when((bs > 1.05) & (bl > 1.0), 1).otherwise(0).cast("int").alias("alert"),
        )
    )


# ---------------------------------------------------------------------------
# Live FITS ingest (round 12 — the F-surface driver-visible streaming key)
# ---------------------------------------------------------------------------


def _staged_customer_fits_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the customer table as 3 key-ranged FITS BINTABLE files —
    the watched-archive-directory fixture for the live FITS ingest key."""
    import os

    import duckdb

    from ..sources.fits import write_fits_bintable

    def write(out_dir: str) -> None:
        rows = (
            duckdb.connect()
            .execute(
                "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM "
                f"read_parquet('{sf_dir}/customer.parquet') ORDER BY c_custkey"
            )
            .fetchall()
        )
        os.makedirs(out_dir, exist_ok=True)
        n = len(rows)
        bounds = [0, n // 3, 2 * n // 3, n]
        for i in range(3):
            part = rows[bounds[i] : bounds[i + 1]]
            blob = write_fits_bintable(
                [
                    ("c_custkey", "K", [r[0] for r in part]),
                    ("c_name", "A25", [r[1] for r in part]),
                    ("c_nationkey", "J", [r[2] for r in part]),
                    ("c_acctbal", "D", [r[3] for r in part]),
                ],
                # display/unit conventions consumed by fits_tdisp_render
                extra_cards=[
                    ("TDISP1", "I8"),
                    ("TDISP2", "A25"),
                    ("TDISP4", "F12.2"),
                    ("TUNIT4", "ct"),
                ],
            )
            with open(os.path.join(out_dir, f"{i:03d}.fits"), "wb") as f:
                f.write(blob)

    return stage(spark, sf_dir, "customer_fits_stream_stage", write)


@register(
    "stream_live_fits_ingest",
    oracle="""
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_acctbal > 5000
    """,
)
def stream_live_fits_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming ingest from a watched FITS archive directory —
    ``readStream.format("fits")`` (sources/fits_datasource.py's
    DataSourceStreamReader) over the customer table staged as 3
    BINTABLE files, filtered and projected in-stream, drained to a
    memory sink under ``trigger(availableNow=True)``. This is the
    continuous version of the reference pipeline's archive loader: FITS
    files land in a directory, each micro-batch decodes exactly the
    unseen files (offsets record the processed-path set, so replay is
    exact and sinks stay exactly-once), and rows flow to the sink with
    the filter applied before they ever reach it. The offset/resume
    behavior across restarts is pinned separately in
    tests/test_streaming_live.py::test_fits_streaming_source.

    Scale: each micro-batch plans one partition per new file and decodes
    on executors through the same ``to_batch`` as the batch path
    (`fits_datasource_v2`), which also splits one large file into row
    ranges; a stream task reads its whole file."""
    from ..sources.fits_datasource import register as register_fits

    def drain() -> DataFrame:
        register_fits(spark)
        stream = (
            spark.readStream.format("fits")
            .load(_staged_customer_fits_dir(spark, sf_dir))
            .filter(F.col("c_acctbal") > 5000)
            .select(
                "c_custkey",
                "c_name",
                F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            )
        )
        return _drain_live(spark, sf_dir, "live_fits", stream, "append")

    return memo(spark, sf_dir, "live_fits", drain)
