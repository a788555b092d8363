"""SparkSession factory + runtime tuning.

Two contexts use this module:

* Our own tests / bench build sessions via :func:`get_spark` (tuned for a
  single-box ``local[N]`` run of small scale factors — SURVEY.md §6).
* The driver hands us an already-built session for ``entry()`` / ``queries()``;
  for that path :func:`ensure_runtime_confs` applies the *runtime-settable*
  confs we depend on (notably reading nanosecond parquet timestamps).

Scale note (100 TB design): every conf here is a per-session knob, not a
semantic dependency. On a real cluster the same code runs with
``spark.sql.shuffle.partitions`` sized to cores×3, AQE coalescing enabled
(default in 4.x), and file-based partition sizing via
``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Confs that are safe (and required) to set at runtime on a live session.
# NOTE: events.parquet stores timestamp[ns]; PySpark 4.1.2 reads it natively
# as TIMESTAMP_NTZ (µs-truncated) and the legacy nanosAsLong conf is inert
# there — tables.py branches on the actual loaded dtype. The conf is still
# set for OLDER builds that refuse TIMESTAMP(NANOS) without it (they then
# take tables.py's int64 branch); on builds where it is static-only the
# try/except below ignores the failure.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Timestamp semantics must be timezone-stable on ANY session the
    # harness hands us: the NTZ->TIMESTAMP cast in tables.py and the
    # datetime rendering at collect() both follow the session tz, and the
    # DuckDB oracle compares naive UTC wall-clock values.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDF / toPandas paths (vectorized exchange).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime re-planning, partition coalescing, skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # format("fits")'s reader pushes filters; Spark refuses to run such a
    # reader while this is off.
    "spark.sql.python.filterPushdown.enabled": "true",
}


_SHIPPED_TO: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``fits2db_spark`` importable on executor Python workers.

    Python UDF / mapInArrow closures reference this package by module name;
    when the driving process runs from a different cwd (as the external
    harness does), executor workers cannot import it from PYTHONPATH. Ship
    the package source as a zip via ``addPyFile`` — the same mechanism used
    to deploy the package to a real cluster (there: a wheel/zip per release).
    """
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        return
    if app_id in _SHIPPED_TO:
        return
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = pathlib.Path(tempfile.gettempdir()) / f"fits2db_spark_pkg_{os.getpid()}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, f"fits2db_spark/{p.relative_to(pkg_dir)}")
    spark.sparkContext.addPyFile(str(zpath))
    _SHIPPED_TO.add(app_id)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static on some builds; reads will fail loudly later
            # if it truly didn't take, which is the correct failure mode.
            pass
    # Size the shuffle width to the actual core count, but ONLY when the
    # conf was never set on this session: ``conf.get(key, None)`` returns
    # None for the untouched built-in default and the string value for any
    # explicit runtime- or builder-time setting (verified for both paths in
    # tests/test_units.py), so an owner who deliberately chose 200 is never
    # clobbered. At fixture scale the 200-partition default multiplies
    # task-launch overhead ~6x on the iterative operators (pagerank on a
    # bare local[8] session: 55s vs ~10s) without adding parallelism;
    # partition count never affects results. On a real cluster the owner
    # sets this (or AQE coalescing absorbs it) — this guard only fires on
    # default-configured sessions.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", None) is None:
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(min(max(cores, 8), 32)))
    except Exception:
        pass
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "fits2db_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a tuned local session.

    ``shuffle_partitions`` defaults to the core count capped at 32 — at the
    fixture scale factors the 200-partition default just burns task-launch
    overhead (SURVEY.md §6 bench notes).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = min(int(cpus), 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)


# (applicationId, sf_dir, name) -> memoized operator intermediate; see memo().
_MEMO: dict[tuple[str, str, str], object] = {}


def release(df) -> None:
    """Free the executor storage behind a frame: its cache-manager entry
    (``persist``) and, for a ``localCheckpoint``-ed frame, the checkpoint
    blocks of the RDD behind its ``LogicalRDD`` leaf, which ``unpersist()``
    does not touch. A checkpointed frame is unreadable afterwards, so only
    release superseded or evicted intermediates. Values that are not frames
    (driver-side codebooks) hold no storage and are ignored."""
    if not isinstance(df, DataFrame):
        return
    try:
        df.unpersist()
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # not a LogicalRDD plan, or already cleaned: nothing more to free


def memo(spark: SparkSession, sf_dir: str, name: str, build):
    """Return this session's intermediate ``name`` for ``sf_dir``, calling
    ``build()`` on the first request. Operators use it to share a
    persisted or checkpointed frame (or a driver-side result) across
    keys and repeated calls in one session.

    * Key: ``(applicationId, sf_dir, name)``. When the application id
      cannot be read, ``build()`` runs unmemoized.
    * Eviction: inserting a key for a new ``(applicationId, sf_dir)``
      releases every entry of other ones, so a session sweeping scale
      factors holds one sf_dir's intermediates at a time;
      :func:`free_memo_checkpoints` releases all of them.
    * Entries key on the sf_dir PATH: re-staging different data under the
      same path within one session serves stale rows until
      :func:`free_memo_checkpoints` runs.
    * A frame built on an evicted checkpoint must not be executed
      afterwards: its blocks are gone. Consume an operator's result before
      running one on another sf_dir or freeing the memo.
    * Staged scratch paths (``tables.stage``) and drained live-stream sink
      tables are entries too. Eviction forgets them, so the next call
      rewrites the path or drains the stream again; frames read from them
      follow the rule above."""
    try:
        key = (spark.sparkContext.applicationId, sf_dir, name)
    except Exception:
        return build()
    if key not in _MEMO:
        for old in [k for k in _MEMO if k[:2] != key[:2]]:
            release(_MEMO.pop(old))
        _MEMO[key] = build()
    return _MEMO[key]


def free_memo_checkpoints() -> None:
    """Release every :func:`memo` entry and empty the store.

    Memos make repeated calls of the same key cheap but hold executor
    storage for the whole session: an unrelated later key slows down next
    to another key's retained checkpoint (about 1.8x measured next to
    ``join_xmatch_knn``'s). Call it between workloads or tiers, and after
    re-staging data under an sf_dir. The fixture cache built by
    ``tables.warm_cache`` is not touched; ``tables.clear_cache`` drops both."""
    while _MEMO:
        release(_MEMO.popitem()[1])
