"""SparkSession factory.

Local mode is the test bed; the config block is written so the same code
deploys unchanged via spark-submit on a multi-executor cluster (AQE,
adaptive skew-join, Arrow batching are cluster-relevant, not local hacks).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app: str = "kbspark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    ``shuffle_partitions`` defaults to ``cpus`` — on a real cluster this
    would be ~2-3x total cores; AQE coalesces the excess either way.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep Arrow batches small: with kilobyte-scale text rows and many
        # concurrent python workers, large batches (the 10k default) put
        # gigabytes in flight JVM<->python and collapse throughput at high
        # core counts (measured: trivial 2.2GB pass at local[32] takes 20s+
        # with 20k batches vs ~5s with 1k batches). 1024 rows × ~4KB text
        # ≈ 4MB per batch per worker — smooth pipelining at 32 workers.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: DataFrames persisted inside operators (shingle/block/member tables,
#: EL spans). A contract/driver session runs ~50 queries in one process;
#: without release the cached partitions of every query accumulate for
#: the session lifetime (ADVICE r02). Operators register their persists
#: here; ``release_tracked`` drops them all — called between contract
#: queries (kbspark.contract.register) once the previous query's action
#: has finished. Unpersist is an optimization-only change: every tracked
#: computation is deterministic, so late consumers just recompute.
_TRACKED_PERSISTS: list = []


def persist_tracked(df):
    """``df.persist()`` + registration for between-queries release."""
    out = df.persist()
    _TRACKED_PERSISTS.append(out)
    return out


def release_tracked() -> int:
    """Unpersist every tracked DataFrame; returns how many were
    released."""
    n = 0
    while _TRACKED_PERSISTS:
        n += _unpersist(_TRACKED_PERSISTS.pop())
    return n


def _unpersist(value) -> int:
    """Unpersist a memo value or tracked DataFrame, walking tuples (the
    frame path memoizes an ``(entity_dim, redirect_dim)`` pair); returns
    how many persisted DataFrames were released. Values that hold no
    cached plan (dicts, ``None``, an unpersisted frame) release nothing."""
    if isinstance(value, tuple):
        return sum(_unpersist(v) for v in value)
    if not getattr(value, "is_cached", False):
        return 0
    try:
        value.unpersist()
    except Exception:  # session already gone — nothing to release
        return 0
    return 1


#: The cross-query memo registry: kind -> LRU of ``(applicationId, key)
#: -> value``. The reference writes its dictionary and its ``tagged``
#: table once and reads them back everywhere (ner.py:254-256,
#: ner.py:267-288); a contract session runs ~50 queries in one process,
#: so re-deriving them per query is pure waste. Unlike tracked persists
#: these survive ``release_tracked``. Bounded per kind (ADVICE r02): an
#: evicted value is unpersisted — recompute-safe, everything memoized is
#: deterministic.
_MEMOS: dict[str, OrderedDict] = {}
_MEMO_STATS: dict[str, dict[str, int]] = {}
_MEMO_MAX_PER_KIND = 2
_MEMO_LOCK = threading.Lock()


def memo(kind: str, key, build):
    """``build()``'s value memoized under ``(kind, applicationId, key)``.

    A hit moves its key to the back of its kind's LRU (ADVICE r03: with
    front eviction, alternating three keys would otherwise evict the
    hottest value); a miss runs ``build()`` outside the lock and evicts
    — and unpersists — the least recently used entry beyond
    ``_MEMO_MAX_PER_KIND``. A ``None`` result is memoized like any other
    value (the over-cap dims probe relies on that)."""
    sc = SparkContext._active_spark_context
    full = (None if sc is None else sc.applicationId, key)
    with _MEMO_LOCK:
        entries = _MEMOS.setdefault(kind, OrderedDict())
        stats = _MEMO_STATS.setdefault(kind, {"hits": 0, "misses": 0})
        if full in entries:
            stats["hits"] += 1
            entries.move_to_end(full)
            return entries[full]
        stats["misses"] += 1
    value = build()
    with _MEMO_LOCK:
        entries[full] = value
        evicted = []
        while len(entries) > _MEMO_MAX_PER_KIND:
            evicted.append(entries.popitem(last=False)[1])
    for old in evicted:
        _unpersist(old)
    return value


def memo_stats() -> dict[str, dict[str, int]]:
    """Hit and miss counts per memo kind since the process started."""
    with _MEMO_LOCK:
        return {kind: dict(s) for kind, s in _MEMO_STATS.items()}


_CHECKPOINT_LOCK = threading.Lock()


def local_checkpoint_tracked(df):
    """``df.localCheckpoint()`` plus the ids of the RDD cache blocks the
    checkpoint pinned, as ``(checkpointed_df, [rdd_id, ...])``.

    Spark has no public unpersist for (local) checkpoints, so an
    iterative fixpoint that checkpoints every round accumulates
    O(rounds × |V|) cached blocks for its whole lifetime (ADVICE r03).
    Capturing the delta of ``getPersistentRDDs`` around the (eager)
    checkpoint lets the loop release the PREVIOUS round's blocks via
    ``release_rdd_ids`` once the new round is materialized.

    The before/after delta attributes every persist registered inside
    the window to THIS checkpoint, so concurrent persists (another
    driver thread, a background streaming job) would be mis-attributed
    and later unpersisted. ``_CHECKPOINT_LOCK`` serializes the capture
    window across driver threads (ADVICE r04); persists issued by Spark
    itself outside any ``local_checkpoint_tracked`` call remain the
    caller's responsibility — keep long-lived background jobs on their
    own SparkSession if they persist."""
    with _CHECKPOINT_LOCK:
        sc = df.sparkSession.sparkContext
        jmap = sc._jsc.getPersistentRDDs()
        before = set(jmap.keySet().toArray())
        out = df.localCheckpoint()
        after = sc._jsc.getPersistentRDDs().keySet().toArray()
        return out, [i for i in after if i not in before]


def release_rdd_ids(spark, ids) -> int:
    """Best-effort unpersist of checkpoint-cached RDD blocks by id
    (companion of ``local_checkpoint_tracked``); returns how many blocks
    were released. Never raises — a missing id just means the blocks are
    already gone."""
    n = 0
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            r = jmap.get(i)
            if r is not None:
                r.unpersist(False)
                n += 1
    except Exception:
        pass
    return n


def reset_memos() -> int:
    """Clear every entry of the memo registry (``memo``) plus tracked
    persists, unpersisting cached tables.

    Benchmarks call this between repeated runs of one query so best-of-N
    separates co-tenant noise from plan regressions WITHOUT aliasing warm
    memo hits into the "first run" number (VERDICT r03 #1). Everything
    memoized is deterministic, so clearing is never a correctness event.
    Returns how many persisted tables were released."""
    with _MEMO_LOCK:
        values = [v for entries in _MEMOS.values() for v in entries.values()]
        for entries in _MEMOS.values():
            entries.clear()
    return sum(_unpersist(v) for v in values) + release_tracked()


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that correctness depends on, on a session we did
    not create (the driver hands us one in ``__spark_entry__.entry``).

    UTC matters because the DuckDB oracle reads parquet timestamps as
    naive-UTC; Arrow matters for every pandas-UDF stage.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
