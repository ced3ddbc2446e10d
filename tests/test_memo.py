"""The cross-query memo registry (kbspark.session.memo): one bound per
kind (LRU of two), one unpersist path, hit/miss counts, and a
``reset_memos`` that empties every kind."""

from kbspark import session
from kbspark.session import memo, memo_stats, persist_tracked, reset_memos


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _never():
    raise AssertionError("a memo hit must not rebuild")


def test_third_key_evicts_and_unpersists_lru(spark):
    reset_memos()
    a = memo("t_evict", "a", lambda: spark.range(3).persist())
    b = memo("t_evict", "b", lambda: spark.range(4).persist())
    c = memo("t_evict", "c", lambda: spark.range(5).persist())
    assert not _cached(a) and _cached(b) and _cached(c)
    rebuilt = []
    memo("t_evict", "a", lambda: rebuilt.append("a") or spark.range(3))
    assert rebuilt == ["a"]
    reset_memos()


def test_hit_refreshes_recency(spark):
    reset_memos()
    a = memo("t_recency", "a", lambda: spark.range(6).persist())
    b = memo("t_recency", "b", lambda: spark.range(7).persist())
    assert memo("t_recency", "a", _never) is a
    memo("t_recency", "c", lambda: spark.range(8).persist())
    assert _cached(a) and not _cached(b)
    reset_memos()


def test_none_result_is_memoized(spark):
    calls = []

    def probe():
        calls.append(1)
        return None

    assert memo("t_none", "k", probe) is None
    assert memo("t_none", "k", probe) is None
    assert calls == [1]
    reset_memos()


def test_memo_stats_count_hits_and_misses(spark):
    memo("t_stats", "a", lambda: 1)
    memo("t_stats", "a", _never)
    memo("t_stats", "b", lambda: 2)
    memo("t_stats", "a", _never)
    assert memo_stats()["t_stats"] == {"hits": 2, "misses": 2}
    reset_memos()


def test_reset_memos_empties_every_kind_and_unpersists(spark):
    reset_memos()
    single = memo("t_reset_one", "k", lambda: spark.range(9).persist())
    pair = memo("t_reset_pair", "k",
                lambda: (spark.range(10).persist(), spark.range(11)))
    tracked = persist_tracked(spark.range(12))
    assert all(_cached(df) for df in (single, pair[0], tracked))
    assert reset_memos() == 3
    assert not any(_cached(df) for df in (single, pair[0], tracked))
    assert all(not entries for entries in session._MEMOS.values())
