"""The per-session artifact store (cache.py): memo builds once per
(session, namespace, key), sessions never share entries, a failed build
stores nothing, and release unpersists what it drops."""

from __future__ import annotations

import pytest

from distributed_graph_coloring_with_pyspark_spark import cache


@pytest.fixture
def session(spark):
    # a session of its own: a distinct store key, so these tests neither
    # see nor release the memos other tests keep in the shared session
    s = spark.newSession()
    yield s
    cache.release(s)


def _persisted(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_memo_builds_once_per_session_namespace_key(session):
    calls = []

    def build(v):
        calls.append(v)
        return v

    assert cache.memo(session, "ns", "k", lambda: build(1)) == 1
    assert cache.memo(session, "ns", "k", lambda: build(2)) == 1
    assert cache.memo(session, "ns", "k2", lambda: build(3)) == 3
    assert cache.memo(session, "other", "k", lambda: build(4)) == 4
    assert calls == [1, 3, 4]
    assert cache.entries(session, "ns") == {"k": 1, "k2": 3}


def test_sessions_do_not_share_entries(session):
    other = session.newSession()
    cache.memo(session, "ns", "k", lambda: "first")
    assert cache.memo(other, "ns", "k", lambda: "second") == "second"
    assert cache.entries(session, "ns") == {"k": "first"}
    # a frame knows the session that made it, so a tracked persist made
    # through df.sparkSession lands under the caller's session
    df = other.range(3)
    assert df.sparkSession is other
    cache.persist_tracked(df.sparkSession, df)
    assert cache.release(session, "tracked_frames") == {"tracked_frames": 0}
    assert cache.release(other) == {"ns": 1, "tracked_frames": 1}


def test_raising_build_stores_nothing(session):
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        cache.memo(session, "ns", "k", boom)
    assert "k" not in cache.entries(session, "ns")
    assert cache.memo(session, "ns", "k", lambda: 7) == 7


def test_release_unpersists_frames_and_counts(session):
    plain = session.range(5).persist()
    paired = session.range(6).persist()
    cache.memo(session, "frames", "a", lambda: plain)
    cache.memo(session, "models", "b", lambda: (["merge"], paired))
    cache.memo(session, "models", "c", lambda: [1.0, 2.0])
    tracked = cache.persist_tracked(session, session.range(7))
    assert all(_persisted(df) for df in (plain, paired, tracked))

    assert cache.release(session) == {
        "frames": 1,
        "models": 2,
        "tracked_frames": 1,
    }
    assert not any(_persisted(df) for df in (plain, paired, tracked))
    # nothing is left to release
    assert cache.release(session) == {}
    assert cache.release(session, "frames") == {"frames": 0}


def test_release_one_key(session):
    exact = session.range(3).persist()
    lsh = session.range(4).persist()
    cache.memo(session, "pairs", ("sf", "exact"), lambda: exact)
    cache.memo(session, "pairs", ("sf", "lsh"), lambda: lsh)

    assert cache.release(session, "pairs", ("sf", "exact")) == {"pairs": 1}
    assert not _persisted(exact)
    assert _persisted(lsh)
    assert cache.entries(session, "pairs") == {("sf", "lsh"): lsh}
    assert cache.release(session, "pairs", ("sf", "exact")) == {"pairs": 0}


def _destroyed(b) -> bool:
    import os

    return not os.path.exists(b._path)


def _boom():
    raise RuntimeError("build failed")


def test_release_destroys_broadcasts(session):
    sc = session.sparkContext
    plain, paired, kept = sc.broadcast([1]), sc.broadcast([2]), sc.broadcast([3])
    cache.memo(session, "luts", "a", lambda: plain)
    cache.memo(session, "luts", "b", lambda: ("state", paired))
    cache.memo(session, "other", "c", lambda: kept)

    assert cache.release(session, "luts") == {"luts": 2}
    assert _destroyed(plain) and _destroyed(paired)
    assert not _destroyed(kept)
    cache.release(session)
    assert _destroyed(kept)


def test_memo_rebuilds_on_a_new_version_and_frees_the_old(session):
    sc = session.sparkContext
    old = session.range(5).persist()
    old_b = sc.broadcast([1])
    assert cache.memo(session, "ns", "k", lambda: (old, old_b), version=1)[0] is old
    # same version: a hit, whatever build would return
    assert cache.memo(session, "ns", "k", lambda: None, version=1)[0] is old
    new = cache.memo(session, "ns", "k", lambda: ("rebuilt",), version=2)
    assert new == ("rebuilt",)
    assert not _persisted(old) and _destroyed(old_b)
    # a rebuild that raises leaves nothing stale behind
    with pytest.raises(RuntimeError):
        cache.memo(session, "ns", "k", _boom, version=3)
    assert "k" not in cache.entries(session, "ns")


def test_stats_count_hits_misses_and_size(session):
    for key in ("a", "a", "b", "a"):
        cache.memo(session, "ns", key, lambda: 0)
    cache.memo(session, "other", "x", lambda: 0)
    assert cache.stats(session) == {
        "ns": {"hits": 2, "misses": 2, "size": 2},
        "other": {"hits": 0, "misses": 1, "size": 1},
    }
    cache.release(session, "ns")
    assert cache.stats(session)["ns"] == {"hits": 2, "misses": 2, "size": 0}
