"""Policy of the session memo (dbt_pro3_spark/memo.py), checked with stand-in
values so that each rule is seen on its own: build only on a miss, one live
scope per family, release with unpersist(blocking=False), purge of other
applications' entries, and nested builds under the one lock."""

from __future__ import annotations

from dbt_pro3_spark import memo
from dbt_pro3_spark.memo import clear_session_memo, session_memo

from .conftest import memo_scopes


class _Held:
    """Stands in for a persisted frame or a broadcast."""

    def __init__(self, fail: bool = False):
        self.released = []
        self.fail = fail

    def unpersist(self, blocking: bool = False):
        if self.fail:
            raise RuntimeError("session stopped")
        self.released.append(blocking)


def test_build_runs_only_on_a_miss(spark):
    clear_session_memo()
    calls = []

    def build():
        calls.append(1)
        return _Held()

    a = session_memo(spark, "t_fam", "s1", "p", build)
    assert session_memo(spark, "t_fam", "s1", "p", build) is a
    assert len(calls) == 1
    session_memo(spark, "t_fam", "s1", "q", build)
    assert len(calls) == 2, "another part of the same scope is its own entry"
    clear_session_memo()


def test_new_scope_releases_only_its_own_family(spark):
    clear_session_memo()
    old = session_memo(spark, "t_fam", "s1", "p", _Held)
    seeds = session_memo(spark, "t_fam", "s1", "seeds", lambda: [[0.0, 1.0]])
    other = session_memo(spark, "t_other", "s1", "p", _Held)
    new = session_memo(spark, "t_fam", "s2", "p", _Held)
    assert old.released == [False], "evicted entry is unpersisted, non-blocking"
    assert seeds == [[0.0, 1.0]], "values without unpersist are dropped as they are"
    assert memo_scopes("t_fam") == {"s2"}
    assert other.released == [] and memo_scopes("t_other") == {"s1"}
    assert new.released == []
    clear_session_memo()
    assert new.released == [False] and other.released == [False]
    assert memo_scopes("t_fam") == memo_scopes("t_other") == set()


def test_miss_purges_entries_of_other_applications(spark):
    clear_session_memo()
    dead, stopped = _Held(), (_Held(fail=True), _Held())
    memo._MEMO[(object(), "t_other", "s1", "p")] = ("app-gone", dead)
    memo._MEMO[(object(), "t_other", "s1", "q")] = ("app-gone", stopped)
    session_memo(spark, "t_fam", "s1", "p", _Held)
    assert dead.released == [False]
    assert stopped[1].released == [False], "a failing release does not stop the purge"
    assert memo_scopes("t_other") == set()
    clear_session_memo()


def test_nested_build_and_per_session_keys(spark):
    clear_session_memo()
    inner = session_memo(spark, "t_fam", "s1", "inner", _Held)
    seen = []

    def build_outer():
        seen.append(session_memo(spark, "t_fam", "s1", "inner", _Held))
        return _Held()

    outer = session_memo(spark, "t_fam", "s1", "outer", build_outer)
    assert seen == [inner]
    other = spark.newSession()
    assert session_memo(other, "t_fam", "s1", "inner", _Held) is not inner
    assert session_memo(spark, "t_fam", "s1", "inner", _Held) is inner
    clear_session_memo()
    assert inner.released == [False] and outer.released == [False]


def test_concurrent_first_calls_build_once(spark):
    """The miss path is serialized: threads racing on one cold key share a
    single build instead of each persisting (and orphaning) its own."""
    import sys
    import threading
    import time

    clear_session_memo()
    builds, got = [], []

    def build():
        builds.append(1)
        time.sleep(0.05)
        return _Held()

    def call():
        got.append(session_memo(spark, "t_fam", "s1", "p", build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=call) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == 12
    assert all(v is got[0] for v in got)
    clear_session_memo()
