"""The session state store: one build per key under concurrency, a
bound per name with unpersist on eviction, and one clear for all."""

import sys
import threading
import time
from types import SimpleNamespace

import pytest

from synthetic_data_pipeline_spark import state

STUB = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stub-app"))


class Frame:
    """Stands in for a DataFrame: counts unpersist calls."""

    def __init__(self, fail=False):
        self.unpersisted = 0
        self.fail = fail

    def unpersist(self):
        self.unpersisted += 1
        if self.fail:
            raise RuntimeError("owner session stopped")


@pytest.fixture
def fresh():
    state.clear()
    yield
    state.clear()


def test_concurrent_callers_build_once(fresh):
    calls = []
    gate = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.2)  # every other thread arrives mid-build
        return object()

    got = [None] * 8

    def worker(i):
        gate.wait()
        got[i] = state.get_or_build(STUB, "once", "k", build)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # expose any unlocked read-modify-write
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert all(g is got[0] for g in got)
    assert state.stats()["once"] == {"entries": 1, "builds": 1, "hits": 7}


def test_builds_of_other_keys_run_in_parallel(fresh):
    """The lock is per key: a build waiting on another key's build
    must not deadlock behind it."""
    b_started = threading.Event()

    def build_a():
        return b_started.wait(timeout=10)

    def build_b():
        b_started.set()
        return True

    t = threading.Thread(
        target=lambda: state.get_or_build(STUB, "par", "a", build_a)
    )
    t.start()
    time.sleep(0.1)  # a is now building, holding its own lock
    assert state.get_or_build(STUB, "par", "b", build_b) is True
    t.join(timeout=30)
    assert not t.is_alive()
    assert state.get_or_build(STUB, "par", "a", build_a) is True


def test_bound_evicts_oldest_and_unpersists_nested_frames(fresh):
    first = (Frame(), [Frame(), Frame(fail=True)])
    state.get_or_build(STUB, "bound", 0, lambda: first)
    later = [Frame() for _ in range(3)]
    for i, f in enumerate(later, start=1):
        state.get_or_build(STUB, "bound", i, lambda f=f: f)
    assert first[0].unpersisted == 1
    assert [f.unpersisted for f in first[1]] == [1, 1]
    assert [f.unpersisted for f in later] == [0, 0, 0]
    assert state.stats()["bound"]["entries"] == state.MAX_PER_NAME
    # the bound is per name: another name's entries are untouched
    other = Frame()
    state.get_or_build(STUB, "other", 0, lambda: other)
    assert other.unpersisted == 0 and later[0].unpersisted == 0


def test_clear_empties_every_name_and_unpersists(spark, sf_dir):
    """One clear drops every memo, q205's edit base included (it used
    to escape the funnel's clear, so a 'cold' q205 ran warm)."""
    from pyspark import StorageLevel

    from synthetic_data_pipeline_spark.operators import dedup, sketches

    state.clear()
    sketches.q205_edit_relabel_scope(spark, sf_dir).collect()
    sketches.q58_dup_clusters(spark, sf_dir).collect()
    held = state.stats()
    assert {"edit_prev_state", "cluster_state", "token_state", "shingle_pairs"} <= {
        n for n, s in held.items() if s["entries"]
    }
    frames = [
        *sketches._edit_prev_state(spark, sf_dir),
        *sketches._cluster_state(spark, sf_dir),
        dedup.token_state(spark, sf_dir),
    ]
    assert all(f.storageLevel != StorageLevel.NONE for f in frames)

    state.clear()
    assert state.stats() == {}
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)
