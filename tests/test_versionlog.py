"""VersionLog — the one commit protocol every store publishes through:
pointer, writer lock, slot claims, compare-and-set publish and
reachability vacuum. Driven directly over tmp dirs; no Spark."""

import json
import os
import sys
import threading
import time

import pytest

from textindexing_spark.sources.versionlog import (ConcurrentWriterError,
                                                   VersionLog)


def _data(log, v, name="x"):
    """A writer's attempt dir for version ``v`` with one data file."""
    d = f"{log.root}/v{v}_data_{name}"
    os.makedirs(f"{d}/t")
    with open(f"{d}/t/part", "w") as fh:
        fh.write("row")
    return d


def test_first_commit_cas_rejects_second_empty_store_writer(tmp_path):
    a, b = VersionLog(str(tmp_path)), VersionLog(str(tmp_path))
    assert a.latest() is None and a.versions() == []
    assert b.publish(1, expect_prev=None, manifest={"by": "b"}) == 1
    with pytest.raises(ConcurrentWriterError, match="empty store"):
        a.publish(1, expect_prev=None, manifest={"by": "a"})
    assert a.latest() == 1
    assert a.manifest() == {"by": "b"}       # the loser wrote nothing


def test_later_commit_cas_rejects_stale_writer(tmp_path):
    log = VersionLog(str(tmp_path))
    log.publish(1, expect_prev=None, manifest={"n": 1})
    read_a = read_b = log.latest()           # both writers read v1
    log.publish(read_b + 1, expect_prev=read_b, manifest={"n": "b"})
    with pytest.raises(ConcurrentWriterError, match="from v1 to v2"):
        log.publish(read_a + 1, expect_prev=read_a, manifest={"n": "a"})
    assert log.latest() == 2 and log.manifest() == {"n": "b"}
    assert log.versions() == [1, 2]


def test_pointer_only_moves_forward(tmp_path):
    log = VersionLog(str(tmp_path))
    assert log.publish(3) == 3
    assert log.publish(2) == 2               # a slower writer's older slot
    assert log.latest() == 3


def test_claim_slot_skips_a_claimed_version(tmp_path):
    """A pre-existing v{N} (a racing writer's claim) pushes this writer
    to the next number instead of sharing the directory."""
    log = VersionLog(str(tmp_path))
    v, path = log.claim_slot()
    assert (v, path) == (1, f"{tmp_path}/v1") and os.path.isdir(path)
    log.publish(v)
    os.mkdir(f"{tmp_path}/v2")               # simulate a racing claim
    assert log.claim_slot()[0] == 3
    assert log.attempt_dir(4) != log.attempt_dir(4)


def test_versions_list_published_entries_only(tmp_path):
    log = VersionLog(str(tmp_path))
    for _ in range(2):
        log.publish(log.claim_slot()[0])
    log.claim_slot()                          # v3: claimed, unpublished
    with open(f"{tmp_path}/v4.json", "w") as fh:
        json.dump({}, fh)                     # crashed before the swap
    _data(log, 5)
    os.mkdir(f"{tmp_path}/_urlmap")           # a store's side table
    assert log.versions() == [1, 2]


def test_vacuum_keep_last_clamps_and_grace_spares_young_orphans(tmp_path):
    log = VersionLog(str(tmp_path))
    dirs = {}
    for v in (1, 2, 3):
        dirs[v] = _data(log, v)
        # copy-on-write: every version keeps reading v1's data
        log.publish(v, expect_prev=v - 1 if v > 1 else None,
                    manifest={"dirs": [f"{dirs[1]}/t", dirs[v]]})
    young = _data(log, 4, "inflight")         # in-flight writer's attempt
    aged = _data(log, 4, "lost")              # a CAS loser, long ago
    old = time.time() - 7200
    os.utime(aged, (old, old))

    def referenced(v):
        return log.manifest(v)["dirs"]

    deleted = log.vacuum(referenced, keep_last=0)   # clamps to 1
    assert log.versions() == [3] and log.latest() == 3
    assert sorted(deleted) == sorted([
        f"{tmp_path}/v1.json", f"{tmp_path}/v2.json", aged])
    # v2's data is unreferenced but young: it may be a writer's attempt
    # that read v1 and has not published yet
    assert all(os.path.isdir(d) for d in (*dirs.values(), young))
    # no early return with a single kept version: the sweep still runs
    assert log.vacuum(referenced, keep_last=1, grace_s=0) == [dirs[2], young]
    assert log.manifest()["dirs"] == [f"{dirs[1]}/t", dirs[3]]


def test_vacuum_leaves_unpublished_slot_above_latest_to_grace(tmp_path):
    log = VersionLog(str(tmp_path))
    for _ in range(2):
        log.publish(log.claim_slot()[0])
    log.claim_slot()                          # v3: a crashed writer's slot
    assert log.vacuum(keep_last=1) == [f"{tmp_path}/v1",
                                       f"{tmp_path}/v1.json"]
    assert os.path.isdir(f"{tmp_path}/v2") and os.path.isdir(f"{tmp_path}/v3")
    assert log.vacuum(keep_last=1, grace_s=0) == [f"{tmp_path}/v3"]
    assert log.versions() == [2]


def test_failed_save_never_reads_as_published(tmp_path):
    """A segment-store commit whose save raises removes its slot, and a
    record-less slot below LATEST (a writer that died mid-save) is
    neither listed nor kept in place of a published version."""
    from textindexing_spark.sources.catalog import VersionedSegmentStore

    class Seg:
        def __init__(self, fail=False):
            self.fail = fail

        def save(self, path):
            with open(f"{path}/part", "w") as fh:
                fh.write("row")
            if self.fail:
                raise OSError("disk full")

    store = VersionedSegmentStore(None, str(tmp_path))
    assert store.commit(Seg()) == 1
    with pytest.raises(OSError, match="disk full"):
        store.commit(Seg(fail=True))
    assert not os.path.exists(f"{tmp_path}/v2")
    v, path = store.log.claim_slot()          # a writer that died in save
    Seg().save(path)
    assert store.commit(Seg()) == 3
    assert store.versions() == [1, 3]
    assert store.expire(keep_last=2) == []
    assert store.versions() == [1, 3] and os.path.isdir(f"{tmp_path}/v1")
    assert store.expire(keep_last=1) == [1]
    assert os.path.isdir(path)                # left to the grace window


def test_lock_nests_in_its_thread_and_excludes_others(tmp_path):
    log = VersionLog(str(tmp_path))
    events = []

    def nested():
        with log.lock():
            with log.lock():                  # no second flock
                log.publish(1)                # takes the lock again
            events.append("nested")

    t = threading.Thread(target=nested)
    t.start()
    t.join(10)
    assert not t.is_alive() and events == ["nested"]

    def other():
        with log.lock():
            events.append("other")

    with log.lock():
        t = threading.Thread(target=other)
        t.start()
        t.join(0.3)
        assert t.is_alive() and events == ["nested"]   # waits for us
    t.join(10)
    assert not t.is_alive() and events == ["nested", "other"]


def test_cas_commit_loop_loses_no_update_under_contention(tmp_path):
    """Eight threads (more than this suite's cores) each land 25 commits
    by read-then-CAS, retrying on ConcurrentWriterError: a lost update
    would leave LATEST short of 200 or two manifests claiming one
    version."""
    log = VersionLog(str(tmp_path))
    n_threads, per_thread = 8, 25
    errors = []

    def writer(i):
        try:
            done = 0
            while done < per_thread:
                prev = log.latest()
                v = (prev or 0) + 1
                try:
                    log.publish(v, expect_prev=prev, manifest={"by": i})
                except ConcurrentWriterError:
                    continue
                done += 1
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(i,))
                   for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors
    assert log.latest() == n_threads * per_thread
    assert log.versions() == list(range(1, n_threads * per_thread + 1))
    by = [log.manifest(v)["by"] for v in log.versions()]
    assert sorted(by.count(i) for i in range(n_threads)) \
        == [per_thread] * n_threads
