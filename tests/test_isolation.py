"""Snapshot isolation + concurrency (north rule; FIXTURES.md F5).

A reader pinned to a pre-compaction snapshot must see bitwise-identical data
while and after compaction rewrites the files underneath it; concurrent
committers must serialize via the optimistic-commit CAS (replacing the
reference's PID write lock, src/lock.rs:12-103).
"""

from __future__ import annotations

import sys
import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import types as T

from octocode_spark.datagen import sequences
from octocode_spark.functions.digest import table_digest
from octocode_spark.lakehouse import CommitConflict, LakeTable
from octocode_spark.lakehouse import table as table_mod
from octocode_spark.lakehouse.maintenance import plan_compaction, rewrite_partitions
from tests.conftest import make_sequences_table


def test_reader_pinned_during_compaction(spark, tmp_table_dir):
    t = make_sequences_table(spark, tmp_table_dir, n_rows=2000, small_files=16)
    pin = t.meta.current_snapshot_id
    golden = table_digest(t.read(spark, snapshot_id=pin))

    # "concurrent" reader handle opened before the rewrite
    reader = LakeTable.load(tmp_table_dir)

    plan = plan_compaction(t)
    # interleave: compact one partition, read pinned, compact the rest
    first = plan
    first_one = type(plan)(partitions=plan.partitions[:1])
    rest = type(plan)(partitions=plan.partitions[1:])
    rewrite_partitions(spark, t, first_one, cluster_by="zorder")

    mid_digest = table_digest(reader.read(spark, snapshot_id=pin))
    assert mid_digest == golden  # serializable read mid-compaction

    rewrite_partitions(spark, t, rest, cluster_by="zorder")
    assert table_digest(reader.read(spark, snapshot_id=pin)) == golden
    # and the CURRENT snapshot has identical content (compaction preserves data)
    assert table_digest(reader.refresh().read(spark)) == golden


def test_concurrent_commit_race_serializes(spark, tmp_table_dir):
    """Two threads commit appends simultaneously; the CAS must serialize them
    into two snapshots with no lost update."""
    from octocode_spark.datagen import sequences

    df = sequences(spark, 600, max_tok_cap=64)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=[])
    handles = [LakeTable.load(tmp_table_dir) for _ in range(4)]
    staged = [
        h._write_datafiles(df.filter(f"pmod(xxhash64(doc_id), 4) = {i}"))
        for i, h in enumerate(handles)
    ]
    errs: list[Exception] = []

    def commit(h, files):
        try:
            h._commit("append", added=files, replaced=[])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=commit, args=(h, f)) for h, f in zip(handles, staged)]
    [x.start() for x in threads]
    [x.join() for x in threads]
    assert not errs
    t.refresh()
    assert len(t.meta.snapshots) == 4
    assert t.read(spark).count() == df.count()


def test_conflicting_rewrites_one_wins_one_replans(spark, tmp_table_dir):
    """Two compactions of the same files: exactly one commits, the loser gets
    CommitConflict and can replan — Iceberg CommitFailedException semantics."""
    t = make_sequences_table(spark, tmp_table_dir, n_rows=1000, small_files=8)
    pre = table_digest(t.read(spark))
    a, b = LakeTable.load(tmp_table_dir), LakeTable.load(tmp_table_dir)
    files = t.files()
    paths = [f.path for f in files]
    added_a = a._write_datafiles(a.read_files(spark, files).repartition(2))
    added_b = b._write_datafiles(b.read_files(spark, files).repartition(2))
    a.replace_files(paths, added_a)
    try:
        b.replace_files(paths, added_b)
        raise AssertionError("second replace must conflict")
    except CommitConflict:
        pass
    # loser replans against fresh metadata and succeeds
    b.refresh()
    plan = plan_compaction(b, force=True)
    rewrite_partitions(spark, b, plan)
    assert table_digest(b.read(spark)) == pre


# every metadata writer, driven through the shared commit loop
_COMMIT_OPS = {
    "update_properties": lambda t, df: t.update_properties({"k": "v"}),
    "create_branch": lambda t, df: t.create_branch("audit"),
    "add_column": lambda t, df: t.add_column("extra", "string"),
    "rollback_to": lambda t, df: t.rollback_to(t.meta.snapshots[0].snapshot_id),
    "expire_snapshots": lambda t, df: t.expire_snapshots(older_than_ms=1 << 62),
    "rewrite_manifests": lambda t, df: t.rewrite_manifests(),
    "append": lambda t, df: t.append(df),
}


@pytest.mark.parametrize("op", list(_COMMIT_OPS))
def test_lost_cas_races_give_up_after_commit_retries(spark, tmp_table_dir, monkeypatch, op):
    """Every metadata writer shares one bounded retry policy: a commit that
    keeps losing the CAS re-validates against fresh metadata, backs off
    linearly, and raises CommitConflict after exactly COMMIT_RETRIES
    attempts — never spins forever, never half-commits."""
    retries = table_mod.COMMIT_RETRIES
    df = sequences(spark, 40, max_tok_cap=16)
    t = LakeTable.create(tmp_table_dir, df.schema, partition_by=["source"], stat_cols=[])
    t.append(df)
    t.append(df)
    version = t.meta.version

    class Spinning(Exception):
        """The CAS was retried past any sane bound."""

    attempts: list[int] = []

    def always_lose(root, meta):
        attempts.append(meta.version)
        if len(attempts) > 25:
            raise Spinning
        return False

    sleeps: list[float] = []
    monkeypatch.setattr(table_mod, "write_metadata_exclusive", always_lose)
    monkeypatch.setattr(table_mod, "time", SimpleNamespace(
        sleep=sleeps.append, time=time.time, monotonic=time.monotonic))
    with pytest.raises(CommitConflict, match=f"lost {retries} commit races"):
        _COMMIT_OPS[op](t, df)
    assert attempts == [version + 1] * retries
    assert sleeps == [0.01 * i for i in range(1, retries)]
    monkeypatch.undo()
    assert LakeTable.load(tmp_table_dir).meta.version == version


def test_concurrent_property_updates_lose_no_key(tmp_table_dir):
    """Metadata-only commits race through the same CAS as snapshot commits:
    four writers setting distinct keys all land, one version each. A commit
    can lose at most the other writers' 15 commits, inside COMMIT_RETRIES."""
    LakeTable.create(tmp_table_dir, T.StructType([T.StructField("id", T.LongType())]))
    handles = [LakeTable.load(tmp_table_dir) for _ in range(4)]
    start = threading.Barrier(len(handles))
    errs: list[Exception] = []

    def update(i, h):
        try:
            start.wait()
            for j in range(5):
                h.update_properties({f"w{i}.k{j}": str(j)})
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=update, args=(i, h)) for i, h in enumerate(handles)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the writers' load → CAS steps
    try:
        [x.start() for x in threads]
        [x.join(timeout=60) for x in threads]
    finally:
        sys.setswitchinterval(switch)
    assert not any(x.is_alive() for x in threads)
    assert not errs
    meta = LakeTable.load(tmp_table_dir).meta
    assert meta.properties == {f"w{i}.k{j}": str(j) for i in range(4) for j in range(5)}
    assert meta.version == 20
