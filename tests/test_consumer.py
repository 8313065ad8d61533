"""The shared change-feed consumer contract: every consumer of a fact table
(clean corpus, rollup, near-dup index, mirror) detects a fact rollback from
its own offset and rebuilds, whichever entry point runs the sync."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_spark.derived import CleanCorpus, DedupIndex, RepoRollup
from etl_spark.lake.table import SnapshotTable
from etl_spark.operators.textdedup import minhash_lsh_pairs
from etl_spark.replicate import Mirror

SCHEMA = "repo string, path string, commit string, lang string, " \
         "content string, epoch long"
BASE = "the quick brown fox jumps over the lazy dog again and again ok"


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _batch_pairs(fact):
    final = fact.read().withColumn("doc_id", F.concat_ws(":", "repo", "path"))
    return sorted(tuple(r) for r in minhash_lsh_pairs(
        final, text_col="content", id_col="doc_id",
        num_hashes=DedupIndex.NUM_HASHES, band_size=DedupIndex.BAND_SIZE,
        k=DedupIndex.SHINGLE_K, verify_threshold=0.5,
    ).collect())


def _setup(spark, root):
    """Fact epochs 0 and 1 with every consumer in sync; epoch 1 writes the
    'bad' a.py, a near-dup of b.py."""
    fact = SnapshotTable(spark, f"{root}/fact", n_buckets=4)
    derived = [
        CleanCorpus(spark, fact, f"{root}/clean", n_buckets=4),
        RepoRollup(spark, fact, f"{root}/rollup", n_buckets=4),
        DedupIndex(spark, fact, f"{root}/dedup", n_buckets=4),
    ]
    mirror = Mirror(spark, fact, f"{root}/mirror", n_buckets=2)
    for epoch, rows in enumerate([
        [("r1", "a.py", "c000000000001", "python", "print('v0')", 0),
         ("r1", "b.py", "c000000000001", "python", BASE, 0)],
        [("r1", "a.py", "c000000000002", "python",
          BASE + " print('v1 BAD')", 1)],
    ]):
        c = fact.merge_epochs(_rows(spark, rows), [epoch])
        for d in derived:
            d.update_for_commit(c)
        mirror.sync()
    return fact, derived, mirror


def _fix_epoch_1(spark, fact):
    """Roll back to epoch 0's version and re-merge epoch 1 with different
    content under the SAME commit value and epoch id."""
    fact.rollback(1)
    return fact.merge_epochs(_rows(spark, [
        ("r1", "a.py", "c000000000002", "python", "print('v1 FIXED')", 1),
    ]), [1])


def _assert_rebuilt(spark, root, fact, derived, mirror):
    clean, rollup, dedup = derived
    for d in (clean, rollup):
        fresh = type(d)(spark, fact, f"{root}/fresh_{d.KIND}", n_buckets=4)
        fresh.refresh_full()
        assert _canon(d.read()) == _canon(fresh.read()), d.KIND
    assert _batch_pairs(fact) == []  # the fixed a.py left b.py's family
    assert sorted(tuple(r) for r in dedup.pairs_full().collect()) == []
    assert dedup.sigs.applied_epochs() == dedup.bands.applied_epochs()
    cols = [c for c in fact.read().columns if c != "epoch"]
    assert _canon(mirror.dst.read().select(*cols)) == \
        _canon(fact.read().select(*cols))
    got = {r.content for r in clean.read().where("path = 'a.py'").collect()}
    assert got == {"print('v1 FIXED')"}
    for d in derived:
        assert d.synced_to_version() == fact.current_version()
        assert d.lag()["synced"]


@pytest.mark.parametrize("entry", ["update_for_commit", "catch_up"])
def test_rollback_resyncs_every_consumer(spark, tmpdir_path, entry):
    fact, derived, mirror = _setup(spark, tmpdir_path)
    c = _fix_epoch_1(spark, fact)
    for d in derived:
        out = d.update_for_commit(c) if entry == "update_for_commit" \
            else d.catch_up()
        assert out["full_resync"] == "rollback_in_window"
    assert mirror.sync()["full_resync"] == "rollback_in_window"
    _assert_rebuilt(spark, tmpdir_path, fact, derived, mirror)


def test_rollback_counter_outlives_the_rollback_snapshot(spark, tmpdir_path):
    """The rollback's own snapshot (its rollback_of marker) is expired
    before the consumers sync, and the same ids were re-applied, so the
    applied sets match: only the durable rollbacks counter, carried into
    every later manifest, still shows the rollback."""
    fact, derived, mirror = _setup(spark, tmpdir_path)
    offset = fact.current_version()
    fact.tag("consumers", offset)  # keep the consumers' offset readable
    _fix_epoch_1(spark, fact)
    expired = fact.expire_snapshots(retain_last=1)
    assert offset + 1 in expired  # the rollback snapshot is gone
    assert mirror.sync()["full_resync"] == "rollback_in_window"
    for d in derived:
        assert d.lag()["resync"] == "rollback_in_window"
        assert d.catch_up()["full_resync"] == "rollback_in_window"
    _assert_rebuilt(spark, tmpdir_path, fact, derived, mirror)


def _assert_like_rebuild(spark, root, fact, derived):
    clean, rollup, dedup = derived
    for d in (clean, rollup):
        fresh = type(d)(spark, fact, f"{root}/fresh_{d.KIND}", n_buckets=4)
        fresh.refresh_full()
        assert _canon(d.read()) == _canon(fresh.read()), d.KIND
        assert d.table.applied_epochs() == fact.applied_epochs()
    assert sorted(tuple(r) for r in dedup.pairs_full().collect()) == \
        _batch_pairs(fact)
    assert dedup.sigs.applied_epochs() == dedup.bands.applied_epochs() \
        == fact.applied_epochs()


@pytest.mark.parametrize("which", ["clean", "rollup", "sigs", "bands"])
def test_derived_table_rollback_is_resynced(spark, tmpdir_path, which):
    """A rollback of a derived table ITSELF restores an older offset with
    the older rows: the next sync merges the undone window again instead
    of reading the undone round's offset and calling the table current."""
    fact, derived, _ = _setup(spark, tmpdir_path)
    clean, rollup, dedup = derived
    t = {"clean": clean.table, "rollup": rollup.table,
         "sigs": dedup.sigs, "bands": dedup.bands}[which]
    t.rollback(t.current_version() - 1)
    assert t.applied_epochs() == {0}
    for d in derived:
        d.catch_up()
        assert d.synced_to_version() == fact.current_version()
    _assert_like_rebuild(spark, tmpdir_path, fact, derived)
    assert {r.content for r in clean.read().where("path = 'a.py'").collect()} \
        == {BASE + " print('v1 BAD')"}


def test_maintenance_window_past_an_expired_offset(spark, tmpdir_path):
    """A fact compaction followed by expiry of every older snapshot removes
    the derived tables' offset snapshot, but no row changed: the retained
    compaction snapshot (same applied ids, same rollbacks counter) stands
    in for it, so nothing is rebuilt — then or after the next epoch."""
    fact, derived, _ = _setup(spark, tmpdir_path)
    offset = fact.current_version()
    fact.compact(above=0)
    assert fact.expire_snapshots(retain_last=1)[-1] == offset
    for d in derived:
        assert d.lag()["synced"] and "resync" not in d.lag()
        assert d.catch_up() is None
    c = fact.merge_epochs(_rows(spark, [
        ("r1", "c.py", "c000000000003", "python", BASE + " and more", 2),
    ]), [2])
    for d in derived:
        out = d.update_for_commit(c)
        assert "full_resync" not in out and out["synced_from"] == offset + 1
    _assert_like_rebuild(spark, tmpdir_path, fact, derived)
