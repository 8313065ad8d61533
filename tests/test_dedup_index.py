"""Incremental MinHash-LSH near-dup index (derived.DedupIndex): maintained
per CDC commit at O(commit footprint), differential-tested equal to the
batch operator (operators/textdedup.minhash_lsh_pairs) over the fact
snapshot — through inserts, updates, CDC deletes, and replays."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from etl_spark.derived import DedupIndex
from etl_spark.lake.table import TOMBSTONE_COL, SnapshotTable
from etl_spark.operators.textdedup import minhash_lsh_pairs

SCHEMA = "repo string, path string, lsn long, content string"
BASE = "the quick brown fox jumps over the lazy dog again and again ok"

WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _mk(spark, root, **kw):
    fact = SnapshotTable(spark, f"{root}/fact", n_buckets=4, order_col="lsn")
    idx = DedupIndex(spark, fact, f"{root}/idx", n_buckets=4, **kw)
    return fact, idx


def _batch_pairs(fact):
    final = fact.read().withColumn("doc_id", F.concat_ws(":", "repo", "path"))
    return sorted(tuple(r) for r in minhash_lsh_pairs(
        final, text_col="content", id_col="doc_id",
        num_hashes=DedupIndex.NUM_HASHES, band_size=DedupIndex.BAND_SIZE,
        k=DedupIndex.SHINGLE_K, verify_threshold=0.5,
    ).collect())


def _inc_pairs(idx):
    return sorted(tuple(r) for r in idx.pairs_full().collect())


def test_index_equals_batch_through_update_and_delete(spark, tmpdir_path):
    fact, idx = _mk(spark, tmpdir_path, detect_pairs=True)
    c0 = fact.merge_epochs(spark.createDataFrame([
        ("r1", "a.py", 1, BASE + " v1"),
        ("r1", "b.py", 2, BASE + " v2"),
        ("r2", "c.py", 3, "completely different content with unique words"),
    ], SCHEMA), [0])
    r0 = idx.update_for_commit(c0)
    assert r0["new_pairs"] == 1  # (a, b)
    c1 = fact.merge_epochs(spark.createDataFrame(
        [("r3", "d.py", 4, BASE + " v3")], SCHEMA), [1])
    r1 = idx.update_for_commit(c1)
    assert r1["new_pairs"] == 2  # d vs a, d vs b — found against the INDEX
    # c changes INTO the family; a is CDC-deleted
    c2 = fact.merge_epochs(spark.createDataFrame(
        [("r2", "c.py", 5, BASE + " v4", False),
         ("r1", "a.py", 6, None, True)],
        SCHEMA + f", {TOMBSTONE_COL} boolean"), [2])
    idx.update_for_commit(c2)
    assert _inc_pairs(idx) == _batch_pairs(fact)
    assert len(_inc_pairs(idx)) == 3  # b-c, b-d, c-d


def test_maintenance_replay_is_idempotent(spark, tmpdir_path):
    fact, idx = _mk(spark, tmpdir_path)
    c0 = fact.merge_epochs(spark.createDataFrame(
        [("r1", "a.py", 1, BASE), ("r1", "b.py", 2, BASE + " x")], SCHEMA), [0])
    first = idx.update_for_commit(c0)
    assert not first["bands"].get("skipped")
    v_bands, v_sigs = idx.bands.current_version(), idx.sigs.current_version()
    again = idx.update_for_commit(c0)
    assert again.get("skipped")  # the offset is already past c0
    assert idx.bands.current_version() == v_bands
    assert idx.sigs.current_version() == v_sigs
    assert _inc_pairs(idx) == _batch_pairs(fact)


def test_index_differential_randomized_lifecycle(spark, tmpdir_path):
    # randomized epochs of inserts/updates/deletes over a small doc pool —
    # after every epoch the index must equal the batch recompute
    rng = random.Random(41)
    fact, idx = _mk(spark, tmpdir_path)
    pool = [(f"r{i % 3}", f"f{i}.py") for i in range(10)]
    alive: set = set()
    lsn = 0
    for epoch in range(1, 6):
        rows = []
        for _ in range(rng.randint(2, 5)):
            repo, path = rng.choice(pool)
            lsn += 1
            if (repo, path) in alive and rng.random() < 0.3:
                rows.append((repo, path, lsn, None, True))
                alive.discard((repo, path))
            else:
                # near-dup families: half the docs share the BASE text
                if rng.random() < 0.5:
                    text = BASE + f" variant {rng.randint(1, 3)}"
                else:
                    text = " ".join(rng.choice(WORDS) for _ in range(12))
                rows.append((repo, path, lsn, text, False))
                alive.add((repo, path))
        dedup: dict = {}
        for row in rows:
            dedup[(row[0], row[1])] = row
        c = fact.merge_epochs(
            spark.createDataFrame(list(dedup.values()),
                                  SCHEMA + f", {TOMBSTONE_COL} boolean"),
            [epoch],
        )
        idx.update_for_commit(c)
        assert _inc_pairs(idx) == _batch_pairs(fact), f"drift at epoch {epoch}"


def test_refresh_full_equals_incremental(spark, tmpdir_path):
    # bootstrap an index LATE (table predates it), refresh_full, then keep
    # maintaining incrementally — and separately repair a diverged index
    fact, idx = _mk(spark, tmpdir_path)
    fact.merge_epochs(spark.createDataFrame([
        ("r1", "a.py", 1, BASE + " v1"),
        ("r1", "b.py", 2, BASE + " v2"),
    ], SCHEMA), [0])
    c1 = fact.merge_epochs(spark.createDataFrame(
        [("r3", "d.py", 3, BASE + " v3")], SCHEMA), [1])
    idx.refresh_full()  # catches up epochs 0+1 in one shot
    assert _inc_pairs(idx) == _batch_pairs(fact)
    # incremental continues from the refreshed state: delete b
    c2 = fact.merge_epochs(spark.createDataFrame(
        [("r1", "b.py", 4, None, True)],
        SCHEMA + f", {TOMBSTONE_COL} boolean"), [2])
    idx.update_for_commit(c2)
    assert _inc_pairs(idx) == _batch_pairs(fact)
    # a second refresh on the SAME state is a no-op for the visible pairs
    idx.refresh_full()
    assert _inc_pairs(idx) == _batch_pairs(fact)
    assert idx.bands.fsck()["ok"] and idx.sigs.fsck()["ok"]


def test_short_docs_index_like_the_batch_path(spark, tmpdir_path):
    # a sub-shingle-width doc shingles to its whole token string (same rule
    # as the batch operator), so it IS indexed and the differential holds
    fact, idx = _mk(spark, tmpdir_path)
    c0 = fact.merge_epochs(spark.createDataFrame(
        [("r1", "tiny.py", 1, "ab"), ("r1", "b.py", 2, BASE)], SCHEMA), [0])
    idx.update_for_commit(c0)
    n_bands = DedupIndex.NUM_HASHES // DedupIndex.BAND_SIZE
    assert idx.bands.read().where(
        F.col("path") == "tiny.py"
    ).count() == n_bands
    assert _inc_pairs(idx) == _batch_pairs(fact) == []


def test_new_pairs_found_regardless_of_id_order(spark, tmpdir_path):
    # the EXISTING member's id sorts after the new doc's: the pair must
    # still be reported (regression: only new docs used to sit on the
    # b side of the ida<idb join, so new-vs-existing pairs where the new
    # id sorted first were silently dropped)
    fact, idx = _mk(spark, tmpdir_path, detect_pairs=True)
    c0 = fact.merge_epochs(spark.createDataFrame(
        [("r9", "z.py", 1, BASE + " v1")], SCHEMA), [0])
    assert idx.update_for_commit(c0)["new_pairs"] == 0
    c1 = fact.merge_epochs(spark.createDataFrame(
        [("r0", "a.py", 2, BASE + " v2")], SCHEMA), [1])
    assert idx.update_for_commit(c1)["new_pairs"] == 1
    assert _inc_pairs(idx) == _batch_pairs(fact)


def test_no_pairs_against_superseded_content(spark, tmpdir_path):
    # one commit CDC-deletes x and inserts y ~ x's OLD content: the index
    # still holds x's band rows when pairs are detected (the band merge
    # lands after), but x is touched by the commit, so the report must not
    # pair y against content that no longer exists
    fact, idx = _mk(spark, tmpdir_path, detect_pairs=True)
    c0 = fact.merge_epochs(spark.createDataFrame([
        ("r1", "x.py", 1, BASE + " v1"),
        ("r5", "other.py", 2, "completely different words entirely here"),
    ], SCHEMA), [0])
    idx.update_for_commit(c0)
    c1 = fact.merge_epochs(spark.createDataFrame(
        [("r1", "x.py", 3, None, True),
         ("r2", "y.py", 4, BASE + " v1", False)],
        SCHEMA + f", {TOMBSTONE_COL} boolean"), [1])
    assert idx.update_for_commit(c1)["new_pairs"] == 0
    assert _inc_pairs(idx) == _batch_pairs(fact) == []
    # an UPDATE out of the family while z joins the OLD family: y's stale
    # band rows are equally off-limits
    c2 = fact.merge_epochs(spark.createDataFrame(
        [("r2", "y.py", 5, "now something else entirely unrelated", False),
         ("r0", "z.py", 6, BASE + " v1", False)],
        SCHEMA + f", {TOMBSTONE_COL} boolean"), [2])
    assert idx.update_for_commit(c2)["new_pairs"] == 0
    assert _inc_pairs(idx) == _batch_pairs(fact) == []


def test_catch_up_heals_missed_commit(spark, tmpdir_path):
    # fact commits an epoch, the maintainer "crashes" before updating —
    # replay discovery never re-presents the commit, so catch_up is the
    # only healer
    fact, idx = _mk(spark, tmpdir_path)
    c0 = fact.merge_epochs(spark.createDataFrame(
        [("r1", "a.py", 1, BASE + " v1")], SCHEMA), [0])
    idx.update_for_commit(c0)
    fact.merge_epochs(spark.createDataFrame(
        [("r1", "b.py", 2, BASE + " v2")], SCHEMA), [1])
    assert _inc_pairs(idx) != _batch_pairs(fact)  # diverged
    out = idx.catch_up()
    assert out is not None and not out["bands"].get("skipped")
    assert _inc_pairs(idx) == _batch_pairs(fact)
    assert idx.catch_up() is None  # synced again: manifest reads only


def test_catch_up_bootstraps_on_enable(spark, tmpdir_path):
    # index enabled on a fact table with history: catch_up refresh_fulls
    # under the missed epoch ids
    fact, idx = _mk(spark, tmpdir_path)
    fact.merge_epochs(spark.createDataFrame([
        ("r1", "a.py", 1, BASE + " v1"),
        ("r1", "b.py", 2, BASE + " v2"),
    ], SCHEMA), [0])
    assert idx.catch_up() is not None
    assert _inc_pairs(idx) == _batch_pairs(fact)
    assert idx.catch_up() is None


def test_pipeline_replay_catches_up_enabled_midlife(spark, tmpdir_path):
    # two epochs ingested WITHOUT the index, then a pipeline with the index
    # enabled replays the rest: replay()'s catch_up hook covers the gap
    from etl_spark.datagen import change_stream, write_segments
    from etl_spark.pipeline import IngestPipeline

    root = f"{tmpdir_path}/s"
    write_segments(change_stream(spark, 600, n_repos=5,
                                 events_per_epoch=200, dup_pct=10), root)
    p0 = IngestPipeline(spark, f"{tmpdir_path}/t", n_buckets=4,
                        count_input=False)
    p0.replay(root, max_epoch=1)
    p1 = IngestPipeline(spark, f"{tmpdir_path}/t", n_buckets=4,
                        count_input=False, maintain_dedup_index=True)
    p1.replay(root)
    got = sorted(tuple(r) for r in p1.dedup_index.pairs_full().collect())
    assert got == _batch_pairs(p1.table)


def test_attach_rejects_foreign_layout(spark, tmpdir_path):
    import pytest

    fact, idx = _mk(spark, tmpdir_path)
    # a pre-existing bands table with the wrong order_col must fail loudly
    foreign = SnapshotTable(
        spark, f"{tmpdir_path}/idx2/bands",
        key_cols=("band", "repo", "path"), bucket_cols=("band",),
        order_col="lsn", n_buckets=4,
    )
    foreign.merge_epochs(spark.createDataFrame(
        [("0:x", "r1", "a.py", 1, "c")],
        "band string, repo string, path string, lsn long, content string",
    ), [0])
    with pytest.raises(ValueError, match="ordered by"):
        DedupIndex(spark, fact, f"{tmpdir_path}/idx2", n_buckets=4)
    # and a bands table not prefix-bucketed on band breaks scan_prefixes
    full = SnapshotTable(
        spark, f"{tmpdir_path}/idx3/bands",
        key_cols=("band", "repo", "path"), order_col="as_of_version",
        n_buckets=4,
    )
    full.merge_epochs(spark.createDataFrame(
        [("0:x", "r1", "a.py", 1)],
        "band string, repo string, path string, as_of_version long",
    ), [0])
    with pytest.raises(ValueError, match="prefix bucketing"):
        DedupIndex(spark, fact, f"{tmpdir_path}/idx3", n_buckets=4)


def test_catch_up_heals_out_of_order_miss(spark, tmpdir_path):
    # commit N's update crashed but commit N+1's update ran (direct-API
    # interleaving): N+1's sync starts from the index's offset, so its
    # window spans BOTH commits and the miss is healed on the way
    fact, idx = _mk(spark, tmpdir_path)
    c0 = fact.merge_epochs(spark.createDataFrame(
        [("r1", "a.py", 1, BASE + " v1")], SCHEMA), [0])
    idx.update_for_commit(c0)
    fact.merge_epochs(spark.createDataFrame(          # epoch 1: MISSED
        [("r1", "b.py", 2, BASE + " v2")], SCHEMA), [1])
    c2 = fact.merge_epochs(spark.createDataFrame(     # epoch 2: applied
        [("r2", "c.py", 3, BASE + " v3")], SCHEMA), [2])
    out = idx.update_for_commit(c2)
    assert out["synced_from"] == c0["version"]
    assert _inc_pairs(idx) == _batch_pairs(fact)
    assert idx.bands.applied_epochs() == fact.applied_epochs()
    assert idx.catch_up() is None


def test_interrupted_round_is_finished_before_syncing_on(spark, tmpdir_path):
    # a crash between the band merge and the sig merge of one round leaves
    # the bands table a round ahead; a later change to the SAME doc must
    # not strand the interrupted round's band rows in the index
    import pytest

    fact, idx = _mk(spark, tmpdir_path)
    c0 = fact.merge_epochs(spark.createDataFrame([
        ("r1", "a.py", 1, BASE + " v1"),
        ("r1", "b.py", 2, "completely different words entirely here"),
    ], SCHEMA), [0])
    idx.update_for_commit(c0)
    c1 = fact.merge_epochs(spark.createDataFrame(     # b joins a's family
        [("r1", "b.py", 3, BASE + " v2")], SCHEMA), [1])
    merge_sigs, crashed = idx.sigs.merge_epochs, []

    def crash_once(*a, **kw):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("crash between the two merges")
        return merge_sigs(*a, **kw)

    idx.sigs.merge_epochs = crash_once
    with pytest.raises(RuntimeError, match="between the two merges"):
        idx.update_for_commit(c1)
    assert idx.bands.applied_epochs() == {0, 1}
    assert idx.sigs.applied_epochs() == {0}
    c2 = fact.merge_epochs(spark.createDataFrame(     # and leaves it again
        [("r1", "b.py", 4, "now something else entirely unrelated")],
        SCHEMA), [2])
    idx.update_for_commit(c2)
    assert _inc_pairs(idx) == _batch_pairs(fact) == []
    assert idx.sigs.applied_epochs() == idx.bands.applied_epochs()
    assert idx.catch_up() is None


def test_index_differential_with_random_missed_updates(spark, tmpdir_path):
    # randomized lifecycle where some commits' maintenance "crashes" (the
    # update is skipped) and later commits may still be applied on top of
    # the gap: catch_up at random points must always restore index ==
    # batch recompute. A per-commit update atop a gap is itself consistent
    # (the sigs map is exactly as far behind as the band table), so only
    # the GAP epochs need the healer — that is what this pins.
    rng = random.Random(97)
    fact, idx = _mk(spark, tmpdir_path)
    pool = [(f"r{i % 3}", f"f{i}.py") for i in range(10)]
    alive: set = set()
    lsn = 0
    for epoch in range(1, 7):
        rows: dict = {}
        for _ in range(rng.randint(2, 5)):
            repo, path = rng.choice(pool)
            lsn += 1
            if (repo, path) in alive and rng.random() < 0.3:
                rows[(repo, path)] = (repo, path, lsn, None, True)
                alive.discard((repo, path))
            else:
                if rng.random() < 0.5:
                    text = BASE + f" variant {rng.randint(1, 3)}"
                else:
                    text = " ".join(rng.choice(WORDS) for _ in range(12))
                rows[(repo, path)] = (repo, path, lsn, text, False)
                alive.add((repo, path))
        c = fact.merge_epochs(
            spark.createDataFrame(list(rows.values()),
                                  SCHEMA + f", {TOMBSTONE_COL} boolean"),
            [epoch],
        )
        if rng.random() < 0.4:
            pass  # crash window: fact committed, maintenance never ran
        else:
            idx.update_for_commit(c)
        if rng.random() < 0.5 or epoch == 6:
            idx.catch_up()
            assert _inc_pairs(idx) == _batch_pairs(fact), \
                f"drift at epoch {epoch}"
    assert idx.catch_up() is None
