"""Derived rollup table: incremental maintenance == full recompute (the
reference's stage-2 construct pattern, SURVEY §3.3)."""

from __future__ import annotations

import pytest

from etl_spark.datagen import change_stream, write_segments
from etl_spark.derived import RepoRollup, rollup_expr
from etl_spark.pipeline import IngestPipeline


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dstream") / "changes")
    df = change_stream(spark, 4000, n_repos=15, paths_per_repo=30,
                       events_per_epoch=1000, dup_pct=5)
    write_segments(df, root)
    return root


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_incremental_rollup_equals_full(spark, stream, tmpdir_path):
    pipe = IngestPipeline(spark, f"{tmpdir_path}/t", n_buckets=8)
    roll = RepoRollup(spark, pipe.table, f"{tmpdir_path}/rollup", n_buckets=4)
    for st in pipe.replay(stream):
        out = roll.update_for_commit(st.commit)
        assert not out.get("skipped")
    # independent full recompute into a fresh rollup table
    full = RepoRollup(spark, pipe.table, f"{tmpdir_path}/rollup_full", n_buckets=4)
    full.refresh_full()
    assert _canon(roll.read()) == _canon(full.read())
    n_repos = pipe.table.read().select("repo").distinct().count()
    assert roll.read().count() == n_repos


def test_rollup_idempotent_per_commit(spark, stream, tmpdir_path):
    pipe = IngestPipeline(spark, f"{tmpdir_path}/t2", n_buckets=8)
    roll = RepoRollup(spark, pipe.table, f"{tmpdir_path}/r2", n_buckets=4)
    stats = pipe.replay(stream)
    for st in stats:
        roll.update_for_commit(st.commit)
    v = roll.table.current_version()
    # replaying the same commit's maintenance is a no-op
    out = roll.update_for_commit(stats[-1].commit)
    assert out.get("skipped")
    assert roll.table.current_version() == v


def test_rollup_values(spark, stream, tmpdir_path):
    pipe = IngestPipeline(spark, f"{tmpdir_path}/t3", n_buckets=8)
    pipe.replay(stream, mode="catchup")
    final = pipe.table.read()
    got = rollup_expr(final).collect()
    one = got[0]
    rows = final.where(final.repo == one["repo"])
    assert one["n_files"] == rows.count()
    assert one["last_commit"] == rows.agg({"commit": "max"}).collect()[0][0]


def test_refresh_full_tombstones_fully_deleted_repos(spark, tmpdir_path):
    """Repair path parity under deletes: a repo whose EVERY fact row was
    tombstoned must disappear from refresh_full's result exactly as the
    incremental `gone` branch would remove it — otherwise repair leaves
    zombie rollups."""
    from pyspark.sql import functions as F

    from etl_spark.lake.table import SnapshotTable

    t = SnapshotTable(spark, f"{tmpdir_path}/t", n_buckets=4)
    df = spark.createDataFrame(
        [("r1", "a", "c000000000001", "python", "xx"),
         ("r2", "b", "c000000000001", "python", "yy")],
        "repo string, path string, commit string, lang string, content string",
    )
    t.merge_epoch(df, 0)
    roll = RepoRollup(spark, t, f"{tmpdir_path}/roll", n_buckets=4)
    roll.refresh_full()
    assert {r.repo for r in roll.read().collect()} == {"r1", "r2"}
    # tombstone r1's only row, then REPAIR (not incremental maintenance)
    t.delete_epochs(
        spark.createDataFrame([("r1", "a", "c000000000002")],
                              "repo string, path string, commit string"),
        [1],
    )
    roll.refresh_full()
    assert {r.repo for r in roll.read().collect()} == {"r2"}


def test_rollup_rejects_foreign_order_col(spark, tmpdir_path):
    """Attaching RepoRollup to a table persisted under a different ordering
    must fail loudly — adopted order_col would make as_of_version inert and
    `gone` tombstones (no last_commit) would never win latest-wins."""
    from etl_spark.lake.table import SnapshotTable

    legacy = SnapshotTable(spark, f"{tmpdir_path}/legacy",
                           key_cols=("repo",), order_col="last_commit",
                           n_buckets=4)
    legacy.merge_epoch(
        spark.createDataFrame([("r1", "c000000000001")],
                              "repo string, last_commit string"), 0)
    fact = SnapshotTable(spark, f"{tmpdir_path}/fact", n_buckets=4)
    with pytest.raises(ValueError, match="as_of_version"):
        RepoRollup(spark, fact, f"{tmpdir_path}/legacy", n_buckets=4)


# --- clean corpus (CDC x prep) -------------------------------------------------

def test_clean_corpus_incremental_equals_full(spark, stream, tmpdir_path):
    from etl_spark.derived import CleanCorpus

    pipe = IngestPipeline(spark, f"{tmpdir_path}/cc_t", n_buckets=8)
    cc = CleanCorpus(spark, pipe.table, f"{tmpdir_path}/cc", n_buckets=4)
    for st in pipe.replay(stream):
        out = cc.update_for_commit(st.commit)
        assert not out.get("skipped")
    full = CleanCorpus(spark, pipe.table, f"{tmpdir_path}/cc_full", n_buckets=4)
    full.refresh_full()
    assert _canon(cc.read()) == _canon(full.read())
    # the repetition gate actually discriminates on this corpus
    n_clean = cc.read().count()
    n_all = pipe.table.read().count()
    assert 0 < n_clean < n_all


def test_clean_corpus_handles_deletes(spark, tmpdir_path):
    from etl_spark.datagen import change_stream, write_segments
    from etl_spark.derived import CleanCorpus

    root = f"{tmpdir_path}/cc_del_stream"
    df = change_stream(spark, 3000, n_repos=10, paths_per_repo=20,
                       events_per_epoch=1000, dup_pct=5, delete_pct=10)
    write_segments(df, root)
    pipe = IngestPipeline(spark, f"{tmpdir_path}/cc_del_t", n_buckets=8)
    cc = CleanCorpus(spark, pipe.table, f"{tmpdir_path}/cc_del", n_buckets=4)
    for st in pipe.replay(root):
        cc.update_for_commit(st.commit)
    full = CleanCorpus(spark, pipe.table, f"{tmpdir_path}/cc_del_full", n_buckets=4)
    full.refresh_full()
    assert _canon(cc.read()) == _canon(full.read())
    # no clean row may survive for a key deleted in the fact table
    fact_keys = {(r["repo"], r["path"]) for r in
                 pipe.table.read().select("repo", "path").collect()}
    for r in cc.read().select("repo", "path").collect():
        assert (r["repo"], r["path"]) in fact_keys


def test_clean_corpus_idempotent_per_commit(spark, stream, tmpdir_path):
    from etl_spark.derived import CleanCorpus

    pipe = IngestPipeline(spark, f"{tmpdir_path}/cc_t2", n_buckets=8)
    cc = CleanCorpus(spark, pipe.table, f"{tmpdir_path}/cc2", n_buckets=4)
    stats = pipe.replay(stream)
    for st in stats:
        cc.update_for_commit(st.commit)
    v = cc.table.current_version()
    out = cc.update_for_commit(stats[-1].commit)
    assert out.get("skipped")
    assert cc.table.current_version() == v


def test_clean_corpus_values(spark, stream, tmpdir_path):
    from etl_spark.derived import CleanCorpus, clean_corpus_expr
    from etl_spark.functions.content import dup_token_frac

    pipe = IngestPipeline(spark, f"{tmpdir_path}/cc_t3", n_buckets=8)
    pipe.replay(stream, mode="catchup")
    final = pipe.table.read()
    got = clean_corpus_expr(final)
    # gate honored
    assert got.count() == final.where(dup_token_frac("content") <= 0.5).count()
    one = got.limit(1).collect()[0]
    assert one["n_tokens"] > 0
    assert len(one["content_sha256"]) == 64


def test_clean_corpus_feeds_the_prep_operators_end_to_end(
    spark, stream, tmpdir_path
):
    """The two halves of the engine interlock: CDC replay maintains the
    clean corpus, and the training-prep operators (stratified sampling,
    mixture weights, sequence packing, vocab stats) run directly on its
    output columns — the production path from a change stream to
    training batches."""
    from pyspark.sql import functions as F

    from etl_spark.derived import CleanCorpus
    from etl_spark.operators.packing import pack_sequences
    from etl_spark.operators.sampling import domain_mixture, stratified_sample
    from etl_spark.operators.vocab import vocab_topk

    pipe = IngestPipeline(spark, f"{tmpdir_path}/tc", n_buckets=8)
    cc = CleanCorpus(spark, pipe.table, f"{tmpdir_path}/clean", n_buckets=4)
    for st in pipe.replay(stream):
        cc.update_for_commit(st.commit)
    corpus = cc.read().withColumn(
        "doc_id", F.xxhash64("repo", "path")  # stable numeric id per key
    )
    n = corpus.count()
    assert n > 0

    sampled = stratified_sample(corpus, quota=25, strata_cols=("lang",),
                                id_col="doc_id")
    per = {r["lang"]: r["count"] for r in
           sampled.groupBy("lang").count().collect()}
    counts = {r["lang"]: r["count"] for r in
              corpus.groupBy("lang").count().collect()}
    for lang, c in per.items():
        assert c <= counts[lang]

    mix = domain_mixture(corpus, alpha=0.3, strata_cols=("lang",),
                         weight_col=F.col("n_tokens"))
    total = sum(r["mix_weight"] for r in mix.collect())
    assert abs(total - 1.0) < 1e-6

    packed = pack_sequences(
        corpus.select("doc_id", "n_tokens"), capacity=256, n_buckets=4
    )
    assert packed.count() == n
    assert packed.where(
        (F.col("seq_offset") < 0) | (F.col("seq_idx") < 0)
    ).count() == 0

    vocab = vocab_topk(corpus, k=5, text_col="content", min_count=2)
    assert vocab.where(F.col("rank") > 5).count() == 0
    assert vocab.count() > 0


def test_derived_catch_up_heals_missed_commit(spark, stream, tmpdir_path):
    """A crash between the fact commit and the derived update leaves the
    maintainer permanently behind (replay discovery runs off fact epochs);
    catch_up detects the epoch gap and re-derives exactly the missed
    commits' keys — for the rollup AND the clean corpus."""
    from etl_spark.derived import CleanCorpus

    pipe = IngestPipeline(spark, f"{tmpdir_path}/cu_t", n_buckets=8)
    roll = RepoRollup(spark, pipe.table, f"{tmpdir_path}/cu_r", n_buckets=4)
    cc = CleanCorpus(spark, pipe.table, f"{tmpdir_path}/cu_c", n_buckets=4)
    stats = pipe.replay(stream)
    assert len(stats) >= 2
    for st in stats[:-1]:  # the last commit's maintenance "crashed"
        roll.update_for_commit(st.commit)
        cc.update_for_commit(st.commit)
    for maint, fresh_root in ((roll, "cu_rf"), (cc, "cu_cf")):
        out = maint.catch_up()
        assert out is not None and not out.get("skipped")
        full = type(maint)(spark, pipe.table,
                           f"{tmpdir_path}/{fresh_root}", n_buckets=4)
        full.refresh_full()
        assert _canon(maint.read()) == _canon(full.read())
        assert maint.catch_up() is None  # synced: manifest reads only


def test_pipeline_replay_heals_derived_gap(spark, stream, tmpdir_path):
    """replay() runs catch_up for active maintainers: a rollup enabled
    mid-life (fact has history) is bootstrapped before new commits apply."""
    p0 = IngestPipeline(spark, f"{tmpdir_path}/ph_t", n_buckets=8)
    p0.replay(stream, max_epoch=1)
    p1 = IngestPipeline(spark, f"{tmpdir_path}/ph_t", n_buckets=8,
                        maintain_rollup=True)
    p1.replay(stream)
    full = RepoRollup(spark, p1.table, f"{tmpdir_path}/ph_rf", n_buckets=4)
    full.refresh_full()
    assert _canon(p1.rollup.read()) == _canon(full.read())


def test_derived_status_report(spark, stream, tmpdir_path):
    """cli status's `derived` section: synced in steady state, flags the
    epoch gap a crashed (or bypassed) maintainer leaves and the resync a
    fact rollback needs, clears after catch_up — manifest reads only."""
    from etl_spark.cli import _derived_status

    pipe = IngestPipeline(spark, f"{tmpdir_path}/st_t", n_buckets=8,
                          maintain_rollup=True)
    pipe.replay(stream)
    st = _derived_status(spark, pipe.table)
    assert st["rollup"]["synced"] and st["rollup"]["missing_epochs"] == 0
    v_before = pipe.table.current_version()
    pipe.table.merge_epochs(spark.createDataFrame(
        [("rX", "pX", "c999999999999", "zz", 99)],
        "repo string, path string, commit string, content string, epoch int",
    ), [99])
    st = _derived_status(spark, pipe.table)
    assert not st["rollup"]["synced"]
    assert st["rollup"]["missing_epochs"] == 1
    assert st["rollup"]["lag_versions"] >= 1
    pipe.rollup.catch_up()
    st = _derived_status(spark, pipe.table)["rollup"]
    assert st["synced"] and st["lag_versions"] == 0
    # rollback past epoch 99: nothing is missing, but the rollup still
    # reflects the rolled-back row until it resyncs
    pipe.table.rollback(v_before)
    st = _derived_status(spark, pipe.table)["rollup"]
    assert not st["synced"] and st["missing_epochs"] == 0
    assert st["resync"] == "applied_set_shrank" and st["lag_versions"] == 1
    assert pipe.rollup.catch_up()["full_resync"] == "applied_set_shrank"
    st = _derived_status(spark, pipe.table)["rollup"]
    assert st["synced"] and st["lag_versions"] == 0
    full = RepoRollup(spark, pipe.table, f"{tmpdir_path}/st_rf", n_buckets=4)
    full.refresh_full()
    assert _canon(pipe.rollup.read()) == _canon(full.read())
