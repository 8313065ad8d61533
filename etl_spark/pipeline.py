"""The end-to-end CDC replay pipeline: tail -> clean -> dedupe -> upsert.

Spark restatement of the reference's incremental-ingest lifecycle
(SURVEY §3.2; create_duckdb_points.py:225-275):

    discover segments            (S1)   sources.discover_segments
    -> skip applied epochs       (F5)   manifest applied-epoch set
    -> read + clean              (F1-F7) JVM exprs, pushdown-friendly
    -> dedupe latest-per-key     (W1)   operators.dedupe.latest_by_key
    -> derive sha256 on winners  (U)    post-dedupe: hash survivors only
    -> MERGE into snapshot table (J2/K3) lake.SnapshotTable.merge_epochs
    -> lineage from written files (S4/K3) checkpoint.CheckpointLog

Hot-path discipline (measured, 8M events):
- **One materialization per batch.** The merge write is the only action that
  evaluates the full rows; lineage is computed afterwards from the (small)
  files that write produced, and the optional applied-count is a
  column-pruned aggregate. An earlier design persisted the deduped frame and
  ran count/lineage/merge against the cache — the cache build materialized
  every payload byte once more and was ~10x slower at 32 cores.
- **Hash after dedupe.** content_sha256 runs on the winners (|keys| rows),
  not the raw stream (|events| rows) — at 1% update ratios that is 100x less
  hashing, and the result is identical because sha is a pure derivation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.checkpoint import CheckpointLog
from etl_spark.metrics import MetricsSink
from etl_spark.functions.content import content_sha256, normalize_lang
from etl_spark.lake.table import TOMBSTONE_COL, SnapshotTable
from etl_spark.operators.dedupe import (
    choose_dedupe_strategy,
    latest_by_key,
    latest_by_key_salted,
    latest_by_key_window,
)
from etl_spark.sources.segments import Segment, pending_segments

COMMIT_RE = r"^c\d{12}$"


def clean_events(raw: DataFrame) -> DataFrame:
    """Validity filters + lang normalization — all JVM-side, pushdown-friendly.

    Analog of the reference's clean stage (F1 sentinel, F2 key validity,
    F6 casts, F7 null guard; create_duckdb_points.py:141-158):
    - drop rows with null/empty key or content (F7)
    - commit must be a well-formed monotone LSN string (F2)
    - normalize lang (F3/F6 analog)
    Derivations over content (sha256) belong AFTER dedupe — see
    ``derive_content_columns``.

    Streams carrying a WAL-style ``op`` column ('u' upsert / 'd' delete) are
    folded into the lake layer's tombstone flag here: a delete record
    legitimately carries NULL payload (content/lang), so the content
    null-guard applies to upserts only, and ``op`` becomes the boolean
    ``_deleted`` column that SnapshotTable's latest-wins merge arbitrates
    like any other change (a stale upsert cannot resurrect a deleted key;
    a newer upsert re-creates it). Rows with a malformed op are dropped;
    a NULL op means UPSERT — when the op column is introduced mid-history
    (the additive evolution mergeSchema supports), segments written before
    it read back with op=NULL, and dropping them would silently lose all
    pre-op data on a catch-up replay spanning the boundary.
    """
    has_op = "op" in raw.columns
    if has_op:
        raw = (
            raw.withColumn("op", F.coalesce(F.col("op"), F.lit("u")))
            .where(F.col("op").isin("u", "d"))
            .withColumn(TOMBSTONE_COL, F.col("op") == "d")
            .drop("op")
        )
    content_ok = (
        (F.col(TOMBSTONE_COL) | F.col("content").isNotNull())
        if has_op
        else F.col("content").isNotNull()
    )
    df = (
        raw.where(
            F.col("repo").isNotNull()
            & (F.col("repo") != "")
            & F.col("path").isNotNull()
            & (F.col("path") != "")
            & content_ok
        )
        .where(F.col("commit").rlike(COMMIT_RE))
    )
    if has_op:
        # keep payload NULL on tombstones (normalize_lang(NULL) -> 'unknown')
        return df.withColumn(
            "lang",
            F.when(F.col(TOMBSTONE_COL), F.lit(None).cast("string")).otherwise(
                normalize_lang("lang")
            ),
        )
    return df.withColumn("lang", normalize_lang("lang"))


def derive_content_columns(df: DataFrame) -> DataFrame:
    """Vectorized content derivations (input_hint's sha256 invariant).

    Applied to deduped winners so the hash cost scales with |keys|, not
    |events| (generalizes the reference's EPOCH(ts) derived column, F6).
    """
    return df.withColumn("content_sha256", content_sha256("content")).withColumn(
        "content_bytes", F.octet_length("content").cast("long")
    )


@dataclass
class EpochStats:
    epoch: int
    events_read: int = 0
    events_applied: int = 0
    seconds: float = 0.0
    skipped: bool = False
    commit: dict[str, Any] = field(default_factory=dict)
    extra: dict[str, Any] = field(default_factory=dict)

    def as_dict(self) -> dict[str, Any]:
        return {
            "epoch": self.epoch,
            "events_read": self.events_read,
            "events_applied": self.events_applied,
            "seconds": round(self.seconds, 3),
            "events_per_sec": round(self.events_read / self.seconds, 1)
            if self.seconds > 0
            else None,
            "skipped": self.skipped,
            **self.extra,
        }


class IngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        *,
        key_cols: tuple[str, ...] = ("repo", "path"),
        order_col: str = "commit",
        n_buckets: int = 32,
        target_file_rows: int = 1_000_000,
        max_files_per_bucket: int = 16,
        count_input: bool = True,
        dedupe_strategy: str = "fused",
        maintain_rollup: bool = False,
        maintain_clean_corpus: bool = False,
        maintain_dedup_index: bool = False,
        merge_mode: str | None = None,
        compact_after_commit: str | None = None,
        rewrite_probe: str | None = None,
    ) -> None:
        """``dedupe_strategy``: ``fused`` (default; dedupe + bucket
        arrangement in ONE payload shuffle — the window over the write
        bucket, SnapshotTable.arranged_updates — so the staging write adds
        no further exchange), ``maxby`` (map-side partial agg, skew-immune —
        a mega-key costs O(partitions)), ``window`` (full shuffle + per-key
        sort), ``salted`` (explicit two-phase reduce for known mega-key
        skew, SURVEY P3), or ``auto`` (sampled skew probe picks fused vs
        salted). All strategies are differential-tested equal.
        """
        self.spark = spark
        self.table = SnapshotTable(
            spark, table_root, key_cols=key_cols, order_col=order_col,
            n_buckets=n_buckets, target_file_rows=target_file_rows,
            max_files_per_bucket=max_files_per_bucket, merge_mode=merge_mode,
            compact_after_commit=compact_after_commit,
            rewrite_probe=rewrite_probe,
        )
        self.log = CheckpointLog(spark, f"{table_root}/_checkpoint")
        self.metrics = MetricsSink(table_root)
        self.count_input = count_input
        self.rollup = None
        if maintain_rollup:
            from etl_spark.derived import RepoRollup

            self.rollup = RepoRollup(
                spark, self.table, f"{table_root}/_rollup",
                n_buckets=max(4, n_buckets // 4),
            )
        self.clean_corpus = None
        if maintain_clean_corpus:
            from etl_spark.derived import CleanCorpus

            self.clean_corpus = CleanCorpus(
                spark, self.table, f"{table_root}/_clean",
                n_buckets=max(4, n_buckets // 4),
            )
        self.dedup_index = None
        if maintain_dedup_index:
            from etl_spark.derived import DedupIndex

            self.dedup_index = DedupIndex(
                spark, self.table, f"{table_root}/_dedup",
                n_buckets=max(4, n_buckets // 4), detect_pairs=True,
            )
        if dedupe_strategy not in ("fused", "maxby", "window", "salted", "auto"):
            raise ValueError(f"unknown dedupe_strategy {dedupe_strategy!r}")
        self._dedupe_strategy = dedupe_strategy

    def dedupe_plan(self, cleaned: DataFrame) -> tuple[str, DataFrame]:
        """Latest-per-key winners under the configured strategy.

        ``fused`` returns the bucket-arranged single-shuffle plan (the merge
        detects the ``_bucket`` column and skips its own arrangement);
        ``auto`` runs a sampled skew probe (SURVEY P3) and picks ``salted``
        for mega-key streams (fused has no map-side combine, so a single
        key with millions of duplicates would straggle one reducer) and
        ``fused`` otherwise.
        """
        strategy = self._dedupe_strategy
        if strategy == "auto":
            strategy = choose_dedupe_strategy(cleaned, self.table.key_cols)
            if strategy == "maxby":
                strategy = "fused"
        if strategy == "fused":
            return strategy, self.table.arranged_updates(
                cleaned, size_bytes=getattr(self, "_batch_bytes", None)
            )
        fn = {
            "maxby": latest_by_key,
            "window": latest_by_key_window,
            "salted": latest_by_key_salted,
        }[strategy]
        return strategy, fn(
            cleaned, keys=self.table.key_cols, order_col=self.table.order_col
        )

    # ---- shared batch core ---------------------------------------------------

    def _read_segments(self, segments: list[Segment]) -> DataFrame:
        """Read segment dirs with basePath so the ``epoch`` partition column
        survives — it flows through dedupe into per-epoch lineage and into the
        table as row-level provenance. mergeSchema: a catch-up batch may span
        the binlog position where an additive column first appears; without
        footer merging Spark samples one file's schema and silently drops the
        new column for the whole batch.

        Scan splits are RIGHT-SIZED to the batch: the default 128 MB
        maxPartitionBytes gives a medium catch-up batch (say 1.2 GB) only ~10
        scan tasks — on 8+ cores that is two ragged waves and the map stage
        runs half-idle, which measurably caps N->4N scaling. Segment bytes
        are already known from the driver-side listing (O(#segment files),
        the pending delta only — never the table), so the split size is set
        to keep at least ~4 waves-worth of tasks per core, floored at 8 MB
        so tiny batches don't fragment into per-row tasks."""
        total = 0
        for s in segments:
            for p in Path(s.path).glob("*.parquet"):
                total += p.stat().st_size
        # remembered so dedupe_plan / merge can right-size their staging
        # exchange the same way the scan splits are right-sized below
        self._batch_bytes = total
        par = max(1, self.spark.sparkContext.defaultParallelism)
        # floor 8 MB: a mid-size batch on a wide cluster is floor-bound
        # (measured: ~1.5 GB catch-up at 32 cores under the old 16 MB floor
        # -> 87 scan tasks = 2.7 ragged waves; 8 MB gives ~4+ uniform waves)
        split = min(128 << 20, max(8 << 20, total // (4 * par)))
        # session conf is global: stash the previous split size so
        # _apply_batch can restore it once the batch is materialized —
        # otherwise a KB-sized delta leaves an 8 MB split behind for every
        # FULL-table scan that follows (rollup maintenance, driver queries)
        self._prev_split = self.spark.conf.get(
            "spark.sql.files.maxPartitionBytes", None
        )
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        base = os.path.dirname(segments[0].path)
        return (
            self.spark.read.option("basePath", base)
            .option("mergeSchema", "true")
            .parquet(*[s.path for s in segments])
        )

    def _apply_batch(
        self, segments: list[Segment], *, mode: str,
        stage_as: str | None = None,
    ) -> EpochStats:
        """Clean + dedupe + merge one batch of segments in a single commit."""
        t0 = time.time()
        stats = EpochStats(epoch=segments[-1].epoch)
        raw = self._read_segments(segments)
        try:
            strategy, winners = self.dedupe_plan(clean_events(raw))
            # content derivations AFTER dedupe: sha cost scales with |keys|,
            # and under the fused plan they stay in the post-shuffle stage
            deduped = derive_content_columns(winners)
            commit = self.table.merge_epochs(
                deduped,
                [s.epoch for s in segments],
                extra_summary={"segments": len(segments), "mode": mode,
                               "dedupe": strategy},
                assume_deduped=True,  # dedupe_fn guarantees one row per key
                size_hint=getattr(self, "_batch_bytes", None),
                stage_as=stage_as,
            )
        finally:
            # the merge is the batch's one materialization — restore the
            # session-wide split size before anything scans the FULL table
            # (rollup maintenance below, driver queries after). In a finally
            # so a failed merge (LayoutDriftError, exhausted lost-commit
            # retries) cannot leak an 8 MB split into the shared session.
            prev_split = getattr(self, "_prev_split", None)
            if prev_split is not None:
                self.spark.conf.set(
                    "spark.sql.files.maxPartitionBytes", prev_split
                )
            else:
                self.spark.conf.unset("spark.sql.files.maxPartitionBytes")
        stats.commit = commit
        if commit.get("staged"):
            # unpublished WAP commit: nothing is visible yet, so lineage and
            # derived maintenance must NOT run — after publish_staged, the
            # next replay()'s healers cover both (_backfill_log rebuilds
            # lineage from row-level provenance; each maintainer's
            # catch_up() syncs over the published commit)
            stats.events_applied = commit.get("staged_rows") or 0
            stats.extra["staged"] = commit["staged"]
            stats.seconds = time.time() - t0
            return stats
        if not commit.get("skipped"):
            self._log_lineage(commit)
            # stage-2 derived tables, each synced up to this commit (a lag
            # of one): exactly the keys in the commit's change feed are
            # recomputed (SURVEY §3.3 / P2)
            if self.clean_corpus is not None:
                self.clean_corpus.update_for_commit(commit)
            if self.rollup is not None:
                self.rollup.update_for_commit(commit)
            if self.dedup_index is not None:
                # per-commit new-pair report under _dedup/pairs/asof=<version>
                idx_stats = self.dedup_index.update_for_commit(commit)
                if "new_pairs" in idx_stats:
                    stats.extra["near_dup_pairs"] = idx_stats["new_pairs"]
            # applied count falls out of the merge's staged-file footers —
            # no extra Spark job
            stats.events_applied = commit.get("staged_rows") or 0
            if self.count_input:
                # column-pruned aggregate — no payload materialization
                stats.events_read = raw.count()
        stats.seconds = time.time() - t0
        if not commit.get("skipped"):
            self.metrics.emit(
                {
                    "mode": mode,
                    "epochs": commit["epochs"],
                    "version": commit.get("version"),
                    "rows_written": commit.get("rows_written"),
                    "buckets_rewritten": len(commit.get("rewritten_buckets", [])),
                    "events_read": stats.events_read or None,
                    "events_applied": stats.events_applied or None,
                    "seconds": round(stats.seconds, 3),
                    "events_per_sec": round(stats.events_read / stats.seconds, 1)
                    if stats.events_read and stats.seconds > 0
                    else None,
                }
            )
        return stats

    def _log_lineage(
        self, commit: dict[str, Any], provenance_offset: int = 0
    ) -> None:
        """Per-(epoch, bucket) lineage for the updates this commit applied.

        Single-epoch commits (the steady-state CDC path and every streaming
        micro-batch) need ZERO extra Spark jobs: per-bucket row counts and
        exact LSN ranges come from the staged files' parquet footers, already
        read by the merge. ``bytes`` on this path is the staged files'
        on-disk size. Multi-epoch catch-up commits fall back to reading back
        the written files (one small, column-pruned job amortized over the
        whole batch), which splits lineage per source epoch.
        """
        epochs = commit.get("epochs") or []
        staged = commit.get("staged_lineage")
        if len(epochs) == 1 and staged is not None and all(
            r["min_lsn"] is not None and r["max_lsn"] is not None
            for r in staged
        ):
            import pandas as pd

            agg: dict[int, list] = {}
            for r in staged:
                a = agg.setdefault(r["bucket"], [None, None, 0, 0])
                if a[0] is None or r["min_lsn"] < a[0]:
                    a[0] = r["min_lsn"]
                if a[1] is None or r["max_lsn"] > a[1]:
                    a[1] = r["max_lsn"]
                a[2] += r["rows"]
                a[3] += r["bytes"]
            ts = time.time()
            pdf = pd.DataFrame(
                [
                    {"epoch": epochs[0], "bucket": b, "min_lsn": a[0],
                     "max_lsn": a[1], "row_count": a[2], "bytes": a[3],
                     "committed_at": ts}
                    for b, a in sorted(agg.items())
                ],
                columns=["epoch", "bucket", "min_lsn", "max_lsn",
                         "row_count", "bytes", "committed_at"],
            )
            if pdf.empty:
                self.log.mark_empty(epochs[0])
            else:
                self.log._write_pandas(pdf, epochs[0])
            return

        new_files = commit.get("new_files") or []
        if new_files:
            schema = self.table.schema()
            df = self.table._read_files(new_files, schema)
            # streaming rows carry provenance epoch = offset + batch id; the
            # log partitions stay keyed by the raw commit ids
            prov = [int(e) + provenance_offset for e in epochs]
            applied = df.where(F.col("epoch").isin(prov))
            if provenance_offset:
                applied = applied.withColumn(
                    "epoch", F.col("epoch") - F.lit(provenance_offset)
                )
            lineage = self.log.lineage_rows_multi(
                applied, self.table._bucket_expr()
            )
            pdf = lineage.toPandas()
            self.log.append_pandas(pdf)
            logged = set(int(e) for e in pdf["epoch"].unique()) if len(pdf) else set()
        else:
            logged = set()
        # epochs whose rows were all superseded within the batch still get a
        # zero-row marker so logged_epochs converges
        for e in epochs:
            if int(e) not in logged:
                self.log.mark_empty(int(e))

    # ---- public API ----------------------------------------------------------

    def apply_epoch(self, segment: Segment) -> EpochStats:
        """Apply one binlog segment exactly once (steady-state CDC path)."""
        if segment.epoch in self.table.applied_epochs():
            stats = EpochStats(epoch=segment.epoch, skipped=True)
            # Heal a crash between manifest commit and log append.
            if segment.epoch not in self.log.logged_epochs():
                self._backfill_log(segment.epoch)
            return stats
        return self._apply_batch([segment], mode="incremental")

    def _backfill_log(self, epoch: int, provenance_offset: int = 0) -> None:
        """Rebuild lineage for a committed epoch from the table's own rows
        (row-level epoch provenance makes the log fully derivable). An epoch
        whose rows were ALL superseded yields zero rows — write the zero-row
        marker partition anyway, or every later replay would re-run this
        full-table scan trying to heal the same epoch forever.

        ``provenance_offset`` heals streaming commits: their rows carry
        provenance ``offset + batch_id`` while the stream log stays keyed by
        the raw batch id (same contract as ``_log_lineage``)."""
        applied = self.table.read().where(
            F.col("epoch") == epoch + provenance_offset
        )
        if provenance_offset:
            applied = applied.withColumn(
                "epoch", F.col("epoch") - F.lit(provenance_offset)
            )
        lineage = self.log.lineage_rows_multi(applied, self.table._bucket_expr())
        pdf = lineage.toPandas()
        if pdf.empty:
            self.log.mark_empty(epoch)
        else:
            self.log.append_pandas(pdf)

    def replay(
        self,
        stream_root: str,
        *,
        max_epoch: int | None = None,
        mode: str = "incremental",
        stage_as: str | None = None,
    ) -> list[EpochStats]:
        """Resume-safe full replay: apply every pending segment in LSN order.

        ``mode="incremental"`` applies one segment per snapshot commit (the
        steady-state CDC path). ``mode="catchup"`` dedupes ALL pending
        segments together and applies them in ONE commit — the bootstrap /
        backlog path: one table rewrite instead of N. Both modes are
        differential-tested to yield identical final state.

        ``stage_as``: write-audit-publish — the (single) commit is parked as
        a staged ref instead of publishing (see
        :meth:`SnapshotTable.merge_epochs`); requires ``mode="catchup"``
        because incremental mode would stage each pending epoch against the
        SAME base snapshot (later epochs couldn't see earlier staged ones).
        Lineage and derived maintenance are deferred to the first replay
        after ``publish_staged`` (their crash healers cover exactly this
        shape: a committed epoch with no lineage/derived update).
        """
        if stage_as is not None and mode != "catchup":
            raise ValueError(
                "stage_as requires mode='catchup': incremental staging "
                "would build every epoch on the same base snapshot"
            )
        # Heal crash-between-manifest-and-log: backfill lineage for epochs the
        # table committed but the log never recorded.
        applied = self.table.applied_epochs()
        logged = self.log.logged_epochs()
        for epoch in sorted(applied - logged):
            self._backfill_log(epoch)
        # Heal crash-between-fact-commit-and-derived-update: pending-segment
        # discovery runs off the FACT epochs, so a commit whose derived
        # update died is never re-presented — each maintainer syncs from
        # its own offset to the fact head (manifest reads only when synced).
        # The same call bootstraps a maintainer newly enabled on a table
        # with history and rebuilds one after a fact rollback.
        for maint in (self.clean_corpus, self.rollup, self.dedup_index):
            if maint is not None:
                maint.catch_up()
        pending = pending_segments(
            stream_root, applied, max_epoch=max_epoch
        )
        if not pending:
            return []
        if mode == "catchup":
            return [
                self._apply_batch(pending, mode="catchup", stage_as=stage_as)
            ]
        return [self._apply_batch([seg], mode="incremental") for seg in pending]
