"""Derived tables — the reference's stage-2 pattern (points -> trajectories).

The reference maintains derived keyed tables incrementally from the cleaned
fact table: construct reads only points newer than the derived watermark and
recomputes exactly the affected keys (SURVEY §3.3;
duckdb_construct_trajs_stops.py:45-126). Three such tables live here — a
per-repo rollup, a clean corpus and a near-dup index — each a
:class:`~etl_spark.consumer.ChangeFeedConsumer` on the one ``sync()``
contract: offset = the fact version it last derived from
(``derived_from_version`` in its own manifest); a rebuild via
``replace_all`` after a fact rollback or offset expiry; otherwise the keys
in ``changes_between(offset, target)`` are recomputed and merged under the
fact's newly applied epoch ids, so maintenance inherits the fact's
exactly-once semantics. Touched keys with no recomputed row (every fact row
CDC-deleted, or the content fails a gate) are tombstoned in the SAME commit.

    repo_rollup(repo, n_files, total_bytes, n_langs, top_lang,
                last_commit, last_epoch)

Every derived table is ordered by ``as_of_version`` — the SOURCE SNAPSHOT
VERSION the row was computed at, not a source column: a CDC DELETE can make
the recomputed ``max(commit)`` drop BELOW the stale rollup's, and the stale
row would win latest-wins.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.consumer import ChangeFeedConsumer, offset_summary
from etl_spark.lake.table import TOMBSTONE_COL, SnapshotTable, _all_applied_epochs
from etl_spark.operators.textdedup import (
    _release_local_checkpoint, minhash_signature_table,
)

OFFSET_MARKER = "derived_from_version"


def rollup_expr(snapshot_rows: DataFrame) -> DataFrame:
    """Per-repo aggregate over (a subset of) the snapshot's current rows."""
    per_lang = (
        snapshot_rows.groupBy("repo", "lang")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    top_lang = (
        per_lang.groupBy("repo")
        .agg(
            F.max_by(
                F.col("lang"), F.struct(F.col("_n"), F.col("lang"))
            ).alias("top_lang"),
            F.count(F.lit(1)).alias("n_langs"),
        )
    )
    aggs = [
        F.count(F.lit(1)).alias("n_files"),
        (
            F.sum(F.coalesce(F.col("content_bytes"), F.octet_length("content")))
            if "content_bytes" in snapshot_rows.columns
            else F.sum(F.octet_length("content"))
        ).alias("total_bytes"),
        F.max("commit").alias("last_commit"),
    ]
    if "epoch" in snapshot_rows.columns:
        aggs.append(F.max("epoch").alias("last_epoch"))
    base = snapshot_rows.groupBy("repo").agg(*aggs)
    return base.join(top_lang, "repo")


def _live(rows: DataFrame) -> DataFrame:
    if TOMBSTONE_COL not in rows.columns:
        return rows
    return rows.where(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))


def _with_gone(updates: DataFrame, keys: DataFrame, as_of: int) -> DataFrame:
    """``updates`` plus a tombstone for each row of ``keys`` (the touched
    keys' prior rows) they no longer produce, all stamped ``as_of`` — one
    row per key, for ONE commit."""
    cols = keys.columns
    gone = keys.join(updates.select(*cols), cols, "left_anti").withColumn(
        TOMBSTONE_COL, F.lit(True)
    )
    return updates.unionByName(gone, allowMissingColumns=True).withColumn(
        "as_of_version", F.lit(as_of).cast("long")
    )


class IncrementalDerived(ChangeFeedConsumer):
    """Shared scaffolding for the derived tables: one SnapshotTable keyed on
    ``KEY_COLS`` and ordered by ``as_of_version``.

    Attach adopts the persisted layout; a table created under another
    ordering would make the invariant silently inert AND break ``gone``
    tombstones (they carry only the keys, so they'd sort last and never
    win). :meth:`_attach` fails loudly instead: rebuild via refresh_full.

    Subclasses define ``KEY_COLS``, ``KIND`` (error messages) and
    ``_recompute`` (derived rows for a set of current source rows).
    """

    KEY_COLS: tuple[str, ...] = ()
    KIND = "derived table"

    def __init__(self, spark: SparkSession, table: SnapshotTable, root: str,
                 n_buckets: int = 16) -> None:
        self.spark = spark
        self.source = table
        self.table = self._attach(root, self.KEY_COLS, n_buckets)

    def _attach(self, root: str, key_cols: tuple[str, ...], n_buckets: int,
                bucket_cols: tuple[str, ...] | None = None) -> SnapshotTable:
        t = SnapshotTable(
            self.spark, root, key_cols=key_cols, bucket_cols=bucket_cols,
            order_col="as_of_version", n_buckets=n_buckets,
        )
        if t.exists() and t.order_col != "as_of_version":
            raise ValueError(
                f"{self.KIND} at {root} is ordered by {t.order_col!r}; this "
                "version maintains derived tables ordered by as_of_version "
                "— rebuild it (refresh_full) into a fresh root"
            )
        if t.exists() and bucket_cols and tuple(t.placement_cols) != bucket_cols:
            # 1-tuple probe keys vs a full-key placement schema would break
            # the scan_prefixes contract
            raise ValueError(
                f"{self.KIND} at {root} places rows by "
                f"{tuple(t.placement_cols)!r}; the inverted index requires "
                f"prefix bucketing on {bucket_cols!r} — rebuild it "
                "(refresh_full) into a fresh root"
            )
        return t

    def _recompute(self, rows: DataFrame, touched: DataFrame | None,
                   version: int) -> DataFrame:
        """Derived rows from ``rows`` — the current source rows (tombstones
        INCLUDED: filter if row-local) of the ``touched`` keys, or of every
        key when ``touched`` is None — as of source ``version``."""
        raise NotImplementedError

    # -- the consumer hooks ------------------------------------------------
    def offset(self) -> int | None:
        return offset_summary(self.table, OFFSET_MARKER).get(OFFSET_MARKER)

    synced_to_version = offset

    def _marks(self, version: int) -> dict[str, Any]:
        """Offset record: fact ``version`` and its ``rollbacks`` counter."""
        m = self.source.manifest(version)
        return {OFFSET_MARKER: version, "source_rollbacks": m.get("rollbacks", 0)}

    def _stand_in(self) -> dict | None:
        """The table's own applied ids are the fact's at the offset: the
        newest retained fact snapshot with those ids and the recorded
        ``rollbacks`` counter holds the same rows (only maintenance between)."""
        rec = offset_summary(self.table, OFFSET_MARKER).get("source_rollbacks")
        want = (self.table.applied_epochs(), rec)
        for v in reversed(self.source.versions()):
            m = self.source.manifest(v)
            if (_all_applied_epochs(m), m.get("rollbacks", 0)) == want:
                return m

    def update_for_commit(self, commit: dict[str, Any]) -> dict[str, Any]:
        """Maintain the table up to one fact commit (a lag-one sync)."""
        return self.sync(commit.get("version"))

    def catch_up(self) -> dict[str, Any] | None:
        """Sync to the fact head; None when there was nothing to do."""
        out = self.sync()
        return None if out.get("skipped") else out

    def _rebuild(self, version, ids, reason):
        rows = self._recompute(self.source.read(version), None, version)
        return self.table.replace_all(
            rows.withColumn("as_of_version", F.lit(version).cast("long")), ids,
            extra_summary={**self._marks(version), "full_resync": reason},
        )

    def _merge(self, feed, ids, version):
        touched = feed.select(*self.KEY_COLS).distinct()
        updates = self._recompute(feed, touched, version)
        return self.table.merge_epochs(
            _with_gone(updates, touched, version), ids,
            extra_summary=self._marks(version), assume_deduped=True,
        )

    def read(self) -> DataFrame:
        return self.table.read().drop("epoch", TOMBSTONE_COL, "as_of_version")


class RepoRollup(IncrementalDerived):
    """Incrementally maintained per-repo rollup of a snapshot table.

    The rollup is a per-key AGGREGATE, so a round's update set is
    recomputed from the SNAPSHOT (semi-joined to the touched repos — small,
    broadcastable), not from the feed rows alone.
    """

    KEY_COLS = ("repo",)
    KIND = "rollup"

    def _recompute(self, rows, touched, version):
        if touched is not None:
            rows = self.source.read(version).join(
                F.broadcast(touched), "repo", "left_semi"
            )
        return rollup_expr(rows)


def explode_lines(rows: DataFrame) -> DataFrame:
    """One row per line of each file version (U4/W2 analog: per-unit explode
    with position, the reference's cell-per-row projection)."""
    return rows.select(
        "repo",
        "path",
        "commit",
        F.posexplode(F.split(F.coalesce(F.col("content"), F.lit("")), "\n")).alias(
            "_pos", "line"
        ),
    ).select(
        "repo", "path", "commit", (F.col("_pos") + 1).cast("long").alias("line_no"), "line"
    )


# --- derived clean corpus (CDC x training-data prep) ---------------------------

def clean_corpus_expr(rows: DataFrame) -> DataFrame:
    """Row-local prep over (a subset of) the snapshot's current rows:
    repetition gate (``dup_token_frac <= 0.5`` kills degenerate docs),
    then derive lang_norm / n_tokens / quality and PII-redact the content.
    Every transform is a scan-fused JVM expression — the incremental
    maintainer's cost is O(rows recomputed), shuffle-free."""
    from etl_spark.functions.content import (
        content_sha256,
        dup_token_frac,
        normalize_lang,
        quality_score,
        redact_pii,
        token_count,
    )

    gated = rows.where(dup_token_frac("content") <= 0.5)
    return gated.select(
        "repo",
        "path",
        "commit",
        normalize_lang("lang").alias("lang"),
        token_count("content").cast("long").alias("n_tokens"),
        quality_score("content").alias("quality"),
        redact_pii("content").alias("content"),
        content_sha256(redact_pii("content")).alias("content_sha256"),
    )


class CleanCorpus(IncrementalDerived):
    """Incrementally maintained CLEAN-CORPUS derived table — the bridge
    between the CDC half of the engine and the training-data prep half.

    The prep is ROW-LOCAL, so unlike the rollup a round's update set needs
    no snapshot re-read at all: every live row of the folded feed IS the
    current row of its key, and the maintainer recomputes the prep on
    exactly those rows — cost O(window footprint). Keys whose current row
    is a CDC tombstone or fails the quality gate fall to the shared
    ``gone`` branch.
    """

    KEY_COLS = ("repo", "path")
    KIND = "clean corpus"

    def _recompute(self, rows, touched, version):
        return clean_corpus_expr(_live(rows))


class DedupIndex(IncrementalDerived):
    """Incrementally maintained MinHash-LSH near-duplicate index —
    dedup-at-ingest for the CDC corpus at O(commit footprint) cost.

    Batch near-dup detection (operators/textdedup.minhash_lsh_pairs) is
    O(corpus) per run; a 100-TB ingest pipeline wants the INDEX maintained
    by the CDC stream itself, so each commit (a) finds which existing docs
    its new content near-duplicates and (b) leaves the index current for
    the next commit — without ever rescanning the corpus. Two self-hosted
    SnapshotTables under ``root``:

    - ``bands``: one row per (band, repo, path) with the doc's full
      signature; keyed on that triple but **prefix-bucketed on ``band``**
      (bucket_cols), so probing an epoch's band keys reads only the probed
      buckets (scan_prefixes) — the inverted-index access path.
    - ``sigs``: one row per (repo, path) holding the doc's current band
      array — the reverse map that makes UPDATES O(1) per doc: a changed
      doc's OLD band rows are found here (bucket-pruned point reads), not
      by scanning the band table.

    A sync round merges the band table FIRST and the sig table second,
    both under the same ids; the offset is read from ``sigs``. A crash
    between the two merges leaves ``bands`` one round ahead: the next sync
    first finishes that round (its band merge is a no-op, the sig table
    still holds the old bands) and only then syncs on. A round:

    1. touched docs = keys in the folded feed (current rows, per the
       CleanCorpus contract); live docs exclude tombstones.
    2. new sigs/bands from live content (md5-derived Carter-Wegman family,
       bit-identical to the batch operator and its DuckDB oracle).
    3. old bands of touched docs from ``sigs``; band rows no longer
       produced are tombstoned in the SAME band-table commit.
    4. new-pair detection (opt-in): probe ``bands`` with the round's band
       keys BEFORE merging (existing members only), plus new-vs-new within
       the round; est_jaccard = agreeing signature fraction >= threshold.

    ``pairs_full()`` (near-dup pairs of the CURRENT corpus from the index
    state) is differential-tested equal to the batch operator over the
    fact snapshot — the invariant that proves the index is maintained
    correctly under updates and CDC deletes.

    Every live doc is indexed — short docs shingle to their whole token
    string exactly as in the batch path (operators/textdedup.shingles), so
    the index/batch differential covers them too.
    """

    NUM_HASHES = 16
    BAND_SIZE = 4
    SHINGLE_K = 3

    # rounds touching at most this many docs take the collected-key
    # scan_prefixes probe paths (O(probed buckets)); bulk rounds switch to
    # distributed semi-joins — same rows touched, no 10^5-key driver
    # round-trip, no per-bucket probe of every bucket
    probe_collect_limit = 4096

    def __init__(self, spark: SparkSession, table: SnapshotTable, root: str,
                 n_buckets: int = 16, threshold: float = 0.5,
                 detect_pairs: bool = False) -> None:
        self.spark = spark
        self.source = table
        self.root = str(root)
        self.threshold = threshold
        self.detect_pairs = detect_pairs
        self.bands = self._attach(f"{root}/bands", ("band", "repo", "path"),
                                  n_buckets, bucket_cols=("band",))
        # merged second: its offset is the index's
        self.sigs = self.table = self._attach(
            f"{root}/sigs", ("repo", "path"), n_buckets
        )

    # -- signature / banding (bit-identical to the batch operator) --------
    def _sig_bands(self, rows: DataFrame) -> DataFrame:
        """(repo, path, sig, bands array<string>) for current live rows.
        Band value = '<band_idx>:<md5 bucket>' — one string column so the
        band table's placement key is a single column."""
        docs = rows.select(
            F.struct("repo", "path").alias("_k"),
            F.col("content").alias("_text"),
        )
        sig = minhash_signature_table(
            docs, text_col="_text", id_col="_k",
            num_hashes=self.NUM_HASHES, k=self.SHINGLE_K,
        )
        n_bands = self.NUM_HASHES // self.BAND_SIZE
        bands = F.array(*[
            F.concat_ws(
                ":",
                F.lit(b),
                F.md5(F.concat_ws(",", F.slice(
                    F.col("_sig"), b * self.BAND_SIZE + 1, self.BAND_SIZE
                ).cast("array<string>"))),
            )
            for b in range(n_bands)
        ])
        return sig.select(
            F.col("_id.repo").alias("repo"),
            F.col("_id.path").alias("path"),
            F.col("_sig").alias("sig"),
            bands.alias("bands"),
        )

    # -- maintenance -------------------------------------------------------
    def sync(self, version: int | None = None) -> dict[str, Any]:
        ahead = offset_summary(self.bands, OFFSET_MARKER).get(OFFSET_MARKER)
        off = self.offset()
        if ahead is not None and off is not None and ahead < off:
            self.refresh_full()  # the band table was rolled back on its own
        elif ahead is not None and ahead != off:
            try:
                super().sync(ahead)  # finish the interrupted round
            except FileNotFoundError:
                self.refresh_full()  # its source snapshot expired
        return super().sync(version)

    def _rebuild(self, version, ids, reason):
        sb = self._sig_bands(self.source.read(version)).localCheckpoint(
            eager=True
        )
        stamp = F.lit(version).cast("long")
        summary = {**self._marks(version), "full_resync": reason}
        r1 = self.bands.replace_all(
            sb.select(F.explode("bands").alias("band"), "repo", "path", "sig")
            .withColumn("as_of_version", stamp), ids, extra_summary=summary,
        )
        r2 = self.sigs.replace_all(
            sb.select("repo", "path", "bands").withColumn("as_of_version", stamp),
            ids, extra_summary=summary,
        )
        out = {"bands": r1, "sigs": r2}
        if self.detect_pairs:  # every doc is new to a rebuilt index
            out["new_pairs"] = self._report(self.pairs_full(), version)
        _release_local_checkpoint(sb)
        return out

    def _maintain(self, feed: DataFrame, ids: list[int],
                  as_of: int) -> dict[str, Any]:
        """Apply one round: (re)index the live rows of the folded ``feed``
        (the current content of every touched doc; a touched doc with no
        live row was CDC-deleted), tombstoning band/sig rows the recompute
        no longer produces, all under ``ids`` for idempotence."""
        touched = feed.select("repo", "path").distinct()
        summary = self._marks(as_of)
        new_sb = self._sig_bands(_live(feed)).localCheckpoint(eager=True)

        # old band rows of every touched doc, via the sigs reverse map.
        # SPARSE rounds (steady-state CDC: few docs) collect the keys and
        # take the bucket-pruned scan_prefixes path — O(probed buckets).
        # BULK rounds (backfill/catchup: most of the corpus) would pay a
        # driver round-trip of 10^5 keys AND probe every bucket anyway, so
        # they read the sigs table once and semi-join distributed — same
        # rows touched; the bounded collect is what tells the two apart.
        doc_keys = [
            (r["repo"], r["path"])
            for r in touched.limit(self.probe_collect_limit + 1).collect()
        ]
        sparse = len(doc_keys) <= self.probe_collect_limit
        if sparse:
            old = self.sigs.scan_prefixes(doc_keys)
        else:
            old = self.sigs.read().join(touched, ["repo", "path"], "left_semi")
        old = old.select("repo", "path", F.explode("bands").alias("band"))

        new_band_rows = new_sb.select(
            F.explode("bands").alias("band"), "repo", "path", "sig"
        )
        pairs_found = None
        if self.detect_pairs:
            pairs_found = self._detect_pairs(
                new_band_rows, touched, as_of, sparse
            )

        # size hints keep a sparse round's staging exchange narrow; a bulk
        # round passes None — the merge sizes itself
        n_docs = len(doc_keys) if sparse else 0
        n_bands = self.NUM_HASHES // self.BAND_SIZE
        r1 = self.bands.merge_epochs(
            _with_gone(new_band_rows, old, as_of), ids, extra_summary=summary,
            assume_deduped=True,
            size_hint=n_docs * n_bands * 256 or None,
        )
        r2 = self.sigs.merge_epochs(
            _with_gone(new_sb.select("repo", "path", "bands"), touched, as_of),
            ids, extra_summary=summary,
            assume_deduped=True,
            size_hint=n_docs * 512 or None,
        )
        _release_local_checkpoint(new_sb)
        return {
            "bands": r1, "sigs": r2,
            **({"new_pairs": pairs_found} if pairs_found is not None else {}),
        }

    _merge = _maintain

    def _detect_pairs(
        self, new_band_rows: DataFrame, touched: DataFrame, as_of: int,
        sparse: bool,
    ) -> int:
        """Near-dups the round introduces: new docs vs the EXISTING index
        plus new-vs-new within the round. A SPARSE round probes only its
        band keys' buckets (scan_prefixes — O(probed buckets)); a BULK
        round collides with most bands anyway, so it joins against the
        index read distributed (the band equi-join restricts to colliding
        bands; no driver key round-trip). Index rows of the round's OWN
        touched docs are superseded (updated content or CDC delete) and
        dropped before the join — their current rows, if still live, sit in
        the probe side — so the report never pairs against deleted or stale
        content. A pair needs at least one NEW member (existing-vs-existing
        was reported when its second member arrived), in EITHER id order.
        Written to ``root/pairs/asof=<version>`` (overwrite ->
        replay-idempotent); returns the pair count."""
        probe = new_band_rows.select("band", "repo", "path", "sig")
        if sparse:
            band_keys = [
                (r["band"],)
                for r in probe.select("band").distinct().collect()
            ]
            existing = self.bands.scan_prefixes(band_keys)
        else:
            existing = self.bands.read()
        existing = existing.select("band", "repo", "path", "sig").join(
            touched, ["repo", "path"], "left_anti"
        )
        both = probe.withColumn("_new", F.lit(True)).unionByName(
            existing.withColumn("_new", F.lit(False))
        )
        return self._report(self._pairs(both, new_only=True), as_of)

    def _report(self, pairs: DataFrame, as_of: int) -> int:
        out = f"{self.root}/pairs/asof={as_of}"
        pairs.write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out).count()

    # -- reads ---------------------------------------------------------------
    def _pairs(self, idx: DataFrame, new_only: bool = False) -> DataFrame:
        """Band-key self-join of ``idx`` (band, repo, path, sig[, _new]) +
        signature-agreement estimate, thresholded."""
        a, b = idx.alias("a"), idx.alias("b")
        ida = F.concat_ws(":", F.col("a.repo"), F.col("a.path"))
        idb = F.concat_ws(":", F.col("b.repo"), F.col("b.path"))
        cond = (F.col("a.band") == F.col("b.band")) & (ida < idb)
        if new_only:
            cond = cond & (F.col("a._new") | F.col("b._new"))
        cand = (
            a.join(b, cond)
            .select(
                ida.alias("id_a"), idb.alias("id_b"),
                F.col("a.sig").alias("_sa"), F.col("b.sig").alias("_sb"),
            )
            .distinct()
        )
        return cand.withColumn(
            "est_jaccard",
            F.round(
                F.size(F.filter(
                    F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
                    lambda eq: eq,
                )) / F.lit(float(self.NUM_HASHES)),
                6,
            ),
        ).where(F.col("est_jaccard") >= self.threshold).select(
            "id_a", "id_b", "est_jaccard"
        )

    def pairs_full(self) -> DataFrame:
        """Near-dup pairs of the CURRENT corpus, from the index state alone
        — must equal the batch operator over the fact snapshot."""
        return self._pairs(self.bands.read().select("band", "repo", "path", "sig"))
