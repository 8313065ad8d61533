"""Table-to-table CDC replication — the consumer face of the change feed.

``Mirror`` keeps a downstream :class:`SnapshotTable` in sync with a source
table — the lakehouse analog of a replica tailing a primary's binlog. It is
a :class:`~etl_spark.consumer.ChangeFeedConsumer` and runs the same
``sync()`` as the derived tables (see ``etl_spark.consumer`` for the
contract: offset, resync check, ``replace_all`` rebuild, one merge of the
folded feed). What is the mirror's own:

- **Ids**: the mirror merges in a dedicated ``mirror`` id space whose ids
  ARE source snapshot versions, so its offset is its newest applied id
  (no side store) and a crashed/re-run sync is a metadata no-op. Every
  version in the window gets an id — a source compaction moves the offset
  too, at no data cost when the source carries per-row ``epoch``
  provenance (the feed's epoch filter excludes rows merely REWRITTEN into
  new files). Without that column the feed degrades to file granularity —
  still correct by latest-wins idempotence.
- **Provenance**: tombstones flow through unchanged (a delete on the source
  deletes on the mirror via the same latest-wins arbitration); the
  ``epoch`` column is RE-STAMPED into the mirror's id domain (the synced
  source version — see ``_stamp_provenance``), so the replica's own change
  feed stays exact for chained consumers.
- **Identity**: a replica records which source it mirrors and refuses to
  sync from another one, or to bootstrap over a table that is not a
  mirror.

Scale: the incremental path moves exactly the feed (one arranged shuffle on
the destination's key space); the resync path is one full source read — the
same cost as bootstrapping any replica.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_spark.consumer import ChangeFeedConsumer, offset_summary
from etl_spark.lake.table import SnapshotTable

MIRROR_SPACE = "mirror"


class Mirror(ChangeFeedConsumer):
    """Replicate ``src`` into a SnapshotTable at ``dst_root``.

    The destination adopts the source's key/order columns; its bucket count
    is independent (a mirror may be laid out for a different read pattern).
    """

    def __init__(
        self,
        spark: SparkSession,
        src: SnapshotTable,
        dst_root: str,
        n_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.source = self.src = src
        self.dst = SnapshotTable(
            spark, dst_root, key_cols=src.key_cols, order_col=src.order_col,
            n_buckets=n_buckets or src.n_buckets,
        )

    def offset(self) -> int | None:
        """Newest source snapshot version this mirror has applied (the
        consumer offset — its newest ``mirror``-space id)."""
        applied = self.dst.applied_epochs(MIRROR_SPACE)
        return max(applied) if applied else None

    synced_version = offset

    def _ids(self, v_from, v_to, m_from, m_to) -> list[int]:
        return list(range((v_from or 0) + 1, v_to + 1))

    def _rebuild(self, version, ids, reason):
        """Rebuild the mirror AS the source's state at ``version`` via
        ``replace_all``; the mirror-space applied set resets to ``ids``."""
        rows = self.src.read(version, include_deleted=True)
        return self.dst.replace_all(
            self._stamp_provenance(rows, version), ids,
            epoch_space=MIRROR_SPACE,
            extra_summary={"mirror_of": str(self.src.root),
                           "mirror_src_version": version, "full_resync": reason},
        )

    def _merge(self, feed, ids, version):
        return self.dst.merge_epochs(
            self._stamp_provenance(feed, version), ids,
            epoch_space=MIRROR_SPACE,
            extra_summary={"mirror_of": str(self.src.root), "mirror_src_version": version},
        )

    def sync(self, version: int | None = None) -> dict[str, Any]:
        """A replica permanently records which source it mirrors
        (``mirror_of`` in every sync commit's summary); syncing it from a
        DIFFERENT source must fail loudly — depending on the two tables'
        version numbers it would otherwise either wedge as a forever
        ``up_to_date`` or latest-wins-contaminate the replica with foreign
        rows, both silent. A table with history but no mirror-space offset
        is not a mirror at all: bootstrapping would replace its contents
        (a ``--dst`` typo against a live table), so that is refused too."""
        if self.dst.exists() and self.offset() is None:
            raise ValueError(
                f"table {self.dst.root} already has versions and is not a "
                "mirror; refusing to bootstrap over it — point the mirror "
                "at an empty root"
            )
        rec = offset_summary(self.dst, "mirror_of").get("mirror_of")
        if rec is not None and rec != str(self.src.root):
            raise ValueError(
                f"table {self.dst.root} mirrors {rec!r}, not "
                f"{str(self.src.root)!r}; refusing to cross-sync"
            )
        return super().sync(version)

    def _stamp_provenance(self, rows, v_to: int):
        """Re-stamp the ``epoch`` provenance column (when the source has
        one) with the LAST mirror-space applied id of this sync (the source
        snapshot version). A table's CDC-out contract requires every row's
        epoch provenance to lie inside its own applied-id sets — the same
        invariant ``delete_epochs`` preserves for tombstones. The source's
        epoch values live in the SOURCE's id domain; carrying them verbatim
        would make the replica's own change feed drop or garble rows for
        any downstream consumer chained off the mirror."""
        if "epoch" not in rows.columns:
            return rows
        dtype = dict(rows.dtypes)["epoch"]
        return rows.withColumn("epoch", F.lit(int(v_to)).cast(dtype))

    def verify(self) -> dict[str, Any]:
        """Cheap divergence probe: row counts + per-column commit watermark
        equality between source head and mirror. Zero false alarms mid-sync
        is NOT guaranteed (the source may commit while this reads); use
        after a sync in a quiet window."""
        s = self.src.read()
        d = self.dst.read()
        oc = self.src.order_col
        s_n, s_max = s.agg(
            F.count(F.lit(1)), F.max(oc)
        ).first()
        d_n, d_max = d.agg(
            F.count(F.lit(1)), F.max(oc)
        ).first()
        return {
            "rows_match": s_n == d_n,
            "watermark_match": s_max == d_max,
            "src_rows": s_n, "dst_rows": d_n,
            "src_watermark": s_max, "dst_watermark": d_max,
        }
