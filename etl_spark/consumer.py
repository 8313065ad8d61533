"""The change-feed consumer contract — one sync for every table kept in step
with a source :class:`SnapshotTable`.

The reference's staged pattern: each stage reads the previous stage's new
rows past its own watermark, and every stage can resume and re-run safely
(SURVEY §3.3–3.4). Every downstream table — the clean corpus, the rollup,
the near-dup index (``etl_spark.derived``) and the mirror
(``etl_spark.replicate``) — runs the same :meth:`ChangeFeedConsumer.sync`:

1. read the **offset**: the source version the consumer last synced to,
   recorded in its own manifest; return at once if it is the target;
2. check whether the window's feed can be trusted (:meth:`_needs_resync`):
   not if the offset snapshot expired with no :meth:`_stand_in`, the
   source's applied set shrank, or its durable ``rollbacks`` counter moved
   — a rollback + re-replay can re-apply the SAME epoch ids with different
   rows, which the feed's epoch filter would hide;
3. if not (or with no offset yet), rebuild from the source's state with
   ``replace_all`` — never a merge: a fix-and-replay can re-issue a key
   under the same order value, and a purged key must simply vanish;
4. otherwise merge ``changes_between(offset, target)`` under the window's
   ids in ONE commit that also records the new offset. A window of several
   source commits is first folded latest-wins per key; a one-commit feed
   already has one row per key.

A re-run of a committed round is a metadata no-op (the consumer's own
applied-id set), and a crash before the commit leaves the offset where it
was. The steady state is a sync with a lag of one commit; healing a crash,
enabling a consumer on a table with history and catching up a lagging
consumer are the same call over a wider window.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from etl_spark.lake.table import SnapshotTable, _all_applied_epochs


def offset_summary(table: SnapshotTable, marker: str) -> dict[str, Any]:
    """Summary of the newest commit of ``table`` carrying ``marker`` whose
    state the table still serves ({}: none). Walked newest-first: commits
    without it (compaction) are passed over, a ``rollback`` jumps to the
    snapshot it restored, and an expired version ends the walk."""
    retained = set(table.versions())
    v = max(retained, default=None)
    while v in retained:
        try:
            s = (table.manifest(v) or {}).get("summary") or {}
        except FileNotFoundError:
            return {}  # expired between the listing and the read
        if marker in s:
            return s
        v = s.get("rollback_of", v - 1)
    return {}


class ChangeFeedConsumer:
    """Base of every consumer. Subclasses set ``source`` and define
    :meth:`offset`, :meth:`_rebuild` and :meth:`_merge`; :meth:`_ids` picks
    the id space (default: the source epochs the window newly applied)."""

    source: SnapshotTable

    # -- subclass hooks --------------------------------------------------
    def offset(self) -> int | None:
        """Source version this consumer last synced to (None: never)."""
        raise NotImplementedError

    def _rebuild(self, version: int, ids: list[int],
                 reason: str) -> dict[str, Any]:
        """Replace the consumer's contents with the source at ``version``."""
        raise NotImplementedError

    def _merge(self, feed: DataFrame, ids: list[int],
               version: int) -> dict[str, Any]:
        """Merge the window's feed (one row per key, tombstones included)."""
        raise NotImplementedError

    def _stand_in(self) -> dict | None:
        """A retained source manifest with the expired offset's rows (None:
        rebuild)."""

    def _ids(self, v_from: int | None, v_to: int,
             m_from: dict | None, m_to: dict) -> list[int]:
        old = _all_applied_epochs(m_from) if m_from else set()
        return sorted(_all_applied_epochs(m_to) - old)

    # -- the shared contract ---------------------------------------------
    def _needs_resync(
        self, v_from: int | None, m_to: dict
    ) -> tuple[str | None, dict | None]:
        """(why the window's feed can't be trusted or None, base manifest)."""
        if v_from is None:
            return "bootstrap", None
        try:
            m_from = self.source.manifest(v_from)
        except FileNotFoundError:
            m_from = self._stand_in()
            if m_from is None:
                return "watermark_expired", None
        if _all_applied_epochs(m_from) - _all_applied_epochs(m_to):
            return "applied_set_shrank", m_from  # rolled back, not re-applied
        if m_from.get("rollbacks", 0) != m_to.get("rollbacks", 0):
            return "rollback_in_window", m_from
        return None, m_from

    def sync(self, version: int | None = None) -> dict[str, Any]:
        """One round up to source ``version`` (default: the head).
        Idempotent; safe to run on any schedule."""
        head = self.source.current_version() if version is None else version
        if head is None:
            return {"skipped": True, "reason": "source_empty"}
        v_from = self.offset()
        if v_from is not None and v_from >= head:
            return {"skipped": True, "reason": "up_to_date",
                    "synced_version": v_from}
        m_to = self.source.manifest(head)
        reason, m_from = self._needs_resync(v_from, m_to)
        if reason is not None:
            out = self._rebuild(head, self._ids(None, head, None, m_to), reason)
            return {**out, "full_resync": reason}
        base = m_from["version"]  # the offset, or its stand-in
        ids = self._ids(base, head, m_from, m_to)
        if not ids:
            # maintenance-only window (compaction, rebucket): no row changed
            return {"skipped": True, "reason": "no_new_epochs",
                    "synced_version": v_from}
        feed = self.source.changes_between(base, head)
        if head - base > 1:
            feed = self.source._latest_delta_rows(feed)
        out = self._merge(feed, ids, head)
        return {**out, "synced_from": base, "synced_to": head}

    def refresh_full(self) -> dict[str, Any]:
        """Rebuild from the source's current state — the one rebuild path,
        and the reference the differential tests hold the incremental path
        to."""
        head = self.source.current_version()
        m = self.source.manifest(head)
        return self._rebuild(head, self._ids(None, head, None, m), "refresh")

    def lag(self) -> dict[str, Any]:
        """How far behind the source head this consumer is, from its offset
        alone — manifest reads only, no Spark job. ``missing_epochs``: ids
        the window would merge under; ``synced``: none missing and no
        resync pending (a maintenance-only window leaves ``lag_versions``
        above 0 with nothing to sync)."""
        head = self.source.current_version()
        v_from = self.offset()
        m_to = self.source.manifest(head)
        reason, m_from = self._needs_resync(v_from, m_to)
        missing = self._ids(v_from, head, m_from, m_to)
        return {
            "synced": reason is None and not missing,
            "missing_epochs": len(missing),
            "lag_versions": head - (v_from or 0),
            "offset": v_from,
            **({"resync": reason} if reason else {}),
        }
