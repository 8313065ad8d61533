"""Correctness gate, run after the timed phase.

The fact table's final ``(repo, path, commit, content_sha256)`` set must
equal an independent DuckDB recomputation over every landed segment: the
engine's clean rules, latest-commit-wins per ``(repo, path)``, and WAL
deletes (``op = 'd'``) applied as tombstones. ``fsck()`` must be clean, the
mirror must show no divergence, and each maintainer must be synced to the
fact table's latest version.
"""

from __future__ import annotations

import duckdb

COMMIT_RE = r"^c\d{12}$"


def oracle_final_state(stream_root: str) -> set[tuple]:
    src = f"read_parquet('{stream_root}/epoch=*/*.parquet', " \
          "hive_partitioning=1, union_by_name=1)"
    con = duckdb.connect()
    try:
        cols = {r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}
        # a NULL op is an upsert written before the op column existed
        op = "coalesce(op, 'u')" if "op" in cols else "'u'"
        rows = con.execute(f"""
            WITH cleaned AS (
                SELECT repo, path, "commit", content, {op} AS op FROM {src}
                WHERE repo IS NOT NULL AND repo <> ''
                  AND path IS NOT NULL AND path <> ''
                  AND {op} IN ('u', 'd')
                  AND ({op} = 'd' OR content IS NOT NULL)
                  AND regexp_matches("commit", '{COMMIT_RE}')
            ), latest AS (
                SELECT *, row_number() OVER (
                    PARTITION BY repo, path ORDER BY "commit" DESC
                ) AS rn FROM cleaned
            )
            SELECT repo, path, "commit", sha256(content)
            FROM latest WHERE rn = 1 AND op = 'u'
        """).fetchall()
    finally:
        con.close()
    return set(rows)


def gate(w) -> list[str]:
    """Every finding for workload state ``w``; empty means correct."""
    bad: list[str] = []
    fact = w.pipe.table
    got = {
        tuple(r) for r in fact.read()
        .select("repo", "path", "commit", "content_sha256").toPandas()
        .itertuples(index=False, name=None)
    }
    want = oracle_final_state(w.stream)
    if got != want:
        bad.append(f"fact != oracle: {len(got - want)} unexpected rows, "
                   f"{len(want - got)} missing rows ({len(want)} expected)")
    for role, t in w.tables().items():
        rep = t.fsck()
        if not rep["ok"]:
            bad.append(f"fsck {role}: {rep['findings'][:3]}")
    version = fact.current_version()
    applied = fact.applied_epochs()
    if w.mirror is not None:
        v = w.mirror.verify()
        if not (v["rows_match"] and v["watermark_match"]):
            bad.append(f"mirror diverged: {v}")
        if w.mirror.synced_version() != version:
            bad.append(f"mirror at v{w.mirror.synced_version()}, fact at v{version}")
    for name, maint, t in w.maintainers():
        if maint.synced_to_version() != version:
            bad.append(f"{name} synced to v{maint.synced_to_version()}, "
                       f"fact at v{version}")
        if t.applied_epochs() != applied:
            bad.append(f"{name} epochs {sorted(applied - t.applied_epochs())} "
                       "not applied")
    return bad
