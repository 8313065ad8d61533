"""The benchmark's workloads: set-up and a closed loop with one client.

All segments are generated in set-up by ``etl_spark.datagen.change_stream``
from the run's seed, as one LSN-contiguous stream written to a ``pending``
directory outside the stream root. Landing a segment is an atomic directory
rename into the stream root; the loop lands the next operation's segments
only after the previous operation has returned. The engine sees only the
generated files, and only through its public API.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq

from etl_spark.datagen import change_stream, write_segments
from etl_spark.pipeline import IngestPipeline
from etl_spark.replicate import Mirror
from tracing import NullTracer


@dataclass(frozen=True)
class Spec:
    events_per_epoch: int
    bootstrap_epochs: int  # applied by one catch-up replay in set-up
    epochs_per_op: int  # segments landed per closed-loop operation
    # the timed phase is round(--seconds / seconds_per_op) operations: a fixed
    # amount of work for a given --seconds, whatever the machine's speed
    seconds_per_op: float
    lookups: int  # point lookups per op (consumers) or after the timed phase
    stream: dict  # change_stream keyword arguments
    pipeline: dict  # IngestPipeline keyword arguments
    # run one untimed operation of the timed shape in set-up, so JIT and
    # codegen for its plans are paid there and not by the first timed op
    warmup: bool = True
    consumers: bool = False


SPECS = {
    # backlog rounds: each lands 4 x 5k-event segments (power-law repos with a
    # mega-repo, 5% re-deliveries, ~2% deletes) and applies them in ONE
    # catch-up commit into a table that keeps growing (200k-key domain)
    "catchup_backlog": Spec(
        events_per_epoch=5000, bootstrap_epochs=4, epochs_per_op=4,
        seconds_per_op=3.3, lookups=10,
        stream=dict(n_repos=100, paths_per_repo=2000, skew=3.0, dup_pct=5,
                    delete_pct=2),
        pipeline=dict(n_buckets=16, target_file_rows=2048,
                      max_files_per_bucket=16),
        # the bootstrap is a catch-up replay of exactly one operation's shape
        warmup=False,
    ),
    # small epochs with keys uniform over a 20k-key domain (skew=1.0) into a
    # table of many small files, under the default merge_mode="auto"; after
    # each commit the mirror syncs, the change feed is read and a batch of
    # point lookups runs. 400-event epochs on a 4000-event bootstrap keep
    # every table's auto merge far above auto_mor_factor existing rows per
    # staged row (1000-event epochs sat on it and flipped COW/MOR by seed),
    # and the bootstrap under DedupIndex.probe_collect_limit
    "consumers_mixed": Spec(
        events_per_epoch=400, bootstrap_epochs=10, epochs_per_op=1,
        seconds_per_op=10.0, lookups=12,
        stream=dict(n_repos=100, paths_per_repo=200, skew=1.0, dup_pct=5),
        pipeline=dict(n_buckets=16, target_file_rows=64,
                      max_files_per_bucket=16, maintain_clean_corpus=True,
                      maintain_dedup_index=True),
        consumers=True,
    ),
}


def tree_sizes(roots: list[Path]) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in roots:
        for d, _, files in os.walk(r):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


@dataclass
class Samples:
    commit_s: list[float] = field(default_factory=list)
    fresh_s: list[float] = field(default_factory=list)
    lookup_ms: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    # the same intervals in CPU seconds of the driver and its JVM
    commit_cpu_s: list[float] = field(default_factory=list)
    fresh_cpu_s: list[float] = field(default_factory=list)
    lookup_cpu_ms: list[float] = field(default_factory=list)
    scan_cpu_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str, err: object) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {err}")


class Workload:
    def __init__(self, spark, name: str, run_dir: Path, seed: int,
                 seconds: int) -> None:
        self.spark = spark
        self.spec = SPECS[name]
        self.ops = max(1, round(seconds / self.spec.seconds_per_op))
        self.seed = seed
        self.pending = str(run_dir / "pending")
        self.stream = str(run_dir / "stream")
        self.table_root = str(run_dir / "table")
        self.mirror_root = str(run_dir / "mirror")
        self.pipe: IngestPipeline | None = None
        self.mirror: Mirror | None = None
        self.next_epoch = 0
        self.n_epochs = 0
        self.latest: dict[tuple, tuple] = {}  # key -> (commit, op), landed only
        self.written: list[tuple] = []  # keys in order of first landing
        self.rng = random.Random(seed)
        self.setup_phases: dict[str, float] = {}
        self.bookkeeping_s = 0.0
        self.bookkeeping_cpu_s = 0.0
        # CPU seconds used so far by the driver and its JVM; run.py sets it
        self.cpu_s: Callable[[], float] = time.process_time

    # -- roles and tables ------------------------------------------------

    def role_of(self, root: str) -> str:
        if root.startswith(self.mirror_root):
            return "mirror"
        rel = root[len(self.table_root):]
        if rel.startswith("/_clean"):
            return "clean"
        if rel.startswith("/_dedup"):
            return "dedup"
        return "fact" if root.startswith(self.table_root) else "other"

    def tables(self) -> dict:
        out = {"fact": self.pipe.table}
        if self.mirror is not None:
            out["mirror"] = self.mirror.dst
        return out

    def maintainers(self) -> list[tuple]:
        """(name, maintainer, one of its tables) for the synced check."""
        out = []
        if self.pipe.clean_corpus is not None:
            out.append(("CleanCorpus", self.pipe.clean_corpus,
                        self.pipe.clean_corpus.table))
        if self.pipe.dedup_index is not None:
            out.append(("DedupIndex", self.pipe.dedup_index,
                        self.pipe.dedup_index.bands))
        return out

    def all_tables(self) -> list:
        ts = list(self.tables().values())
        if self.pipe.clean_corpus is not None:
            ts.append(self.pipe.clean_corpus.table)
        if self.pipe.dedup_index is not None:
            ts += [self.pipe.dedup_index.bands, self.pipe.dedup_index.sigs]
        return ts

    def settle(self, limit_s: float = 1.5) -> None:
        """Wait (up to ``limit_s``) until the driver and JVM are nearly idle,
        so garbage collection and JIT compilation left over from a commit are
        not charged to the reads that follow. The wait is left out of the
        measured wall; the CPU spent meanwhile stays in the timed phase's."""
        t0 = time.time()
        while time.time() - t0 < limit_s:
            c = self.cpu_s()
            time.sleep(0.2)
            if self.cpu_s() - c < 0.2 * 0.2:  # under a fifth of one core
                break
        self.bookkeeping_s += time.time() - t0

    # -- set-up -----------------------------------------------------------

    def _land(self, n: int) -> list[int]:
        epochs = list(range(self.next_epoch, self.next_epoch + n))
        for e in epochs:
            os.rename(f"{self.pending}/epoch={e}", f"{self.stream}/epoch={e}")
        self.next_epoch += n
        return epochs

    def _observe(self, epochs: list[int]) -> tuple[int, int]:
        """Record landed keys for lookup sampling and checks. Returns the
        number of landed events and of distinct keys they carry. Its time is
        benchmark bookkeeping and is kept out of the measured wall."""
        t0, c0 = time.time(), self.cpu_s()
        cols = ["repo", "path", "commit"] + (
            ["op"] if self.spec.stream.get("delete_pct") else [])
        n, keys = 0, set()
        for e in epochs:
            t = pq.read_table(f"{self.stream}/epoch={e}", columns=cols)
            n += t.num_rows
            c = t.to_pydict()
            rows = sorted(zip(zip(c["repo"], c["path"]), c["commit"],
                              c.get("op") or ["u"] * t.num_rows),
                          key=lambda r: r[1])
            for key, commit, op in rows:
                if key not in self.latest:
                    self.written.append(key)
                self.latest[key] = (commit, op)
                keys.add(key)
        self.bookkeeping_s += time.time() - t0
        self.bookkeeping_cpu_s += self.cpu_s() - c0
        return n, len(keys)

    def setup(self) -> None:
        s = self.spec
        t = time.time()
        self.n_epochs = s.bootstrap_epochs + s.epochs_per_op * (s.warmup + self.ops)
        write_segments(
            change_stream(
                self.spark, self.n_epochs * s.events_per_epoch,
                events_per_epoch=s.events_per_epoch, seed=self.seed, **s.stream,
            ),
            self.pending, files_per_epoch=4,
        )
        os.makedirs(self.stream)
        self.setup_phases["datagen_s"] = time.time() - t

        t = time.time()
        self.pipe = IngestPipeline(self.spark, self.table_root, **s.pipeline)
        self._observe(self._land(s.bootstrap_epochs))
        self.pipe.replay(self.stream, mode="catchup")
        if s.consumers:
            self.mirror = Mirror(self.spark, self.pipe.table, self.mirror_root,
                                 n_buckets=8)
            self.mirror.sync()
        self.setup_phases["bootstrap_s"] = time.time() - t

        # warm the JIT for every path the timed phase and its probes take
        t = time.time()
        if s.warmup:
            self.op(Samples(), NullTracer(), lookups=5)
        else:
            self.lookups(Samples(), NullTracer(), 5)
        self.pipe.table.read().count()
        self.setup_phases["warmup_s"] = time.time() - t

    # -- one closed-loop operation --------------------------------------

    def op(self, smp: Samples, tracer, lookups: int | None = None) -> int:
        """Land the next segments, drive every consumer, read the change feed
        and run point lookups; returns the number of landed events."""
        s = self.spec
        fact = self.pipe.table
        v_prev = fact.current_version()
        mode = "incremental" if s.epochs_per_op == 1 else "catchup"
        t_land, c_land = time.time(), self.cpu_s()
        epochs = self._land(s.epochs_per_op)
        smp.attempted += 1
        try:
            t, c = time.time(), self.cpu_s()
            stats = self.pipe.replay(self.stream, mode=mode)
            smp.commit_s.append(time.time() - t)
            smp.commit_cpu_s.append(self.cpu_s() - c)
            applied = sorted(e for st in stats for e in st.commit.get("epochs", []))
            if applied != epochs:
                raise RuntimeError(f"replay applied {applied}, landed {epochs}")
            version = stats[-1].commit["version"]
        except Exception as err:  # noqa: BLE001 — count it, keep the loop going
            smp.fail("replay", err)
            return 0
        fresh, fresh_cpu = time.time() - t_land, self.cpu_s() - c_land
        events, n_keys = self._observe(epochs)
        if not s.consumers:
            smp.fresh_s.append(fresh)
            smp.fresh_cpu_s.append(fresh_cpu)
            return events

        smp.attempted += 1
        try:
            # _observe, between replay and sync, is bookkeeping: left out
            t, c = time.time(), self.cpu_s()
            out = self.mirror.sync()
            fresh += time.time() - t
            fresh_cpu += self.cpu_s() - c
            stale = [n for n, m, _ in self.maintainers()
                     if m.synced_to_version() != version]
            if out.get("synced_to") != version or stale:
                raise RuntimeError(f"not fresh at v{version}: mirror "
                                   f"{out.get('synced_to')}, stale {stale}")
            smp.fresh_s.append(fresh)
            smp.fresh_cpu_s.append(fresh_cpu)
        except Exception as err:  # noqa: BLE001
            smp.fail("sync", err)

        smp.attempted += 1
        try:
            with tracer.consume("lake.changes_between", fact):
                n = fact.changes_between(v_prev).count()
            if n != n_keys:
                raise RuntimeError(f"feed has {n} rows, epoch wrote {n_keys} keys")
        except Exception as err:  # noqa: BLE001
            smp.fail("feed", err)

        self.settle()
        self.lookups(smp, tracer, lookups)
        return events

    def lookups(self, smp: Samples, tracer, n: int | None = None) -> None:
        """``n`` (by default the spec's number of) point lookups of keys drawn
        skewed towards the most recently written, so the bucket memo both
        hits and misses."""
        fact = self.pipe.table
        for _ in range(self.spec.lookups if n is None else n):
            n = len(self.written)
            key = self.written[n - 1 - int(n * self.rng.random() ** 3)]
            smp.attempted += 1
            try:
                t, c = time.perf_counter(), self.cpu_s()
                with tracer.consume("lake.lookup", fact):
                    rows = fact.lookup(*key).collect()
                smp.lookup_ms.append((time.perf_counter() - t) * 1e3)
                smp.lookup_cpu_ms.append((self.cpu_s() - c) * 1e3)
                commit, op = self.latest[key]
                got = [r["commit"] for r in rows]
                if got != ([] if op == "d" else [commit]):
                    raise RuntimeError(f"lookup {key} -> {got}, want {commit}/{op}")
            except Exception as err:  # noqa: BLE001
                smp.fail("lookup", err)

