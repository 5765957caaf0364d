"""The benchmark's workloads. Each is a closed loop with one client: the
next replay, sync, read or query starts only after the previous one
returns, the way a Singer tap runs as a series of scheduled syncs from
its bookmark.

A workload object runs in four phases, called in order by ``run.py``:

``setup_pass``  input generation, repeated ``SETUP_PASSES`` times (the
                first pass also pays the generator's JIT warm-up).
``warmup``      initial load, then untimed operations of the measured
                shapes.
``measure``     the closed loop: ``CYCLES`` cycles, then more only while
                the requested number of seconds has not passed.
``gate``        untimed correctness checks against independent oracles.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from oracle import catalog_oracle, lww_oracle, same_rows
from trace import install

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP_PASSES = 2

#: the 8 headline catalog queries (``bench.py``'s suite)
HEADLINE = [
    "cdc_replay_transcripts",
    "cdc_conv_rollup",
    "cdc_bookmark_antijoin",
    "agg_monthly_counts",
    "join_enrich_orders",
    "topk_events",
    "docs_fingerprint",
    "emb_cosine_topk",
]


def parquet_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def wal_rows(d: str) -> int:
    """Event count from parquet footers alone (no Spark job)."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(d))


def fixture_dir(name: str) -> str:
    """The repo's read-only fixture set ``name`` (``sf0.1``), at the
    location TESTDATA.md documents for it."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(rf"`([^`]*/{re.escape(name)})/?`", f.read())
    if m is None or not os.path.isdir(m.group(1)):
        raise FileNotFoundError(
            f"fixture set {name} not found where TESTDATA.md puts it")
    return m.group(1)


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); (nan, nan) under eleven samples."""
    n = len(values)
    if n < 11:
        return float("nan"), float("nan")
    p = (n - 10) / n
    return 100.0 * p, float(np.quantile(values, p, method="lower"))


def zipf_keys(rng: np.random.Generator, n_convs: int, k: int) -> list[str]:
    """``k`` conversation keys, skewed toward low ids like the WAL's own
    mutation targets."""
    ids = np.minimum((n_convs * rng.random(k) ** 2.5).astype(int),
                     n_convs - 1)
    return [f"conv_{i:08d}" for i in ids]


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else float("nan")


class Workload:
    """Shared bookkeeping: samples, op counts, failures and the span
    recorder (``rec`` is None in untraced runs)."""

    N_CONVS = 0

    def __init__(self, spark, work: str, seed: int, rec=None):
        self.spark, self.work, self.seed, self.rec = spark, work, seed, rec
        self.rng = np.random.default_rng(seed)
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jobs: list[int] = []
        self.gen_s: list[float] = []
        self.looked_up: list = []
        self.tracing = False
        self.pairs = 0

    # ---------------- tracing

    def span(self, name: str, **attrs):
        if not self.tracing:
            return nullcontext()
        return self.rec.span(name, **attrs)

    def set_tracing(self, on: bool) -> None:
        """Install (or remove) the span wrappers around the engine."""
        if self.rec is None or on == self.tracing:
            return
        if on:
            self._restore = install(self.rec)
        else:
            self._restore()
        self.tracing = on

    def more_cycles(self, i: int, end: float) -> bool:
        """Every run measures ``CYCLES`` cycles whatever the host speed;
        ``--seconds`` is only a lower bound on the measuring phase, so a
        host fast enough to finish them early runs more."""
        return i < self.CYCLES or time.perf_counter() < end

    def cycle(self, i: int) -> None:
        """Start closed-loop cycle ``i``: in a traced run every span it
        opens is filed under this cycle."""
        if self.rec is not None:
            self.rec.op = f"cycle{i}"
            self.set_tracing(True)

    @contextmanager
    def frozen(self):
        """Save the state the write changes; yield a function that puts
        it back. Nothing to save by default (a replay starts fresh)."""
        yield lambda: None

    def write(self, name: str, fn):
        """The cycle's write. A traced run does it twice on identical
        state, once untraced and once traced, the order flipped from
        cycle to cycle so order effects cancel: ``trace.overhead_frac``
        compares like with like. The warm-up write has already taken the
        steepest drift after start. Returns the last result."""
        if self.rec is None:
            return self.write_op(name, fn)
        plan = [False, True] if self.pairs % 2 == 0 else [True, False]
        self.pairs += 1
        out = None
        with self.frozen() as restore:
            for k, traced in enumerate(plan):
                if k:
                    restore()
                self.set_tracing(traced)
                out = self.write_op(name, fn)
        self.set_tracing(True)
        return out

    # ---------------- bookkeeping

    def n_jobs(self) -> int:
        """Spark jobs submitted so far in this context (exact)."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def add(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def timed(self, key: str, fn, span: str | None = None):
        """One attempted operation: time it, count it, record a failure
        instead of raising. Returns the result, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(span or key):
                out = fn()
        except Exception as e:  # a failed op is a result, not a crash
            self.fail(f"{key}: {type(e).__name__}: {e}")
            return None
        self.add(key + "_traced" if self.tracing else key,
                 time.perf_counter() - t0)
        return out

    def write_op(self, name: str, fn):
        """The cycle's write: timed, with its Spark job count."""
        j0 = self.n_jobs()
        out = self.timed(f"{name}_s", fn, span=f"job.{name}")
        self.jobs.append(self.n_jobs() - j0)
        return out

    def lookups(self, table, k: int, record: bool) -> None:
        for key in zipf_keys(self.rng, self.N_CONVS, k):
            if not record:
                table.lookup(key).collect()
                continue
            rows = self.timed("lookup_s",
                              lambda: table.lookup(key).toPandas(),
                              span="lookup")
            if rows is not None:
                self.looked_up.append((self.wal_files(), key, rows))

    def wal_files(self) -> tuple[str, ...]:
        """The WAL files the table reflects right now."""
        raise NotImplementedError

    def check_lookups(self) -> None:
        """Every recorded lookup result against the oracle rows of its
        key, the oracle taken over the WAL files read at that time."""
        oracles: dict[tuple, object] = {}
        bad = 0
        for files, key, rows in self.looked_up:
            if files not in oracles:
                oracles[files] = (lww_oracle(list(files))
                                  .set_index("conv_id").sort_index())
            wk = oracles[files]
            exp = (wk.loc[[key]].reset_index() if key in wk.index
                   else rows[:0])
            bad += same_rows(rows, exp) is not None
        if bad:
            self.fail(f"{bad} of {len(self.looked_up)} lookups disagree "
                      "with the oracle")

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def isolated_kernels(self, wal_dir: str) -> dict:
        """dedup and normalize alone over this workload's WAL, each into
        the noop sink: median of three (traced runs only)."""
        from tap_github_search_spark.functions.normalize import normalized
        from tap_github_search_spark.operators.dedup import (
            lww_winners_window,
        )

        log = self.spark.read.parquet(wal_dir)
        out = {}
        for key, mk in (
            ("dedup.isolated_s", lambda: lww_winners_window(log)),
            ("normalize.isolated_s",
             lambda: log.select(normalized("text").alias("text"))),
        ):
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                self.noop(mk())
                ts.append(time.perf_counter() - t0)
            out[key] = median(ts)
        n_keys = log.select("conv_id", "turn_idx").distinct().count()
        out["dedup.events_per_key"] = wal_rows(wal_dir) / n_keys
        return out


# ----------------------------------------------------------------- backfill

class Backfill(Workload):
    """The batch side. Each cycle replays an update-heavy, zipf-skewed
    WAL into a fresh copy-on-write table in two large epochs (no
    maintainers) and reads keys back; the first cycle of a traced run
    then runs the 8 headline catalog queries into the noop sink. The
    catalog reads the repo's sf0.1
    fixture tables; its CDC queries read this same WAL: the REGISTRY
    query functions take only ``sf_dir`` and derive the changelog
    location from its name, which the benchmark points inside its own
    work directory."""

    WRITE = "replay"
    N_CONVS = 4_000
    MUTATIONS = 20.0
    N_EPOCHS = 2
    N_BUCKETS = 8
    LOOKUPS = 10
    CYCLES = 2
    FIXTURES = "sf0.1"
    #: the catalog directory in the work dir: its name picks the
    #: changelog the CDC queries read, the seeded one written here
    SF = "sf0.01"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from tap_github_search_spark.sources import generator

        generator.DATA_ROOT = os.path.join(self.work, "cdc")
        self.generator = generator
        self.fixtures = fixture_dir(self.FIXTURES)
        self.sf_dir = os.path.join(self.work, "tables", self.SF)
        self.sf = generator.sf_from_dir(self.sf_dir)
        self.wal = generator.changelog_dir(self.sf)

    def setup_pass(self) -> None:
        from tap_github_search_spark.plans.queries import REGISTRY
        from tap_github_search_spark.sources.generator import (
            evolved_dir,
            write_changelog,
        )

        t0 = time.perf_counter()
        shutil.rmtree(self.generator.DATA_ROOT, ignore_errors=True)
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        write_changelog(self.spark, self.wal, self.N_CONVS, n_files=4,
                        seed=self.seed, mutations_per_conv=self.MUTATIONS)
        # the catalog helper generates a missing evolved segment inside
        # the first query; the headline queries never read it, so an
        # empty one is written here instead
        os.makedirs(evolved_dir(self.sf))
        pq.write_table(pq.read_schema(parquet_files(self.wal)[0])
                       .empty_table(),
                       os.path.join(evolved_dir(self.sf), "empty.parquet"))
        os.makedirs(self.sf_dir)
        self.tables = []
        for f in parquet_files(self.fixtures):
            os.symlink(f, os.path.join(self.sf_dir, os.path.basename(f)))
            self.tables.append(os.path.basename(f)[:-len(".parquet")])
        self.gen_s.append(time.perf_counter() - t0)
        self.n_events = wal_rows(self.wal)
        self.queries = {n: REGISTRY[n] for n in HEADLINE}

    def _replay(self, path: str):
        from tap_github_search_spark.streaming.job import replay

        shutil.rmtree(path, ignore_errors=True)
        table, _ = replay(self.spark, [self.wal], path,
                          n_buckets=self.N_BUCKETS, n_epochs=self.N_EPOCHS)
        return table

    def _suite(self) -> None:
        for name, (fn, _sql) in self.queries.items():
            self.timed(f"query.{name}",
                       lambda: self.noop(fn(self.spark, self.sf_dir)))

    def warmup(self) -> None:
        """The catalog gate: each query checked against its oracle. This
        warms every query plan, and the replay path too: the three CDC
        queries each replay the same WAL into a table of their own. Then
        one untimed replay of the measured shape, which still runs well
        slower than the next ones."""
        from tap_github_search_spark.plans.common import _ORACLE_LOG

        engine_glob = os.path.join(self.wal, "*.parquet")
        for name, (fn, sql) in self.queries.items():
            ours = fn(self.spark, self.sf_dir).toPandas()
            want = catalog_oracle(sql, self.sf_dir, self.tables,
                                  engine_glob, _ORACLE_LOG)
            err = same_rows(ours, want)
            if err:
                self.fail(f"{name} vs oracle: {err}")
        self._replay(os.path.join(self.work, "table"))

    def measure(self, seconds: float) -> None:
        path = os.path.join(self.work, "table")
        end = time.perf_counter() + seconds
        i = 0
        while self.more_cycles(i, end):
            self.cycle(i)
            table = self.write("replay", lambda: self._replay(path))
            if table is not None:
                self.table = table
                self.lookups(table, 2, record=False)
                self.lookups(table, self.LOOKUPS, record=True)
            if self.tracing and i == 0:
                t0 = time.perf_counter()
                with self.span("suite"):
                    self._suite()
                self.add("suite_s_traced", time.perf_counter() - t0)
            i += 1

    def gate(self) -> None:
        want = lww_oracle(parquet_files(self.wal))
        err = same_rows(self.table.snapshot_df().toPandas(), want)
        if err:
            self.fail(f"replayed table vs oracle: {err}")
        self.check_lookups()
        self.live_rows = len(want)
        self.stats = self.table.stats()

    def wal_files(self) -> tuple[str, ...]:
        return tuple(parquet_files(self.wal))

    def metrics(self) -> dict:
        rs = self.samples.get("replay_s", [])
        look = self.samples.get("lookup_s", [])
        out = {
            "write_p50_ms": (1000 * median(rs), "ms", len(rs)),
            "read_p50_ms": (1000 * median(look), "ms", len(look)),
            "apply_eps": (self.n_events / median(rs), "ev/s", len(rs)),
            "lookup_p50_ms": (1000 * median(look), "ms", len(look)),
            "lake_bytes_per_row": (
                self.stats["total_bytes"] / self.live_rows, "B/row", 1),
        }
        # the catalog suite is timed in the traced run only
        suite = self.samples.get("suite_s_traced", [])
        if suite:
            out["suite_s"] = (median(suite), "s", len(suite))
        for k, v in self.samples.items():
            if k.startswith("query."):
                out[k.removesuffix("_traced") + "_s"] = (median(v), "s",
                                                         len(v))
        return out

    def kernels(self) -> dict:
        return self.isolated_kernels(self.wal)


# ------------------------------------------------------------ tail-derived

class TailDerived(Workload):
    """The streaming side. Scheduled syncs over a loaded base table with
    the per-conversation rollup maintained, each sync one
    ``stream(available_now=True)`` call consuming one newly landed WAL
    file that touches about 1% of the keys. Each sync is followed by a
    batch of zipf-distributed point lookups and full snapshot scans,
    so merge-on-read generations pile up beside live reads."""

    WRITE = "sync"
    N_CONVS = 1_000
    #: sync files touch conv ids 0..SYNC_CONVS-1 (1% of the keys) with
    #: about 2k events each
    SYNC_CONVS = 10
    SYNC_MUTATIONS = 800.0
    #: one warm-up sync, the measured ones, one spare for a fast host
    SYNC_FILES = 4
    N_BUCKETS = 8
    CYCLES = 2
    LOOKUPS = 15
    SCANS = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.base = os.path.join(self.work, "base")
        self.sync_src = os.path.join(self.work, "syncs")
        self.root = os.path.join(self.work, "run")
        self.log = os.path.join(self.root, "log")

    def _kw(self) -> dict:
        return dict(n_buckets=self.N_BUCKETS, merge_mode="mor",
                    max_files_per_trigger=None,
                    rollup_path=os.path.join(self.root, "roll"))

    def setup_pass(self) -> None:
        from tap_github_search_spark.sources.generator import (
            TURN_SPAN,
            write_changelog,
        )
        t0 = time.perf_counter()
        write_changelog(self.spark, self.base, self.N_CONVS, n_files=2,
                        seed=self.seed, mutations_per_conv=4.0)
        # the sync WAL continues the base's seq space over conv ids
        # 0..SYNC_CONVS-1 (a subset of the base keys), one seq-ranged
        # file per sync
        write_changelog(self.spark, self.sync_src, self.SYNC_CONVS,
                        n_files=self.SYNC_FILES, seed=self.seed + 1,
                        mutations_per_conv=self.SYNC_MUTATIONS,
                        seq_offset=self.N_CONVS * TURN_SPAN * 2)
        self.gen_s.append(time.perf_counter() - t0)

    def wal_files(self) -> tuple[str, ...]:
        return tuple(self.consumed)

    def _land(self) -> None:
        src = self.sync_files[self.next_sync]
        dst = os.path.join(self.log, f"zz{self.next_sync:04d}-"
                           + os.path.basename(src))
        os.link(src, dst)
        self.next_sync += 1
        self.consumed.append(dst)

    def _sync(self):
        from tap_github_search_spark.streaming.job import stream

        return stream(self.spark, [self.log], os.path.join(self.root, "t"),
                      os.path.join(self.root, "ckpt"), **self._kw())

    @contextmanager
    def frozen(self):
        """Copy the whole run directory (landed log, table, rollup,
        stream checkpoint) aside; restoring copies it back, so a repeated
        sync sees the same files at the same paths."""
        snap = self.root + ".frozen"
        shutil.rmtree(snap, ignore_errors=True)
        shutil.copytree(self.root, snap)

        def restore():
            shutil.rmtree(self.root)
            shutil.copytree(snap, self.root)
        try:
            yield restore
        finally:
            shutil.rmtree(snap, ignore_errors=True)

    def _scan(self) -> int:
        """Consume every column of every live row."""
        return self.table.snapshot_df().select(
            F.count("*"),
            *[F.max(F.length(c)) for c in ("conv_id", "role", "text",
                                           "tool")],
            F.max("ts"), F.max("turn_idx"),
        ).first()[0]

    def warmup(self) -> None:
        """Initial load of the base WAL (itself a ``stream`` call), then
        an untimed sync and reads of the measured shapes: the first sync
        after the load runs slower and spreads more than later ones."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.log)
        for f in parquet_files(self.base):
            os.link(f, os.path.join(self.log, os.path.basename(f)))
        self.consumed = parquet_files(self.log)
        self.sync_files = parquet_files(self.sync_src)
        self.next_sync = 0
        self._sync()
        self._land()
        self.table = self._sync()
        self.lookups(self.table, 2, record=False)
        self._scan()

    def measure(self, seconds: float) -> None:
        end = time.perf_counter() + seconds
        i = 0
        while (self.more_cycles(i, end)
               and self.next_sync < len(self.sync_files)):
            self._land()
            self.cycle(i)
            table = self.write("sync", self._sync)
            if table is not None:
                self.table = table
            self.lookups(self.table, self.LOOKUPS, record=True)
            for _ in range(self.SCANS):
                n = self.timed("scan_s", self._scan, span="scan")
                if n is not None:
                    self.add("scan_rows", n)
            i += 1

    def gate(self) -> None:
        from tap_github_search_spark.streaming.derived import conv_rollup
        from tap_github_search_spark.table.microlake import MicroLakeTable

        want = lww_oracle(self.consumed)
        main = self.table.snapshot_df()
        err = same_rows(main.toPandas(), want)
        if err:
            self.fail(f"main table vs oracle: {err}")
        self.check_lookups()
        got = MicroLakeTable.load(
            self.spark, self._kw()["rollup_path"]).snapshot_df().drop("ts")
        full = conv_rollup(main).select(*got.columns)
        err = same_rows(got.toPandas(), full.toPandas())
        if err:
            self.fail(f"conv rollup vs a full recompute: {err}")
        self.live_rows = len(want)
        self.stats = self.table.stats()

    def metrics(self) -> dict:
        ss = self.samples.get("sync_s", [])
        look = self.samples.get("lookup_s", [])
        scan = self.samples.get("scan_s", [])
        rows = self.samples.get("scan_rows", [])
        pct, tail = tail_percentile(look)
        return {
            "write_p50_ms": (1000 * median(ss), "ms", len(ss)),
            "read_p50_ms": (1000 * median(look), "ms", len(look)),
            "scan_p50_ms": (1000 * median(scan), "ms", len(scan)),
            "sync_p50_s": (median(ss), "s", len(ss)),
            "lookup_p50_ms": (1000 * median(look), "ms", len(look)),
            "lookup_tail_ms": (1000 * tail, f"ms@p{pct:.0f}", len(look)),
            "scan_rows_per_s": (median(rows) / median(scan), "rows/s",
                                len(scan)),
            "lake_bytes_per_row": (
                self.stats["total_bytes"] / self.live_rows, "B/row", 1),
        }

    def kernels(self) -> dict:
        return self.isolated_kernels(self.base)


WORKLOADS = {
    "backfill": Backfill,
    "tail-derived": TailDerived,
}
