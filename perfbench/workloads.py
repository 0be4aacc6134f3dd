"""The benchmark's workloads.

Each workload stages its inputs from the seed, warms up, and then hands the
runner an endless sequence of *blocks*: fixed groups of ops that one
closed-loop client runs back to back. The runner measures whole blocks
until the run's seconds are used up, so every run of a workload measures
the same mix. Output checks run outside the timed ops and outside set-up.

- ``copy_poll``: a scheduler ticking over two feeds, a watermark-triggered
  incremental copy (with a JDBC dimension job) and a streaming upsert;
  three of every four ticks find nothing new.
- ``query_mix``: four registry queries, relational and operator families.
"""

from __future__ import annotations

import os
import random
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable, Iterator

import duckdb

from . import fixtures
from .stats import median

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
#: ops per polling block: one lands data, the rest find none. An assumed
#: traffic shape, not a measured one: the reference scheduler wakes every
#: minute, but nothing records how often its sources change. A 3:1 no-op to
#: delta ratio keeps most ticks on the trigger probe while every block still
#: publishes.
POLL_BLOCK = 4


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    prepare: Callable[[], None] | None = None
    check: Callable[[object], list[str]] | None = None
    family: str = ""


@dataclass
class OpResult:
    kind: str
    family: str
    seconds: float
    problems: list[str]
    out: object = None
    exec: dict | None = None


@dataclass
class Context:
    spark: object
    run_dir: str
    fixtures_dir: str
    fixture_rows: dict[str, int]
    seed: int
    sf: float
    cores: int
    rng: random.Random
    recorder: object | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def span(self, name: str):
        """A benchmark-side span when tracing, a no-op otherwise."""
        if self.recorder is None:
            return nullcontext()
        return self.recorder.span(name)


# -- shared checks (DuckDB over the parquet files; no Spark job) ---------------
def oracle_harness():
    """The repository's DuckDB oracle harness (``tests/oracle_harness.py``):
    fixture views and the order-insensitive frame comparison."""
    tests = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle_harness

    return oracle_harness


def _parquet(path: str) -> str:
    if os.path.isdir(path):
        nested = any(os.path.isdir(os.path.join(path, e)) for e in os.listdir(path))
        glob = os.path.join(path, "*/*.parquet" if nested else "*.parquet")
        return f"read_parquet('{glob}', hive_partitioning = {str(nested).lower()})"
    return f"read_parquet('{path}')"


def _canonical(name: str, dtype: str) -> str:
    """A column normalised past representation-only differences: timestamps
    as epoch micros, integers as BIGINT, floats rounded to the oracle
    harness's 6 decimals."""
    if dtype == "DATE":
        return f"epoch_us(CAST({name} AS TIMESTAMP))"
    if "TIMESTAMP" in dtype:
        return f"epoch_us({name})"
    if dtype in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
        return f"CAST({name} AS BIGINT)"
    if dtype in ("FLOAT", "DOUBLE") or dtype.startswith("DECIMAL"):
        return f"ROUND(CAST({name} AS DOUBLE), 6)"
    return name


def content_hash(relation: str, columns: list[str] | None = None) -> tuple[int, int, list[str]]:
    """Order-insensitive hash of a relation: (rows, sum of row hashes, columns)."""
    con = duckdb.connect()
    try:
        described = [(name, dtype) for name, dtype, *_ in
                     sorted(con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall())
                     if columns is None or name in columns]
        select = ", ".join(_canonical(name, dtype) for name, dtype in described)
        rows, total = con.sql(
            f"SELECT count(*), coalesce(sum(hash({select})::HUGEINT), 0) FROM {relation}"
        ).fetchone()
        return int(rows), int(total), [name for name, _ in described]
    finally:
        con.close()


def compare(label: str, got: str, want: str, columns: list[str] | None = None) -> list[str]:
    g, w = content_hash(got, columns), content_hash(want, columns)
    if g == w:
        return []
    return [f"{label}: published (rows, hash, columns) {g} != source {w}"]


def unique_bytes(path: str) -> int:
    """Bytes on disk under ``path``, each inode counted once (hard links
    carried between versions share their data)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            st = os.lstat(os.path.join(root, name))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def _published(catalog, schema: str, table: str) -> str:
    return _parquet(catalog.version_dir(schema, catalog.current_version(schema, table)))


def stage_derby(ctx: Context, table: str, key: str) -> dict:
    """Load a fixture table into an embedded Derby database through the
    program's bulk loader; returns the JDBC source block of a job spec,
    partitioned on ``key`` over at most one connection per core."""
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.config.spec import SourceSpec
    from mssql2monetdb_spark.sources.jdbc import jdbc_bulk_loader

    db = ctx.path("derby", table)
    df = ctx.spark.read.parquet(os.path.join(ctx.fixtures_dir, f"{table}.parquet"))
    # Derby has no TIMESTAMP_NTZ column type
    df = df.select(*[F.col(c).cast("timestamp") if t == "timestamp_ntz" else F.col(c)
                     for c, t in df.dtypes])
    loader = SourceSpec(name="derby", format="jdbc",
                        options={"url": f"jdbc:derby:{db};create=true", "driver": DERBY_DRIVER})
    jdbc_bulk_loader(ctx.spark, df, loader, table, staging_dir=ctx.path("derby", f"stage_{table}"))
    return {"format": "jdbc", "options": {
        "url": f"jdbc:derby:{db}", "driver": DERBY_DRIVER,
        "partitionColumn": key, "numPartitions": str(ctx.cores)}}


# -- polling feeds -------------------------------------------------------------
def _land(table, directory: str, name: str) -> float:
    """Write one feed file atomically; returns when it became visible."""
    fixtures.write_table(table, os.path.join(directory, name))
    return time.perf_counter()


class CopyFeed:
    """Watermark-triggered incremental copy of a file feed of ``orders``.

    The spec also copies ``customer`` from an embedded Derby database on
    every tick that fires (one trigger gates the whole job set, as in the
    reference), so the partitioned JDBC extract and keep-2 retention run on
    every delta tick. A no-op tick must exit 2; a delta tick lands the next
    key range, must exit 0, then counts the published view until the rows
    show."""

    prefix = "copy"

    def setup(self, ctx: Context) -> None:
        from mssql2monetdb_spark.config.spec import load_spec
        from mssql2monetdb_spark.engine.copy import CopyEngine

        self.ctx = ctx
        n = ctx.fixture_rows["orders"]
        self.customers = ctx.fixture_rows["customer"]
        # assumed shapes, like POLL_BLOCK: about half the key range is
        # already there, and one delta brings 1% of the table
        self.next_key = int(n * ctx.rng.uniform(0.45, 0.55))
        self.rows_per_delta = max(1, n // 100)
        self.src = ctx.path("poll_src")
        self.feed = os.path.join(self.src, "orders.parquet")
        os.makedirs(self.feed)
        _land(fixtures.orders_rows(ctx.seed, 0, self.next_key, self.customers), self.feed,
              "part-00000.parquet")
        self.landed = 1
        spec = load_spec({
            "warehouse_dir": ctx.path("poll_wh"),
            "sources": {"files": {"format": "parquet", "path": self.src},
                        "derby": stage_derby(ctx, "customer", "c_custkey")},
            "tables": {
                "orders_sync": {
                    "source": "files", "from_table": "orders", "to_table": "orders_sync",
                    "trigger": {"column": "o_orderkey"}, "incremental": True},
                "customer": {"source": "derby", "from_table": "customer", "to_table": "customer"},
            },
        })
        self.engine = CopyEngine(ctx.spark, spec)
        self.date = datetime(2024, 1, 1)

    def _tick(self) -> int:
        self.date += timedelta(minutes=1)
        return self.engine.run(load_date=self.date)

    def _visible(self) -> float | None:
        """Count the published view until the landed rows show."""
        for _ in range(5):
            if self.ctx.spark.table("orders_sync").count() == self.next_key:
                return time.perf_counter()
        return None

    def delta(self) -> Op:
        landed = {}

        def prepare():
            lo, self.next_key = self.next_key, self.next_key + self.rows_per_delta
            rows = fixtures.orders_rows(self.ctx.seed, lo, self.next_key, self.customers)
            landed["at"] = _land(rows, self.feed, f"part-{self.landed:05d}.parquet")
            self.landed += 1

        def run():
            rc = self._tick()
            return rc, landed["at"], self._visible()

        def check(out) -> list[str]:
            rc, _, visible = out
            if rc != 0:
                return [f"delta tick exited {rc}, expected 0"]
            return [] if visible else ["landed rows never showed in the published view"]

        return Op("delta", run, prepare, check)

    def noop(self) -> Op:
        return Op("noop", self._tick,
                  check=lambda rc: [] if rc == 2 else [f"no-op tick exited {rc}, expected 2"])

    def warmup(self) -> list[str]:
        first = self._tick()
        return [] if first == 0 else [f"first tick exited {first}"]

    def final_checks(self) -> list[str]:
        cat = self.engine.catalog
        return compare("orders_sync", _published(cat, "default", "orders_sync"),
                       _parquet(self.feed)) + compare(
            "customer (jdbc)", _published(cat, "default", "customer"),
            _parquet(os.path.join(self.ctx.fixtures_dir, "customer.parquet")))

    def bytes(self) -> tuple[int, int]:
        """(warehouse bytes, source bytes of the rows copied)."""
        src = unique_bytes(self.feed) + os.path.getsize(
            os.path.join(self.ctx.fixtures_dir, "customer.parquet"))
        return unique_bytes(self.engine.spec.warehouse_dir), src


class StreamFeed:
    """The streaming version of a polling feed: ``events`` files drained by
    ``upsert_stream_available_now`` (one micro-batch per file, persistent
    checkpoint, hash-bucketed versioned table). Every tick drains and reads
    the published view; a delta tick first lands a file."""

    prefix = "stream"
    FILES_PER_DELTA = 1
    BUCKETS = 8

    def setup(self, ctx: Context) -> None:
        from mssql2monetdb_spark.engine.publish import VersionedCatalog

        self.ctx = ctx
        self.n_events = ctx.fixture_rows["events"]
        self.users = fixtures.n_users(ctx.sf)
        self.file_rows = max(1, self.n_events // 50)
        self.rows_per_delta = self.file_rows * self.FILES_PER_DELTA
        self.inbox = ctx.path("stream_in")
        self.checkpoint = ctx.path("stream_ckpt")
        os.makedirs(self.inbox)
        self.catalog = VersionedCatalog(ctx.path("stream_wh"))
        self.next_id = 0
        self.landed = 0
        # the seeded first share of the feed arrives as one file
        self.initial = int(self.n_events * ctx.rng.uniform(0.45, 0.55))

    def _land_files(self, sizes: list[int]) -> float:
        at = time.perf_counter()
        for size in sizes:
            lo, self.next_id = self.next_id, self.next_id + size
            rows = fixtures.events_rows(self.ctx.seed, lo, self.next_id, self.n_events, self.users)
            at = _land(rows, self.inbox, f"events-{self.landed:05d}.parquet")
            self.landed += 1
        return at

    def _commits(self) -> int:
        commits = os.path.join(self.checkpoint, "commits")
        if not os.path.isdir(commits):
            return 0
        return sum(1 for name in os.listdir(commits) if name.isdigit())

    def _drain(self):
        from pyspark.sql import functions as F

        from mssql2monetdb_spark.streaming.pipelines import (
            events_stream,
            upsert_stream_available_now,
        )

        before = self._commits()
        with self.ctx.span("stream.drain"):
            upsert_stream_available_now(
                events_stream(self.ctx.spark, self.inbox, max_files_per_trigger=1),
                self.catalog, "main", "user_state", self.checkpoint,
                partition_buckets=self.BUCKETS,
            )
        # the sync publishes from the stream's own session, so readers go
        # through the catalog rather than that session's temp view
        published = self.catalog.table_at(self.ctx.spark, "main", "user_state")
        newest = published.agg(F.max("event_id")).first()[0]
        return self._commits() - before, newest, time.perf_counter()

    def _op(self, files: int) -> Op:
        landed = {}

        def prepare():
            landed["at"] = self._land_files([self.file_rows] * files)

        def run():
            batches, newest, visible = self._drain()
            return batches, newest, landed["at"], visible

        def check(out) -> list[str]:
            batches, newest, _, _ = out
            problems = []
            if batches != files:
                problems.append(f"drain ran {batches} batches for {files} new files")
            if newest != self.next_id - 1:
                problems.append(f"published view shows event {newest}, newest landed is "
                                f"{self.next_id - 1}")
            return problems

        return Op("delta" if files else "noop", run, prepare, check)

    def delta(self) -> Op:
        return self._op(self.FILES_PER_DELTA)

    def noop(self) -> Op:
        return self._op(0)

    def warmup(self) -> list[str]:
        self._land_files([self.initial])
        batches, newest, _ = self._drain()
        if batches == 1 and newest == self.next_id - 1:
            return []
        return [f"initial drain ran {batches} batches, shows event {newest}"]

    def final_checks(self) -> list[str]:
        latest = (
            "(SELECT event_id, ts, user_id, event_type, value, props FROM ("
            " SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)"
            f" AS rn FROM {_parquet(self.inbox)}) WHERE rn = 1)"
        )
        columns = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        return compare("user_state", _published(self.catalog, "main", "user_state"), latest,
                       columns)

    def bytes(self) -> tuple[int, int]:
        return unique_bytes(self.catalog.warehouse_dir), unique_bytes(self.inbox)


class Poll:
    """A scheduler polling one or more feeds. Each op is one tick that
    polls every feed in turn; one tick of every ``POLL_BLOCK``, at a seeded
    position, first lands new data in each feed. A tick's result is its
    feeds' results, a delta feed's ending ``(landed_at, visible_at)``."""

    def __init__(self, name: str, feeds: tuple[type, ...]):
        self.name = name
        self.feeds = [feed() for feed in feeds]

    def setup(self, ctx: Context) -> None:
        self.ctx = ctx
        for feed in self.feeds:
            feed.setup(ctx)

    def warmup(self) -> list[str]:
        """Each feed's first load."""
        return [p for feed in self.feeds for p in feed.warmup()]

    def _tick(self, kind: str, parts: list[Op]) -> Op:
        def prepare():
            for part in parts:
                if part.prepare is not None:
                    part.prepare()

        def check(outs) -> list[str]:
            return [p for part, out in zip(parts, outs) for p in part.check(out)]

        return Op(kind, lambda: [part.run() for part in parts], prepare, check)

    def blocks(self) -> Iterator[list[Op]]:
        while True:
            where = self.ctx.rng.randrange(POLL_BLOCK)
            yield [
                self._tick("delta", [f.delta() for f in self.feeds]) if i == where
                else self._tick("noop", [f.noop() for f in self.feeds])
                for i in range(POLL_BLOCK)
            ]

    def final_checks(self) -> list[str]:
        return [p for feed in self.feeds for p in feed.final_checks()]

    def report(self, results: list[OpResult]) -> dict[str, tuple[float, str]]:
        timed = sum(r.seconds for r in results)
        deltas = [r.out for r in results if r.kind == "delta" and not r.problems]
        stored = [f.bytes() for f in self.feeds]
        out = {
            "rows_per_s": (sum(f.rows_per_delta for f in self.feeds) * len(deltas) / timed,
                           "rows/s"),
            "freshness_s": (median([max(o[-1] for o in outs) - min(o[-2] for o in outs)
                                    for outs in deltas]), "s"),
            "noop_tick_s": (median([r.seconds for r in results if r.kind == "noop"]), "s"),
            "stored_bytes_per_src_byte": (sum(w for w, _ in stored) / sum(s for _, s in stored),
                                          "ratio"),
        }
        if len(self.feeds) > 1:
            for i, f in enumerate(self.feeds):
                out[f"freshness_s.{f.prefix}"] = (
                    median([outs[i][-1] - outs[i][-2] for outs in deltas]), "s")
        return out


# -- query_mix -----------------------------------------------------------------
# Four registry queries: three operator queries that ROADMAP items 2 and 3
# target (the anti-scaling ANN and n-gram queries, connected components)
# and one relational query. A run pays for one cold pass (JIT and codegen
# warm-up, plus the oracle check) and three timed passes. With twelve
# queries (adding agg_tpch_q1, tpch_q5, tpch_q18, join_inner,
# window_row_number, rollup_time_buckets, dedup_minhash_lsh and
# graph_pagerank) a run took 110-145 s on a 4-vCPU host, more than the
# benchmark's run budget allows.
RELATIONAL = ("tpch_q3_shipping_priority",)
OPERATORS = (
    "dedup_connected_components",
    "dedup_ngram_jaccard",
    "ann_ivfadc_topk",
)


class QueryMix:
    name = "query_mix"

    def setup(self, ctx: Context) -> None:
        import mssql2monetdb_spark.queries  # noqa: F401 - fills the registry
        from mssql2monetdb_spark.queries.registry import REGISTRY

        self.ctx = ctx
        self.queries = {name: REGISTRY[name] for name in RELATIONAL + OPERATORS}
        self.collected = {}

    def _release(self) -> None:
        from mssql2monetdb_spark.engine import caches

        with self.ctx.span("caches.release"):
            released = caches.release()
            self.ctx.spark.catalog.clearCache()
        if self.ctx.recorder is not None:
            self.ctx.recorder.count("caches.released", released)

    def _op(self, name: str) -> Op:
        q, ctx = self.queries[name], self.ctx

        def run():
            with ctx.span("queries.build"):
                df = q.build(ctx.spark, ctx.fixtures_dir)
            if ctx.recorder is not None:
                with ctx.span("plan"):
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            with ctx.span("exec.action"):
                df.write.mode("overwrite").format("noop").save()
            self._release()

        return Op(name, run, family="relational" if name in RELATIONAL else "operators")

    def warmup(self) -> list[str]:
        """One pass in registry order that collects every result; they are
        compared with the registry oracles in ``final_checks``."""
        for name, q in self.queries.items():
            self.collected[name] = q.build(self.ctx.spark, self.ctx.fixtures_dir).toPandas()
            self._release()
        return []

    def blocks(self) -> Iterator[list[Op]]:
        names = list(self.queries)
        while True:
            self.ctx.rng.shuffle(names)
            yield [self._op(n) for n in names]

    def final_checks(self) -> list[str]:
        """Every query against its registry oracle, once per run."""
        harness = oracle_harness()
        duck = harness.duckdb_connection(self.ctx.fixtures_dir)
        try:
            oracles = {name: duck.sql(q.oracle).df() for name, q in self.queries.items()}
        finally:
            duck.close()
        return [f"{name}: {p}" for name, result in self.collected.items()
                for p in harness.compare_frames(result, oracles[name])]

    def report(self, results: list[OpResult]) -> dict[str, tuple[float, str]]:
        per_pass = len(self.queries)
        out = {}
        for family in ("relational", "operators"):
            sums = [
                sum(r.seconds for r in results[i:i + per_pass] if r.family == family)
                for i in range(0, len(results), per_pass)
            ]
            out[f"wall_s.{family}"] = (median(sums), "s")
        for name in self.queries:
            out[f"query.{name}.s"] = (median([r.seconds for r in results if r.kind == name]), "s")
        return out


WORKLOADS = {
    "copy_poll": lambda: Poll("copy_poll", (CopyFeed, StreamFeed)),
    "query_mix": QueryMix,
}
