"""The benchmark's two closed-loop, single-client workloads.

Each workload calls only the package's public functions and times
those calls from outside. ``warm_up`` brings the JVM to a repeatable
point before timing; ``unit`` runs one measured unit of work (a pass of
the query mix, or a round of increment cycles closed by a full medallion
refresh) and returns its operations; checks raise nothing — a wrong
result is recorded as a failed operation so that it counts in the error
rate.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

import gen


@dataclass
class Op:
    kind: str
    latency: float
    ok: bool
    op_id: str
    detail: str = ""


# Operation kinds that are reads: gold-mart read-backs, queries and
# snapshot-table reads.
READ_KINDS = ("read", "query", "snapshot_read")


class Context:
    """What every workload shares: the session, the run's fresh work
    dir, the input cache, the seed and the tracing hooks."""

    def __init__(self, spark, work, cache, seed, tracer, engine, rss):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.tracer = tracer
        self.engine = engine
        self.rss = rss
        self._n = 0

    def op_id(self, kind: str) -> str:
        self._n += 1
        return f"{kind}-{self._n:05d}"

    def call(self, op_id: str):
        """Job group around one operation (engine metrics only)."""
        return self.engine.group(op_id) if self.engine is not None else nullcontext()


def digest(df) -> str:
    """Order-independent result digest: row count and the wrapping sum
    of ``xxhash64`` over every column. Doubles are rounded to 6 places
    first, so partial-aggregate merge order cannot change the digest."""
    cols = [
        F.round(F.col(c), 6) if t in ("double", "float") else F.col(c) for c, t in df.dtypes
    ]
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for _ in f)


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


# --- medallion refresh (half of lakehouse_writes) ---------------------------------


class MedallionRefresh:
    """Repeated full refreshes (ingest_folder → bronze_flow → silver_flow
    → gold_flow) over one seeded CSV drop. Write-heavy; never touches
    ``plans`` or ``sources.snapshots``."""

    op_kind = "refresh"
    N_BANDS = 250

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.reference: dict[str, str] = {}
        self.zones = os.path.join(ctx.work, "zones")
        self.layer: dict[str, list[float]] = {}
        self.amplification: list[float] = []

    def prepare(self) -> None:
        self.src, self.manifest = gen.cached(self.ctx.cache, "medallion", self.ctx.seed, self.N_BANDS)

    def unit(self) -> list[Op]:
        from deathmetal_datalake_spark.flows.bronze import bronze_flow
        from deathmetal_datalake_spark.flows.gold import gold_flow
        from deathmetal_datalake_spark.flows.ingest import ingest_folder
        from deathmetal_datalake_spark.flows.silver import silver_flow

        ctx, z = self.ctx, self.zones
        op_id = ctx.op_id(self.op_kind)
        span = ctx.tracer.span
        t0 = time.perf_counter()
        with ctx.call(op_id), span("refresh", op_id):
            with span("flows.ingest"):
                ingest_folder(self.src, f"{z}/landing")
            with span("flows.bronze"):
                bronze = bronze_flow(ctx.spark, f"{z}/landing", f"{z}/bronze")
            with span("flows.silver"):
                silver = silver_flow(ctx.spark, bronze, f"{z}/silver")
            with span("flows.gold"):
                gold = gold_flow(ctx.spark, silver, f"{z}/gold")
        latency = time.perf_counter() - t0
        ctx.rss.sample()
        self.amplification.append(dir_bytes(z) / self.manifest["source_bytes"])
        if ctx.tracer.enabled:
            self._layer_counts(bronze, silver)
        why = self.check(silver, gold)
        return [Op(self.op_kind, latency, not why, op_id, why), *self.read_marts(gold)]

    def read_marts(self, gold: dict) -> list[Op]:
        """Read every gold mart back (an analyst's read of the refresh)
        and compare its digest with the first refresh's."""
        ops = []
        for name, path in sorted(gold.items()):
            op_id = self.ctx.op_id("read")
            t0 = time.perf_counter()
            with self.ctx.call(op_id), self.ctx.tracer.span("read_mart", op_id):
                got = digest(self.ctx.spark.read.parquet(path))
            latency = time.perf_counter() - t0
            want = self.reference.setdefault(name, got)
            why = "" if got == want else f"{name} digest {got} != {want}"
            ops.append(Op("read", latency, not why, op_id, why))
        return ops

    def check(self, silver: dict, gold: dict) -> str:
        spark = self.ctx.spark
        n = spark.read.parquet(silver["reviews"]).count()
        if n != self.manifest["distinct_reviews"]:
            return f"silver reviews {n} != {self.manifest['distinct_reviews']} distinct generated"
        top = spark.read.parquet(gold["top10_by_country"]).groupBy("country").count()
        worst = top.agg(F.max("count")).collect()[0][0]
        if worst > 10:
            return f"top10_by_country holds {worst} rows for one country"
        bra = spark.read.parquet(gold["brazilian_bands"]).select("band_id")
        avg = spark.read.parquet(gold["band_avg_scores"]).select("band_id")
        if bra.count() == 0 or bra.subtract(avg).count():
            return "brazilian_bands is empty or not a subset of band_avg_scores"
        return ""

    def _layer_counts(self, bronze: dict, silver: dict) -> None:
        z = self.zones
        add = lambda k, v: self.layer.setdefault(k, []).append(float(v))  # noqa: E731
        add("flows.ingest.bytes_out", dir_bytes(f"{z}/landing"))
        add("flows.bronze.rows_out", parquet_rows([f for p in bronze.values() for f in parquet_files(p)]))
        add("flows.bronze.bytes_out", dir_bytes(f"{z}/bronze"))
        add("flows.silver.rows_out", parquet_rows([f for p in silver.values() for f in parquet_files(p)]))
        add("flows.silver.bytes_out", dir_bytes(f"{z}/silver"))
        add("flows.gold.bytes_out", dir_bytes(f"{z}/gold"))

    def named(self, ops: list[Op]) -> dict:
        lat = [o.latency for o in ops if o.kind == self.op_kind]
        return {
            "refresh_rows_per_s": (self.manifest["source_rows"] / np.median(lat), "rows/s", len(lat)),
            "bytes_written_per_source_byte": (np.median(self.amplification), "ratio", len(self.amplification)),
        }

    def layer_metrics(self) -> dict[str, float]:
        return {k: np.median(v) for k, v in self.layer.items()}

    def sizes(self) -> dict:
        return {"bands": self.manifest["bands"], "albums": self.manifest["albums"],
                "reviews": self.manifest["distinct_reviews"], "source_bytes": self.manifest["source_bytes"]}


# --- query_mix -------------------------------------------------------------------


def _code_hash(root: str) -> str:
    """Hash of every source file the query results depend on, so cached
    oracle verdicts are reused only for identical code."""
    h = hashlib.sha256(f"gen{gen.GEN_VERSION}".encode())
    files = sorted(glob.glob(os.path.join(root, "deathmetal_datalake_spark", "**", "*.py"), recursive=True))
    files += [os.path.join(root, "__spark_entry__.py"), os.path.join(root, "tests", "oracle_harness.py")]
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class QueryMix:
    """A seeded order over a fixed pass of catalog queries, called
    through ``__spark_entry__.queries()`` on fixed generated tables.
    Read-only; bypasses ``flows`` and every write path."""

    name = "query_mix"
    op_kind = "query"
    SF = 0.01
    # The tables are fixed (like the catalog's own test tables); the
    # seed picks the query order.
    DATA_SEED = 42

    def __init__(self, ctx: Context, root: str):
        self.ctx = ctx
        self.root = root
        self.passes = 0

    def prepare(self) -> None:
        import __spark_entry__
        from deathmetal_datalake_spark.plans import QUERIES

        self.data, self.manifest = gen.cached(self.ctx.cache, "star", self.DATA_SEED, self.SF)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.family = {n: QUERIES[n].__module__.rsplit(".", 1)[1] for n in set(gen.QUERY_PASS)}

    def warm_up(self) -> list[Op]:
        """One cold sequential pass, then a check of each distinct
        query against its oracle; the pass's results are checked after
        that. The oracle check is excluded from set-up time
        (``untimed_s``)."""
        runs = self._pass()
        self.warm_digests = {}
        for name, _, d, _ in runs:
            self.warm_digests.setdefault(name, d)
        t0 = time.perf_counter()
        self.oracle_failures = self._verify()
        self.untimed_s = time.perf_counter() - t0
        return self._checked(runs)

    def _verify(self) -> list[str]:
        """Check each query once against its DuckDB oracle (cached per
        code and data version) and pin the verified digests. Returns the
        names that failed."""
        from tests.oracle_harness import compare_query

        path = os.path.join(self.ctx.cache, f"oracle-{_code_hash(self.root)}-{self.DATA_SEED}-{self.SF}.json")
        if os.path.exists(path):
            with open(path) as f:
                self.verified = json.load(f)
        else:
            self.verified = {}
            for name in sorted(self.warm_digests):
                r = compare_query(self.ctx.spark, name, self.queries[name], self.oracles[name], self.data)
                if r["match"] is True:
                    self.verified[name] = self.warm_digests[name]
                else:
                    print(f"# oracle mismatch {name}: {r.get('why')}", flush=True)
            if len(self.verified) == len(self.warm_digests):
                tmp = f"{path}.tmp{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump(self.verified, f)
                os.replace(tmp, path)
        return [n for n, d in self.warm_digests.items() if self.verified.get(n) != d]

    def unit(self) -> list[Op]:
        return self._checked(self._pass())

    def _pass(self) -> list[tuple[str, float, str, str]]:
        """The next seeded pass: (query, latency, digest, op id) each."""
        ctx = self.ctx
        order = gen.query_passes(ctx.seed, self.passes + 1)[self.passes]
        self.passes += 1
        runs = []
        for name in order:
            fam = self.family[name]
            op_id = ctx.op_id(self.op_kind)
            with ctx.call(op_id), ctx.tracer.span("query", op_id, query=name):
                t0 = time.perf_counter()
                with ctx.tracer.span(f"plans.{fam}.build"):
                    df = self.queries[name](ctx.spark, self.data)
                with ctx.tracer.span(f"plans.{fam}.exec"):
                    d = digest(df)
                t2 = time.perf_counter()
            ctx.rss.sample()
            runs.append((name, t2 - t0, d, op_id))
        return runs

    def _checked(self, runs) -> list[Op]:
        ops = []
        for name, latency, d, op_id in runs:
            ok = d == self.verified.get(name)
            ops.append(Op(self.op_kind, latency, ok, op_id, "" if ok else f"{name} digest {d}"))
        return ops

    def named(self, ops: list[Op]) -> dict:
        lat = [o.latency for o in ops]
        return {
            "query_p50_s": (np.median(lat), "s", len(lat)),
            "query_p90_s": (float(np.percentile(lat, 90)), "s", len(lat)),
            "queries_per_min": (60.0 * len(lat) / sum(lat), "1/min", len(lat)),
        }

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def sizes(self) -> dict:
        return {"sf": self.SF, **self.manifest, "queries_per_pass": len(gen.QUERY_PASS)}


# --- increments (half of lakehouse_writes) ----------------------------------------


class LakehouseIncrements:
    """Seeded reviews chunks land one per cycle and flow through the
    streaming landing → bronze path, silver typing and an append to a
    versioned table, followed by point, range and time-travel reads.
    Every fifth cycle also deletes keys, and the tenth cycle of every
    round compacts the table."""

    op_kind = "freshness"
    CHUNK_ROWS = 2000
    N_ALBUMS = 5000
    ROUND = 10
    DELETE_EVERY = 5
    DELETE_KEYS = 50
    RANGE_WIDTH = 400

    def __init__(self, ctx: Context):
        self.ctx = ctx
        w = ctx.work
        self.landing, self.bronze = f"{w}/inc/landing", f"{w}/inc/bronze"
        self.errors, self.ckpt = f"{w}/inc/errors", f"{w}/inc/checkpoint"
        self.cycle = 0
        self.next_id = 1
        self.live: set[int] = set()
        self.landed = 0
        self.deleted = 0
        self.at_commit: dict[int, int] = {}
        self.layer: dict[str, list[float]] = {}

    def prepare(self) -> None:
        from deathmetal_datalake_spark.sources.snapshots import SnapshotTable

        os.makedirs(f"{self.landing}/reviews", exist_ok=True)
        self.table = SnapshotTable(self.ctx.spark, f"{self.ctx.work}/inc/table")

    def unit(self) -> list[Op]:
        """Cycles up to and including the next compaction."""
        ops = self._cycle()
        while self.cycle % self.ROUND:
            ops += self._cycle()
        return ops

    def _add(self, k: str, v: float) -> None:
        self.layer.setdefault(k, []).append(float(v))

    def _cycle(self) -> list[Op]:
        from deathmetal_datalake_spark.flows.silver import transform_reviews
        from deathmetal_datalake_spark.streaming.landing import stream_landing_to_bronze

        ctx, span, tbl = self.ctx, self.ctx.tracer.span, self.table
        self.cycle += 1
        c = self.cycle
        rng = np.random.default_rng([ctx.seed, 5, c])
        text, ids = gen.increment_chunk(ctx.seed, c, self.next_id, self.CHUNK_ROWS, self.N_ALBUMS)
        self.next_id += self.CHUNK_ROWS
        dest = f"{self.landing}/reviews/chunk_{c:05d}.csv"
        with open(f"{self.landing}/.chunk.tmp", "w") as f:
            f.write(text)
        os.replace(f"{self.landing}/.chunk.tmp", dest)

        op_id = ctx.op_id(self.op_kind)
        t_land = time.perf_counter()
        with ctx.call(op_id), span("cycle", op_id):
            if c % self.DELETE_EVERY == 0 and self.live:
                doomed = sorted(int(k) for k in rng.choice(sorted(self.live), self.DELETE_KEYS, replace=False))
                keys = ctx.spark.createDataFrame([(k,) for k in doomed], "id long")
                with span("sources.snapshots.delete_keys"):
                    snap = tbl.delete_keys(keys, "id")
                self.live.difference_update(doomed)
                self.deleted += len(doomed)
                self.at_commit[snap.snapshot_id] = len(self.live)
            if c % self.ROUND == 0:
                with span("sources.snapshots.compact"):
                    snap = tbl.compact()
                self.at_commit[snap.snapshot_id] = len(self.live)
            before = set(glob.glob(f"{self.bronze}/reviews/*.parquet"))
            errors_before = set(glob.glob(f"{self.errors}/reviews/batch-*"))
            with span("streaming.landing"):
                q = stream_landing_to_bronze(
                    ctx.spark, self.landing, self.bronze, "reviews", gen.REVIEWS_HEADER,
                    self.ckpt, errors_dir=self.errors,
                )
                q.awaitTermination()
            if ctx.engine is not None:
                ctx.engine.add_group(op_id, str(q.runId))
            new = sorted(set(glob.glob(f"{self.bronze}/reviews/*.parquet")) - before)
            batch = ctx.spark.read.parquet(*new)
            with span("flows.silver.transform_reviews"):
                silver = transform_reviews(batch)
            with span("sources.snapshots.write"):
                snap = tbl.write(silver, mode="append")
        freshness = time.perf_counter() - t_land
        self.live.update(ids)
        self.landed += len(ids)
        self.at_commit[snap.snapshot_id] = len(self.live)
        ctx.rss.sample()
        if ctx.tracer.enabled:
            self._add("streaming.landing.rows_in", parquet_rows(new))
            errors = set(glob.glob(f"{self.errors}/reviews/batch-*")) - errors_before
            self._add("streaming.landing.corrupt_rows", sum(_lines(p) for p in errors))
        why = self._check_head()
        ops = [Op(self.op_kind, freshness, not why, op_id, why)]
        ops += self._reads(rng)
        return ops

    def _check_head(self) -> str:
        n = self.table.read().count()
        if n != self.landed - self.deleted:
            return f"head holds {n} rows, expected {self.landed} landed - {self.deleted} deleted"
        return ""

    def _reads(self, rng) -> list[Op]:
        ctx, tbl = self.ctx, self.table
        key = int(rng.integers(1, self.next_id))
        lo = int(rng.integers(1, max(self.next_id - self.RANGE_WIDTH, 2)))
        history = [s.snapshot_id for s in tbl.history()]
        older = [s for s in history[:-1] if s in self.at_commit] or history[-1:]
        travel = int(older[int(rng.integers(0, len(older)))])
        point_f = [("id", "=", key)]
        range_f = [("id", ">=", lo), ("id", "<", lo + self.RANGE_WIDTH)]
        plans = [
            ("read_point", lambda: tbl.read(filters=point_f).count(), int(key in self.live), point_f),
            ("read_range", lambda: tbl.read(filters=range_f).count(),
             sum(1 for k in range(lo, lo + self.RANGE_WIDTH) if k in self.live), range_f),
            ("read_travel", lambda: tbl.read(snapshot_id=travel).count(), self.at_commit.get(travel), None),
        ]
        ops = []
        for kind, run, expected, filters in plans:
            op_id = ctx.op_id(kind)
            t0 = time.perf_counter()
            with ctx.call(op_id), ctx.tracer.span(f"sources.snapshots.{kind}", op_id):
                got = run()
            ops.append(Op("snapshot_read", time.perf_counter() - t0, got == expected, op_id,
                          "" if got == expected else f"{kind} {got} != {expected}"))
            if ctx.tracer.enabled and filters is not None:
                kept, pruned = tbl.scan_dirs(filters)
                self._add("sources.snapshots.dirs_scanned_ratio", len(kept) / max(len(kept) + len(pruned), 1))
                kept, pruned = tbl.scan_files(filters)
                self._add("sources.snapshots.files_scanned_ratio", len(kept) / max(len(kept) + len(pruned), 1))
        if ctx.tracer.enabled:
            self._add("sources.snapshots.data_dirs", len(tbl.history()[-1].data_dirs))
        return ops

    def named(self, ops: list[Op]) -> dict:
        fresh = [o.latency for o in ops if o.kind == self.op_kind]
        reads = [o.latency for o in ops if o.kind == "snapshot_read"]
        return {
            "freshness_p50_s": (np.median(fresh), "s", len(fresh)),
            "freshness_p75_s": (float(np.percentile(fresh, 75)), "s", len(fresh)),
            "snapshot_read_p50_s": (np.median(reads), "s", len(reads)),
            "snapshot_read_p90_s": (float(np.percentile(reads, 90)), "s", len(reads)),
            "bytes_written_per_source_byte": (
                dir_bytes(f"{self.ctx.work}/inc") / dir_bytes(self.landing) - 1.0, "ratio", 1),
        }

    def layer_metrics(self) -> dict[str, float]:
        return {k: np.median(v) for k, v in self.layer.items()}

    def sizes(self) -> dict:
        return {"chunk_rows": self.CHUNK_ROWS, "corrupt_rate": gen.CORRUPT_RATE,
                "cycles_per_round": self.ROUND, "delete_every": self.DELETE_EVERY,
                "delete_keys": self.DELETE_KEYS}


# --- lakehouse_writes ------------------------------------------------------------


class LakehouseWrites:
    """Both write paths of the lakehouse on one session: a round of
    increment cycles (``LakehouseIncrements``), closed by a full batch
    refresh of the medallion zones (``MedallionRefresh``). The operation
    is an increment's freshness; the refresh is on the client's busy
    time and its five gold marts are read back."""

    name = "lakehouse_writes"
    op_kind = "freshness"

    def __init__(self, ctx: Context):
        self.refresh = MedallionRefresh(ctx)
        self.increments = LakehouseIncrements(ctx)

    def prepare(self) -> None:
        self.refresh.prepare()
        self.increments.prepare()

    def warm_up(self) -> list[Op]:
        """A refresh (the slowest: class loading and first
        compilations) and the first increment cycle (the streaming
        query's first start)."""
        return self.refresh.unit() + self.increments._cycle()

    def unit(self) -> list[Op]:
        return self.increments.unit() + self.refresh.unit()

    def named(self, ops: list[Op]) -> dict:
        refresh = self.refresh.named(ops)
        increments = self.increments.named(ops)
        return {
            "refresh_rows_per_s": refresh["refresh_rows_per_s"],
            "bytes_written_per_source_byte.refresh": refresh["bytes_written_per_source_byte"],
            **{k if k != "bytes_written_per_source_byte" else f"{k}.increments": v
               for k, v in increments.items()},
        }

    def layer_metrics(self) -> dict[str, float]:
        return {**self.refresh.layer_metrics(), **self.increments.layer_metrics()}

    def sizes(self) -> dict:
        return {**self.refresh.sizes(), **self.increments.sizes()}


WORKLOADS = {
    QueryMix.name: QueryMix,
    LakehouseWrites.name: LakehouseWrites,
}
