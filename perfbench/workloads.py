"""The benchmark's four closed-loop workloads.

One client thread drives each: an op starts when the previous one
returns. Every workload has the same shape:

- ``prepare()`` makes the inputs from the seed and builds the initial
  state. It is repeatable; the harness runs it several times and
  reports the median as part of ``setup_s``.
- ``warmup()`` runs once before the first op (query_mix: the cold pass).
- ``op(i)`` is one timed op. It returns an :class:`Op` whose ``check``
  runs afterwards, outside the timed region.

Every op calls the program's public functions through their module
attribute, so the tracer's wrappers (spans.install) see the calls.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen

# Modules are looked up by attribute at call time so spans.install's
# wrappers are used when tracing is on.
from lakehouse_architecture_transaction_spark import measure, orchestration
from lakehouse_architecture_transaction_spark.lakehouse import table as lake_table
from lakehouse_architecture_transaction_spark.operators import dedup
from lakehouse_architecture_transaction_spark.sources import csv as csv_source
from lakehouse_architecture_transaction_spark.streaming import pipeline as stream


@dataclass
class Op:
    """One timed op: ``kind`` names it, ``seconds`` is its latency,
    ``rows`` the input rows it consumed, ``check`` verifies its output
    (called untimed; raises or returns False on a wrong result)."""

    kind: str
    seconds: float = 0.0
    rows: int = 0
    check: object = None
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    sf: float
    work: str  # scratch root of this run, inside the checkout
    cpus: int
    tracer: object
    storage: bool  # walk the lake around ops (traced runs)


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def footer_rows(files) -> int:
    """Rows in the parquet files among ``files``, from their footers."""
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files if p.endswith(".parquet"))


def tree(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> dict:
    """Bytes, files and parquet rows present in ``after`` that are new
    or changed. Files written and deleted inside the interval are not
    seen, so the result is a lower bound on what was written."""
    files = [p for p, v in after.items() if before.get(p) != v]
    return {
        "bytes_written": sum(after[p][0] for p in files),
        "files_written": len(files),
        "rows_written": footer_rows(files),
    }


def _spark_type(t):
    from pyspark.sql import types as T
    import pyarrow as pa

    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_floating(t):
        return T.DoubleType()
    if pa.types.is_timestamp(t):
        return T.TimestampType()
    return T.StringType()


def spark_schema(schema):
    from pyspark.sql import types as T

    return T.StructType([T.StructField(f.name, _spark_type(f.type), True) for f in schema])


# ------------------------------------------------------------ landing


class EtlLanding:
    """Landing cycles: CSV drops → ``read_csv_enforced`` → parquet drop
    → ``process_landing``. Op 0 is the full initial load; later ops are
    ``gen.DROP_FRACTION`` batches."""

    name = "etl_landing"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.schemas = {ds: spark_schema(gen.SCHEMAS[t]) for ds, (t, _k) in gen.LANDING.items()}

    def prepare(self) -> None:
        c = self.ctx
        self.root = _reset(os.path.join(c.work, "etl"))
        self.dirs = {z: _reset(os.path.join(self.root, z)) for z in ("raw", "landing", "archive", "error", "lake")}
        self.model = gen.LandingModel(c.seed, gen.make_tables(c.seed, c.sf))
        self._stage_next()

    def _stage_next(self) -> None:
        """Write the next cycle's CSV drops (input arrival, untimed)."""
        cyc = self.model.cycle
        drops, self.corrupt = self.model.next_drops()
        self.csv = {}
        self.lines = 0
        self.csv_bytes = 0
        for ds, data in drops.items():
            p = os.path.join(self.dirs["raw"], f"{ds}_c{cyc:04d}.csv")
            with open(p, "wb") as f:
                f.write(data)
            self.csv[ds] = p
            self.lines += data.count(b"\n") - 1
            self.csv_bytes += len(data)
        self.cycle = cyc
        self.expect = (dict(self.model.curated), dict(self.model.rejected))

    def warmup(self) -> None:
        pass

    def unit(self, i: int) -> int:
        return i

    def op(self, i: int) -> Op:
        c, cyc = self.ctx, self.cycle
        spark, tracer = c.spark, c.tracer

        def run():
            corrupt = {}
            for ds, path in self.csv.items():
                with tracer.span("sources.ingest", dataset=ds):
                    parsed, bad = csv_source.read_csv_enforced(spark, path, self.schemas[ds])
                    parsed.write.parquet(os.path.join(self.dirs["landing"], f"{ds}_c{cyc:04d}.parquet"))
                corrupt[ds] = bad
            results = orchestration.process_landing(
                spark, self.dirs["landing"], self.dirs["archive"], self.dirs["error"], self.dirs["lake"]
            )
            return corrupt, results

        before = tree(self.dirs["lake"]) if c.storage else None
        secs, (corrupt, results) = _timed(run)
        rec = Op("initial_load" if cyc == 0 else "cycle", secs, self.lines)
        rec.info.update(cycle=cyc, csv_bytes=self.csv_bytes, lines=self.lines, corrupt_lines=sum(self.corrupt.values()))
        if before is not None:
            rec.info.update(written(before, tree(self.dirs["lake"])))
        want = {("curated", ds): n for ds, n in self.expect[0].items()}
        want.update({("rejected", ds): n for ds, n in self.expect[1].items()})
        want_corrupt = dict(self.corrupt)

        def check():
            statuses = [r.status for r in results]
            if statuses != ["archived"] * 3:
                raise AssertionError(f"cycle {cyc}: statuses {statuses}")
            got = self._zone_counts()
            if got != want:
                raise AssertionError(f"cycle {cyc}: zone row counts {got} != {want}")
            for ds in gen.LANDING:
                got = corrupt[ds].count()
                if got != want_corrupt[ds]:
                    raise AssertionError(f"cycle {cyc}: corrupt {ds} {got} != {want_corrupt[ds]}")
            return True

        rec.check = check
        self._stage_next()
        return rec

    def _zone_counts(self) -> dict[tuple[str, str], int]:
        """Rows of every curated and rejected table, read back through
        ``LakeTable.read`` in one Spark job (0 for a table not created)."""
        from functools import reduce

        from pyspark.sql import functions as F

        out, parts = {}, []
        for zone in ("curated", "rejected"):
            for ds, (_t, keys) in gen.LANDING.items():
                out[(zone, ds)] = 0
                t = lake_table.LakeTable(self.ctx.spark, os.path.join(self.dirs["lake"], zone, ds), keys=keys)
                if t.exists():
                    parts.append(t.read().select(F.lit(zone).alias("zone"), F.lit(ds).alias("ds")))
        if parts:
            rows = reduce(lambda a, b: a.unionByName(b), parts).groupBy("zone", "ds").count().collect()
            out.update({(r["zone"], r["ds"]): r["count"] for r in rows})
        return out


# ---------------------------------------------------------------- CDC

#: maintenance (diff, compact, vacuum) runs once every this many steps
CDC_MAINT_EVERY = 4
#: vacuum keeps this many snapshots
CDC_KEEP = 4


class CdcVersioned:
    """A ``versioned=True`` LakeTable of key-deduplicated lineitem. Each
    step: upsert a CDC batch, a selective scan of the latest snapshot,
    a time-travel read; every ``CDC_MAINT_EVERY`` steps also diff,
    compact and vacuum."""

    name = "cdc_versioned"
    KEYS = ["l_orderkey", "l_linenumber"]
    #: a traced run alternates tracing by whole maintenance cycles, so
    #: traced and untraced steps see the same table states
    trace_block = CDC_MAINT_EVERY

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def prepare(self) -> None:
        c = self.ctx
        self.root = _reset(os.path.join(c.work, "cdc"))
        tables = gen.make_tables(c.seed, c.sf)
        src = os.path.join(self.root, "lineitem.parquet")
        pq.write_table(tables["lineitem"], src)
        self.lake = os.path.join(self.root, "lake")
        self.table = lake_table.LakeTable(c.spark, os.path.join(self.lake, "lineitem"), keys=self.KEYS, versioned=True)
        base = dedup.dedup_exact(c.spark.read.parquet(src), keys=self.KEYS)
        self.table.create(base)
        li = tables["lineitem"]
        keys = np.unique(
            np.stack([np.asarray(li.column("l_orderkey")), np.asarray(li.column("l_linenumber"))], 1), axis=0
        )
        self.model = gen.CdcModel(c.seed, keys, tables["part"].num_rows, tables["supplier"].num_rows)
        self.version_rows = {0: len(keys)}
        got = self.table.describe_history()[0]["n_rows"]
        if got != len(keys):
            raise AssertionError(f"CDC base has {got} rows, expected {len(keys)} distinct keys")
        self.rng = np.random.default_rng([c.seed, 4])
        self.plan = []

    def warmup(self) -> None:
        pass

    def unit(self, i: int) -> int:
        """The step op ``i`` belongs to."""
        return self.model.step if not self.plan else self.model.step - 1

    def _next_kind(self) -> str:
        if not self.plan:
            self.plan = ["upsert", "scan", "read"]
            if self.model.step % CDC_MAINT_EVERY == 2:
                self.plan += ["diff", "compact", "vacuum"]
        return self.plan.pop(0)

    def op(self, i: int) -> Op:
        kind = self._next_kind()
        return getattr(self, "_" + kind)()

    def _storage(self, rec: Op, before) -> None:
        if before is not None:
            after = tree(self.lake)
            rec.info.update(written(before, after))
            rec.info["bytes_retained"] = sum(v[0] for v in after.values())

    def _check_rows(self, v: int, want: int, what: str):
        def check():
            got = self.table.read(version=v).count()
            if got != want:
                raise AssertionError(f"{what} v{v}: {got} rows, expected {want}")
            return True

        return check

    def _upsert(self) -> Op:
        c, t = self.ctx, self.table
        batch, n_upd, n_ins = self.model.next_batch()
        path = os.path.join(self.root, f"batch_{self.model.step:04d}.parquet")
        pq.write_table(batch, path)
        before = tree(self.lake) if c.storage else None
        df = c.spark.read.parquet(path)
        secs, _ = _timed(lambda: t.upsert(df))
        v = t.latest_version()
        want = self.version_rows[max(self.version_rows)] + n_ins
        self.version_rows[v] = want
        self.last_change = (v, n_upd, n_ins)
        rec = Op("upsert", secs, batch.num_rows)
        rec.info.update(batch_bytes=os.path.getsize(path), batch_rows=batch.num_rows, version=v)
        self._storage(rec, before)
        rec.check = self._check_rows(v, want, "upsert")
        return rec

    def _scan(self) -> Op:
        t, keys = self.table, self.model.keys
        lo = int(self.rng.integers(0, int(keys[:, 0].max())))
        hi = lo + max(int(keys[:, 0].max()) // 50, 1)
        want = int(np.count_nonzero((keys[:, 0] >= lo) & (keys[:, 0] < hi)))
        box = {}

        def run():
            df, report = t.scan([("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)])
            measure.force_full_result(df)
            box.update(df=df, report=report)

        with self.ctx.tracer.span("table.scan"):
            secs, _ = _timed(run)
        rec = Op("scan", secs, 0)
        rec.info.update(box["report"])

        def check():
            got = box["df"].count()
            if got != want:
                raise AssertionError(f"scan [{lo},{hi}): {got} rows, expected {want}")
            return True

        rec.check = check
        return rec

    def _read(self) -> Op:
        t = self.table
        retained = t.history()
        k = retained[max(len(retained) - 3, 0)]
        want = self.version_rows[k]
        box = {}

        def run():
            df = t.read(version=k)
            measure.force_full_result(df)
            box["df"] = df

        with self.ctx.tracer.span("table.read", version=k):
            secs, _ = _timed(run)
        rec = Op("read", secs, 0)

        def check():
            got = box["df"].count()
            if got != want:
                raise AssertionError(f"read v{k}: {got} rows, expected {want}")
            return True

        rec.check = check
        return rec

    def _diff(self) -> Op:
        t = self.table
        v, n_upd, n_ins = self.last_change
        box = {}

        def run():
            df = t.diff(v - 1, v)
            measure.force_full_result(df)
            box["df"] = df

        with self.ctx.tracer.span("table.diff"):
            secs, _ = _timed(run)
        rec = Op("diff", secs, 0)

        def check():
            got = {r[0]: r[1] for r in box["df"].groupBy("_change_type").count().collect()}
            want = {"update_postimage": n_upd, "insert": n_ins}
            if got != want:
                raise AssertionError(f"diff v{v - 1}..v{v}: {got} != {want}")
            return True

        rec.check = check
        return rec

    def _compact(self) -> Op:
        c, t = self.ctx, self.table
        before = tree(self.lake) if c.storage else None
        secs, _ = _timed(lambda: t.compact(target_files=c.cpus))
        v = t.latest_version()
        self.version_rows[v] = self.version_rows[max(self.version_rows)]
        want = self.version_rows[v]
        rec = Op("compact", secs, 0)
        self._storage(rec, before)
        rec.check = self._check_rows(v, want, "compact")
        return rec

    def _vacuum(self) -> Op:
        c, t = self.ctx, self.table
        before = tree(self.lake) if c.storage else None
        secs, _ = _timed(lambda: t.vacuum(keep_last=CDC_KEEP))
        rec = Op("vacuum", secs, 0)
        self._storage(rec, before)
        latest = t.latest_version()

        def check():
            hist = t.history()
            if len(hist) != CDC_KEEP or hist[-1] != latest:
                raise AssertionError(f"vacuum kept {hist}, latest v{latest}")
            return True

        rec.check = check
        return rec

    def space(self) -> dict:
        """Retained versions, and the bytes under the table root over
        the bytes of the files the latest snapshot reads."""
        from urllib.parse import unquote, urlparse

        t = self.table
        retained = sum(s for s, _m in tree(t.path).values())
        latest = sum(os.path.getsize(unquote(urlparse(f).path)) for f in t.read().inputFiles())
        return {"versions_retained": len(t.history()), "space_amp": retained / latest}


# ---------------------------------------------------------- query mix

#: The registered, memo-free queries with DuckDB oracles, and the
#: tables each one scans (for rows_per_s).
QUERIES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "q5_local_supplier_volume": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "q18_large_volume_customers": ["lineitem", "orders", "customer"],
    "q21_sole_late_supplier": ["lineitem", "orders", "supplier"],
    "top3_orders_per_customer": ["orders"],
    "customer_rfm_segments": ["orders"],
    "supplier_revenue_pareto": ["lineitem"],
    "dedup_pk_lineitem": ["lineitem"],
    "validate_orders_valid": ["orders"],
}


def _norm(v):
    """The oracle-parity normalization of the repository's gate."""
    import math
    from decimal import Decimal

    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, int):
        return ("i", v)
    return ("o", str(v))


def rowset(cols, rows) -> list:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def same_rows(a, b) -> bool:
    """Two Arrow tables hold the same multiset of rows."""
    if not a.schema.equals(b.schema, check_metadata=False):
        return False
    keys = [(c, "ascending") for c in a.column_names]
    return a.sort_by(keys).equals(b.sort_by(keys))


#: Share of the later timed query ops whose result a check re-executes
#: and compares with the cold pass. The first timed op of each query is
#: always checked. Re-executing every op would double a run.
QUERY_CHECK_SHARE = 0.1


class QueryMix:
    """Warm passes over ``QUERIES``, each forced with
    ``measure.force_full_result``. One op is one query; a pass is ten."""

    name = "query_mix"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        from lakehouse_architecture_transaction_spark.plans import REGISTRY

        self.specs = {q: REGISTRY[q] for q in QUERIES}

    def prepare(self) -> None:
        c = self.ctx
        self.sf_dir = _reset(os.path.join(c.work, "sf"))
        tables = gen.make_tables(c.seed, c.sf)
        gen.write_tables(tables, self.sf_dir)
        self.rows = {q: sum(tables[t].num_rows for t in ts) for q, ts in QUERIES.items()}
        self.checked: set[str] = set()
        self.sample = np.random.default_rng([c.seed, 5])

    def _build(self, q: str):
        return self.specs[q].fn(self.ctx.spark, self.sf_dir)

    def warmup(self) -> None:
        """The cold first pass (kept out of op_p50_s). It collects each
        result as Arrow: :meth:`oracle_check` compares it with the DuckDB
        oracle, and the op checks compare re-executions with it."""
        t0 = time.perf_counter()
        self.cold = {q: self._build(q).toArrow() for q in self.specs}
        self.cold_pass_s = time.perf_counter() - t0

    def unit(self, i: int) -> int:
        """The pass op ``i`` belongs to."""
        return i // len(QUERIES)

    def op(self, i: int) -> Op:
        q = list(QUERIES)[i % len(QUERIES)]
        with self.ctx.tracer.span("plans.query", query=q):
            secs, _ = _timed(lambda: measure.force_full_result(self._build(q)))
        rec = Op("query", secs, self.rows[q])
        sampled = q not in self.checked or self.sample.random() < QUERY_CHECK_SHARE
        self.checked.add(q)
        rec.info.update(query=q, checked=sampled)

        def check():
            if sampled and not same_rows(self._build(q).toArrow(), self.cold[q]):
                raise AssertionError(f"{q}: a re-execution differs from the oracle-checked cold pass")
            return True

        rec.check = check
        return rec

    def oracle_check(self) -> list[str]:
        """Queries whose cold-pass result differs from their DuckDB
        oracle. Results are compared as multisets of rows over the
        sorted column names (EXCEPT ALL both ways, so doubles must
        match exactly, as in the repository's parity gate)."""
        import duckdb

        bad = []
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for q, spec in self.specs.items():
                got = self.cold[q]
                con.register("spark_result", got)
                con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {spec.oracle}")
                o_cols = [d[0] for d in con.execute("SELECT * FROM oracle_result LIMIT 0").description]
                if sorted(got.column_names) != sorted(o_cols):
                    bad.append(q)
                    continue
                cols = ", ".join(f'"{c}"' for c in sorted(o_cols))
                n_want = con.execute("SELECT count(*) FROM oracle_result").fetchone()[0]
                extra = con.execute(
                    f"SELECT count(*) FROM (SELECT {cols} FROM spark_result EXCEPT ALL SELECT {cols} FROM oracle_result)"
                ).fetchone()[0]
                missing = con.execute(
                    f"SELECT count(*) FROM (SELECT {cols} FROM oracle_result EXCEPT ALL SELECT {cols} FROM spark_result)"
                ).fetchone()[0]
                con.unregister("spark_result")
                if got.num_rows != n_want or extra or missing:
                    bad.append(q)
        finally:
            con.close()
        return bad


# ------------------------------------------------------------- stream

#: staged event slices; read_event_stream takes 4 files per trigger
STREAM_SLICES = 16
STREAM_KEYS = ["hour_start", "event_type"]


class StreamUpsert:
    """``read_event_stream`` → ``hourly_stream_agg`` →
    ``stream_upsert_into`` a LakeTable, drained to completion. One op
    is one drain from a fresh checkpoint into a fresh table."""

    name = "stream_upsert"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.width = min(ctx.cpus, stream.GATE_STATE_PARTITIONS)

    def prepare(self) -> None:
        c = self.ctx
        self.root = _reset(os.path.join(c.work, "stream"))
        events = gen.make_tables(c.seed, c.sf)["events"]
        self.src = os.path.join(self.root, "slices")
        gen.write_event_slices(events, self.src, STREAM_SLICES)
        self.n_events = events.num_rows
        self.slice_bytes = sum(os.path.getsize(os.path.join(self.src, f)) for f in os.listdir(self.src))
        self.lake = _reset(os.path.join(self.root, "lake"))
        self.drain = 0
        self.expected = self._rows(self._batch_agg())

    def _batch_agg(self):
        """The batch ``hourly_stream_agg`` over all slices."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        ev = spark.read.schema(stream.EVENT_SCHEMA).parquet(self.src).withColumn("ts", F.col("ts").cast("timestamp"))
        return stream.hourly_stream_agg(ev)

    @staticmethod
    def _rows(df) -> list:
        return rowset(df.columns, [tuple(r) for r in df.collect()])

    def _run(self, d: int):
        c = self.ctx
        table = lake_table.LakeTable(c.spark, os.path.join(self.lake, f"t{d:03d}"), keys=STREAM_KEYS)
        ckpt = os.path.join(self.root, f"ckpt{d:03d}")
        q = None
        try:
            with stream.gate_state_partitions(c.spark, self.width):
                q = stream.stream_upsert_into(
                    stream.hourly_stream_agg(stream.read_event_stream(c.spark, self.src)), table, ckpt
                )
            q.processAllAvailable()
        finally:
            if q is not None:
                q.stop()
        return table, q.recentProgress

    def warmup(self) -> None:
        pass

    def unit(self, i: int) -> int:
        return i

    def op(self, i: int) -> Op:
        c = self.ctx
        d = self.drain
        self.drain += 1
        before = tree(self.lake) if c.storage else None
        secs, (table, progress) = _timed(lambda: self._run(d))
        rec = Op("drain", secs, self.n_events)
        batches = [p for p in progress if p.get("numInputRows", 0) > 0] if progress else []
        rec.info["progress"] = [
            {
                "rows": p["numInputRows"],
                **{k: p["durationMs"].get(k, 0) for k in ("triggerExecution", "addBatch", "getBatch", "walCommit")},
                "state_rows": sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", [])),
                "state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", [])),
            }
            for p in batches
        ]
        rec.info["slice_bytes"] = self.slice_bytes
        if before is not None:
            rec.info.update(written(before, tree(self.lake)))

        def check():
            got = self._rows(table.read())
            if got != self.expected:
                raise AssertionError(f"drain {d}: table ({len(got)} rows) != batch agg ({len(self.expected)} rows)")
            if sum(b["rows"] for b in rec.info["progress"]) != self.n_events:
                raise AssertionError(f"drain {d}: stream read {sum(b['rows'] for b in rec.info['progress'])} rows")
            return True

        rec.check = check
        return rec


WORKLOADS = {w.name: w for w in (EtlLanding, CdcVersioned, QueryMix, StreamUpsert)}

