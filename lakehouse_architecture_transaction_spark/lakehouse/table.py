"""Persistent lakehouse table with Delta-style merge semantics.

Parity with the reference's storage layer (reference
scripts/glue/script.py:201-227): first write creates the table
partitioned by a chosen column; subsequent batches MERGE on the
primary key (whenMatchedUpdateAll + whenNotMatchedInsertAll). The
merge itself is the join-based operator in operators/merge.py.

Layout — Delta's protocol in miniature, immutable data plus a log
whose entries are created exclusively:

- ``_snapshots/<version>-<id>/``: one immutable parquet directory per
  commit (partition subdirectories inside);
- ``_txn_log/<version>.json``: the commit of ``version`` — its
  snapshot directory, operation, ``n_rows``, timestamp and schema.

Every write (create, append, overwrite, upsert, compact, restore) is
one ``_commit``: write a fresh snapshot directory, then claim version
``parent + 1`` by hard-linking a fully written temp entry to its log
name. The link fails when that name exists, so exactly one writer
wins each version and the loser raises :class:`CommitConflict`;
``parent`` is the version the commit's input was read from, so a
lost update cannot happen. A crash before the link leaves the log —
and every reader — on the last committed version. An append's
snapshot holds the batch's files plus hard links to the parent's, so
an append writes only the batch.

``versioned`` sets retention only. ``True`` keeps every snapshot
until ``vacuum()``; ``False`` vacuums after each commit down to the
current and previous snapshot (a reader that resolved the previous
version can still finish). Log entries are never removed, so a
vacuumed version number can never be claimed again.

Scale notes: a full-outer-join merge rewrites the table — that is
what Delta does logically too (copy-on-write); Delta wins at scale by
pruning untouched FILES via the log, which a merge here does not do.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from lakehouse_architecture_transaction_spark.operators.merge import merge_upsert


class CommitConflict(RuntimeError):
    """Another writer already committed the version this commit
    claimed; nothing of this commit is visible."""


def _parquet_footer_rows(target: str) -> int:
    """Row count from parquet footers only — no Spark job, no data
    read. Used for commit-log metadata so a commit doesn't pay a
    second full-table scan."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(target):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def _link_files(src: str, dst: str) -> None:
    """Hard-link every data file of snapshot ``src`` into ``dst`` at
    the same relative path: the new snapshot shares the old one's
    immutable files without copying a byte."""
    for root, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(root, src))
        os.makedirs(out, exist_ok=True)
        for f in files:
            if not f.startswith((".", "_")):
                os.link(os.path.join(root, f), os.path.join(out, f))


class LakeTable:
    """A named, partitioned, upsertable table rooted at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        partition_by: str | None = None,
        versioned: bool = False,
        constraints: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = keys
        self.partition_by = partition_by
        self.versioned = versioned
        #: Delta-style CHECK constraints: {name: sql_predicate}. Every
        #: write verifies them distributedly (one filter+limit job per
        #: constraint) and refuses the commit on violation.
        self.constraints = constraints or {}

    def _check_constraints(self, df: DataFrame) -> None:
        from pyspark.sql import functions as F  # local: keep module header lean

        for name, predicate in self.constraints.items():
            bad = df.filter(~F.expr(predicate)).limit(1).count()
            if bad:
                raise ValueError(f"CHECK constraint {name!r} violated: NOT ({predicate})")

    # -- log -----------------------------------------------------------

    def _log_path(self, version: int) -> str:
        return os.path.join(self.path, "_txn_log", f"{version:08d}.json")

    def _entry(self, version: int) -> dict:
        try:
            with open(self._log_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise FileNotFoundError(f"version {version} not found at {self.path}") from None

    def _snapshot(self, version: int | None) -> tuple[str, dict]:
        """(directory, log entry) of ``version`` (default: latest)."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        entry = self._entry(v)
        target = os.path.join(self.path, "_snapshots", entry["data"])
        if not os.path.isdir(target):
            raise FileNotFoundError(f"version {v} at {self.path} was vacuumed")
        return target, entry

    def latest_version(self) -> int | None:
        try:
            names = os.listdir(os.path.join(self.path, "_txn_log"))
        except FileNotFoundError:
            return None
        return max((int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()), default=None)

    def history(self) -> list[int]:
        """Versions whose snapshot is still retained, oldest first."""
        try:
            names = os.listdir(os.path.join(self.path, "_snapshots"))
        except FileNotFoundError:
            return []
        out = []
        for name in names:
            v = name.split("-")[0]
            # a directory no entry names is a commit in flight or one
            # that failed before its claim
            with contextlib.suppress(FileNotFoundError):
                if v.isdigit() and self._entry(int(v))["data"] == name:
                    out.append(int(v))
        return sorted(out)

    def describe_history(self) -> list[dict]:
        """Commit log, newest first (Delta DESCRIBE HISTORY shape); the
        entries of vacuumed versions stay listed."""
        latest = self.latest_version()
        return [] if latest is None else [self._entry(v) for v in range(latest, -1, -1)]

    def _commit(
        self, df: DataFrame | None, operation: str, parent: int | None, base: dict | None = None
    ) -> int:
        """The one write path: write ``df`` (if any) into a fresh
        snapshot directory, hard-link the files of the ``base`` entry's
        snapshot beside it, then claim version ``parent + 1`` (0 when
        ``parent`` is None). Any failure removes the snapshot and
        leaves the log at the last committed version."""
        version = 0 if parent is None else parent + 1
        name = f"{version:08d}-{uuid.uuid4().hex[:12]}"
        target = os.path.join(self.path, "_snapshots", name)
        try:
            n_rows = 0
            if df is not None:
                self._write(df, target)
                n_rows = _parquet_footer_rows(target)
            if base is not None:
                _link_files(os.path.join(self.path, "_snapshots", base["data"]), target)
                n_rows += base["n_rows"]
            self._claim(
                {
                    "version": version,
                    "data": name,
                    "operation": operation,
                    "n_rows": n_rows,
                    "timestamp": datetime.now(timezone.utc).isoformat(),
                    "schema": base["schema"] if base is not None else df.schema.jsonValue(),
                }
            )
        except BaseException:
            shutil.rmtree(target, ignore_errors=True)
            raise
        if not self.versioned:
            self.vacuum(keep_last=2)
        return version

    def _claim(self, entry: dict) -> None:
        """Create the log entry exclusively: write it whole under a temp
        name, then hard-link it to its final name. ``os.link`` fails if
        the name exists, so readers never see a partial entry and only
        one writer gets each version."""
        final = self._log_path(entry["version"])
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = os.path.join(os.path.dirname(final), f".{uuid.uuid4().hex}.tmp")
        try:
            with open(tmp, "w") as f:
                json.dump(entry, f)
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"version {entry['version']} of {self.path} was committed by another writer"
            ) from None
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF``: roll the table
        back to an earlier snapshot AS A NEW COMMIT — history moves
        forward (the bad versions stay queryable for forensics). The
        new snapshot hard-links the old one's files; no data is
        rewritten. Returns the new version number."""
        _target, entry = self._snapshot(version)
        return self._commit(None, f"restore(v{version})", self.latest_version(), base=entry)

    def clone(self, target_path: str) -> "LakeTable":
        """Delta ``CLONE`` (deep): a new independent table initialized
        from this table's CURRENT snapshot — the dev/test-copy
        primitive. The clone starts its own history at v0."""
        out = LakeTable(
            self.spark,
            target_path,
            keys=self.keys,
            partition_by=self.partition_by,
            versioned=self.versioned,
            constraints=self.constraints,
        )
        out.create(self.read())
        return out

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the last ``keep_last`` snapshots (Delta's
        VACUUM retention, directory-granular; at least the latest is
        always kept). Returns removed versions."""
        to_drop = self.history()[: -max(keep_last, 1)]
        for v in to_drop:
            shutil.rmtree(os.path.join(self.path, "_snapshots", self._entry(v)["data"]), ignore_errors=True)
        return to_drop

    # -- state ---------------------------------------------------------

    def exists(self) -> bool:
        return self.latest_version() is not None

    def read(self, version: int | None = None) -> DataFrame:
        """The snapshot of ``version`` (default: latest). The schema
        comes from the log entry, which makes an EMPTY PARTITIONED
        snapshot readable (the partitioned writer emits no data files
        for an empty frame, so there is no footer to infer from) and
        skips footer-sampling schema inference at scale."""
        from pyspark.sql.types import StructType

        target, entry = self._snapshot(version)
        return self.spark.read.schema(StructType.fromJson(entry["schema"])).parquet(target)

    # -- writes --------------------------------------------------------

    def _write(self, df: DataFrame, target: str) -> None:
        writer = df.write
        if self.partition_by and self.partition_by in df.columns:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(target)

    def create(self, df: DataFrame) -> int:
        """Initial load (reference scripts/glue/script.py:219-227): the
        table's version 0. Raises CommitConflict if the table exists."""
        self._check_constraints(df)
        return self._commit(df, "create", parent=None)

    def overwrite(self, df: DataFrame, operation: str = "overwrite") -> int:
        """Full-replace commit: the whole table becomes ``df`` as a
        NEW snapshot (``diff()`` between overwrite commits yields the
        replacement delta). The refresh primitive for derived tables
        (e.g. the persisted ANN index, lakehouse/ann_index.py) where
        merge-on-key semantics would never delete rows that fell out
        of the new build. ``df`` may lazily derive from reading this
        very table: the snapshot it reads is immutable."""
        self._check_constraints(df)
        return self._commit(df, operation, parent=self.latest_version())

    def upsert(self, source: DataFrame, evolve_schema: bool = False) -> int:
        """MERGE ``source`` on the key columns; creates on first call
        (reference scripts/glue/script.py:202-216 try-merge-except-create).
        ``evolve_schema`` forwards Delta mergeSchema semantics: new
        source columns join the table schema, and columns the source
        lacks keep their values (operators/merge.py).
        """
        parent = self.latest_version()
        if parent is None:
            return self.create(source)
        self._check_constraints(source)
        merged = merge_upsert(self.read(parent), source, keys=self.keys, evolve_schema=evolve_schema)
        return self._commit(merged, "merge", parent=parent)

    def compact(self, target_files: int = 8) -> int:
        """Small-file compaction (Delta OPTIMIZE / bin-packing): the
        rejected-zone's blind appends and streaming micro-batches each
        add files, and at scale the file count — not the byte count —
        becomes the scan bottleneck (driver listing, task scheduling,
        footer reads). Commits the current contents rewritten into
        ``target_files`` coalesced files. Returns the new file count."""
        parent = self.latest_version()
        v = self._commit(self.read(parent).coalesce(target_files), "compact", parent=parent)
        target, _entry = self._snapshot(v)
        return sum(
            1 for root, _dirs, files in os.walk(target) for f in files if f.endswith(".parquet")
        )

    def diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change-data-capture between two committed snapshots (Delta's
        CHANGE DATA FEED surface, computed from the copy-on-write
        versions): one row per changed key with ``_change_type`` ∈
        {insert, update_postimage, delete}. Unchanged rows are dropped.

        Values come from the NEW snapshot for insert/update and the
        OLD one for delete (postimage CDC). One full-outer join on the
        keys; non-key comparison is a single null-safe struct
        equality, so wide tables don't multiply join conditions.
        Columns are aligned by name (schema evolution adds columns as
        NULL on the older side)."""
        from pyspark.sql import functions as F

        old = self.read(from_version)
        new = self.read(to_version)
        cols = list(dict.fromkeys(new.columns + [c for c in old.columns if c not in new.columns]))
        nonkey = [c for c in cols if c not in self.keys]
        for c in cols:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
        o = old.select(*self.keys, F.struct(*[F.col(c) for c in nonkey]).alias("__o"))
        n = new.select(*self.keys, F.struct(*[F.col(c) for c in nonkey]).alias("__n"))
        j = o.join(n, on=self.keys, how="full_outer")
        change = (
            F.when(F.col("__o").isNull(), F.lit("insert"))
            .when(F.col("__n").isNull(), F.lit("delete"))
            .when(~F.col("__o").eqNullSafe(F.col("__n")), F.lit("update_postimage"))
        )
        payload = F.coalesce(F.col("__n"), F.col("__o"))
        return (
            j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(
                *self.keys,
                *[payload.getField(c).alias(c) for c in nonkey],
                "_change_type",
            )
        )

    def scan(self, where: list[Predicate], version: int | None = None) -> tuple[DataFrame, dict]:
        """Predicate scan with file-level data skipping over the
        current (or time-traveled) snapshot — the Delta/Iceberg
        manifest-pruning behavior, served from parquet footer stats
        (see :func:`pruned_read`). Pair with a ``zorder_write``-style
        clustered layout for tight per-file ranges."""
        target, _entry = self._snapshot(version)
        return pruned_read(self.spark, target, where)

    def append(self, df: DataFrame) -> int:
        """Blind append (the reference's rejected-records zone uses
        this mode — scripts/glue/script.py:190-192): a commit whose
        snapshot is the batch's files plus hard links to the parent
        snapshot's files, so only the batch is written."""
        self._check_constraints(df)
        parent = self.latest_version()
        if parent is None:
            return self._commit(df, "append", parent=None)
        _target, base = self._snapshot(parent)
        have = {f["name"] for f in base["schema"]["fields"]}
        if set(df.columns) != have:
            raise ValueError(f"append columns {sorted(df.columns)} differ from the table's {sorted(have)}")
        return self._commit(df, "append", parent=parent, base=base)


def _interleave_bits(scaled, bits: int):
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(scaled) + i))
    return z


def zorder_value(df: DataFrame, cols: list[str], bits: int = 10):
    """Z-order (Morton) key: interleave the bits of each column's
    quantile-scaled value. Sorting a write by this key clusters rows
    that are close in EVERY dimension into the same files, so min/max
    file skipping prunes multi-predicate scans — Delta/Iceberg's
    OPTIMIZE ZORDER, as a plain column expression.

    Columns are scaled to [0, 2^bits) by APPROXIMATE QUANTILE rank:
    ``approxQuantile`` (Greenwald–Khanna, one pass, driver receives
    only 2^bits boundary values) + a binary-search bucket lookup via a
    broadcast boundary array. Quantile scaling keeps the curve robust
    to skew — and unlike a ``percent_rank`` window (which funnels the
    whole table through ONE partition to rank it) nothing here
    materializes a global sort, so the same code runs at 100 TB.
    Lookup is JVM-side (higher-order filter on a literal array); no
    UDF."""
    from pyspark.sql import functions as F

    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    # relative error 1/(4·bins): boundaries land within a quarter-bin
    bounds = df.stat.approxQuantile(cols, probs, 1.0 / (4 * n_bins))

    def _scaled(c: str, bs: list[float]):
        # bucket = #boundaries <= value, as a name-resolved expr over a
        # literal array (bounded by 2^bits, data-independent)
        lits = ", ".join(f"CAST({b!r} AS DOUBLE)" for b in bs)
        return F.expr(
            f"CAST(size(filter(array({lits}), b -> b <= CAST({c} AS DOUBLE))) AS BIGINT)"
        )

    return _interleave_bits([_scaled(c, bs) for c, bs in zip(cols, bounds)], bits)


def zorder_write(df: DataFrame, path: str, cols: list[str], num_files: int = 8, bits: int = 10) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``:
    range-partition then sort by the Morton key so each output file
    covers a compact hyper-rectangle of the key space (tight min/max
    footer stats on every zorder column → multi-column file skipping).
    Two passes over the input (quantile sketch, then write) and one
    range shuffle — no global sort, no single-partition stage."""
    z = df.withColumn("__z", zorder_value(df, cols, bits=bits))
    (
        z.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    num_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) external
    table registered as ``name``.

    Bucketing pre-shuffles ON WRITE: every join or aggregation keyed on
    ``bucket_cols`` between tables with matching bucket counts runs
    with ZERO exchange — at 100 TB this converts the nightly fact-fact
    join from the dominant shuffle into a local zip of bucket files.
    Requires the session catalog (bucket metadata lives there, which is
    why LakeTable's path-only API doesn't carry it)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.option("path", path).format("parquet").saveAsTable(name)


# ---------------------------------------------------- file skipping

#: Conjunctive predicate: (column, op, literal) with op ∈ <,<=,>,>=,=.
Predicate = tuple[str, str, object]


def _file_column_ranges(target: str, cols: set[str]) -> list[tuple[str, dict[str, tuple]]]:
    """Per-parquet-file [min, max] per requested column, from footer
    statistics only — the same metadata a Delta/Iceberg log snapshots,
    read here straight from the files (no Spark job, no data pages).
    A column with missing stats in any row group is reported absent
    for that file (→ never pruned on it)."""
    import pyarrow.parquet as pq

    out: list[tuple[str, dict[str, tuple]]] = []
    for root, _dirs, files in os.walk(target):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            fpath = os.path.join(root, fname)
            md = pq.ParquetFile(fpath).metadata
            ranges: dict[str, tuple] = {}
            ok: set[str] = set(cols)
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if name not in ok:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        ok.discard(name)
                        ranges.pop(name, None)
                        continue
                    lo, hi = st.min, st.max
                    if name in ranges:
                        plo, phi = ranges[name]
                        lo, hi = min(plo, lo), max(phi, hi)
                    ranges[name] = (lo, hi)
            out.append((fpath, ranges))
    return out


def _range_may_match(rng: tuple, op: str, value) -> bool:
    lo, hi = rng
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True  # incomparable literal/stat types: never prune
    raise ValueError(f"unsupported op {op!r}")


def pruned_read(
    spark: SparkSession, path: str, where: list[Predicate]
) -> tuple[DataFrame, dict]:
    """Read a parquet directory with FILE-LEVEL data skipping: drop
    every file whose footer min/max proves it cannot satisfy the
    conjunctive ``where``, then apply the same predicates as ordinary
    filters (pruning is an optimization; correctness never depends on
    it — exactly Delta/Iceberg's contract, with the footer stats
    standing in for the transaction-log manifest).

    Returns (DataFrame, report) where report carries files_total /
    files_read / files_skipped — the number a 100 TB table lives or
    dies by: a zorder_write clustered on the predicate columns turns
    this from "scan everything" into "scan a handful of files".

    Driver cost is one footer read per file (no data pages). At real
    scale the stats come from a manifest instead of refooting — same
    pruning decision, cheaper metadata path; see zorder_write for the
    layout that makes the ranges tight.
    """
    from pyspark.sql import functions as F

    cols = {c for c, _op, _v in where}
    stats = _file_column_ranges(path, cols)
    keep = [
        fpath
        for fpath, ranges in stats
        if all(c not in ranges or _range_may_match(ranges[c], op, v) for c, op, v in where)
    ]
    report = {
        "files_total": len(stats),
        "files_read": len(keep),
        "files_skipped": len(stats) - len(keep),
    }
    base = (
        spark.read.parquet(*keep)
        if keep
        else spark.read.parquet(path).limit(0)
    )
    import datetime as _dt
    import operator as _op

    from pyspark.sql.types import TimestampNTZType

    apply = {"=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
    types = {f.name: f.dataType for f in base.schema.fields}
    for c, op, v in where:
        # ONLY the datetime-vs-TIMESTAMP_NTZ pairing needs a cast (a
        # naive-datetime literal otherwise lands as session-tz TIMESTAMP
        # and fails to resolve against the catalog's pinned NTZ event/
        # order time type). Everything else keeps Spark's normal type
        # promotion — a blanket cast-to-column-type would silently
        # truncate cross-type literals (1.5 -> 1 against a bigint) or
        # null out unparseable ones.
        lit = F.lit(v)
        if isinstance(types.get(c), TimestampNTZType) and isinstance(v, _dt.datetime):
            lit = lit.cast(types[c])
        base = base.filter(apply[op](F.col(c), lit))
    return base, report
