"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from ``seed``:
the TPC-H-shaped star schema the queries scan, the CSV landing drops,
the CDC batches and the time-ordered event slices. The same seed gives
byte-identical files. The generator also keeps its own model of what a
correct program must produce from these inputs (row counts per zone,
table contents per version), which the workloads check against.

Shapes follow the repository's synthetic test lake: uniform keys,
day-granular dates 1995..2001, lineitem keys (l_orderkey,
l_linenumber) that repeat (about 3 in 4 distinct, as in the test lake),
and events spread over 30 days of 2024.
"""

from __future__ import annotations

import datetime as dt
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Shares of one incremental landing drop, as fractions of the drop's
#: row count. Each dirty row carries exactly one defect, so the
#: expected rejected count is the sum of the dirty shares. Corrupt
#: lines have the wrong number of fields and never reach validation.
#: Where a share has a source in the repository it is named; the rest
#: are arbitrary, and README.md ("Input shares") records how much the
#: benchmark's metrics move when they change.
DROP_SHARES = {
    # arbitrary: about half the clean rows change existing keys
    "update": 0.43,  # existing curated key, changed values
    "insert": 0.42,  # new key
    # a 10% slice of the test lake's lineitem (sf0.1) repeats 2.8% of
    # its (l_orderkey, l_linenumber) keys inside the slice
    "duplicate": 0.03,  # second copy of an update/insert key, other values
    "null_pk": 0.03,  # arbitrary
    # tests/test_pipelines.py nulls 1 in 43 order dates
    "null_ts": 0.02,  # orders / order_items: null date column
    # tests/test_pipelines.py nulls 1 in 23 product names
    "bad_value": 0.04,  # products: null p_name; orders: o_totalprice <= 0
    # in that test the items of its rejected orders (1 in 43) become
    # RI violations
    "orphan": 0.02,  # order_items: l_orderkey or l_partkey not curated
    "corrupt": 0.01,  # arbitrary: structurally broken CSV line
}

#: Incremental landing drops are this share of the base table size.
DROP_FRACTION = 0.10
#: A CDC batch is this share of the CDC base table; half updates of
#: existing keys, half inserts of new keys (an arbitrary split; see
#: README.md, "Input shares").
CDC_FRACTION = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS_A = ["blue", "hot", "large", "small", "steel", "green", "red", "light"]
P_WORDS_B = ["ring", "bolt", "widget", "gear", "nut", "panel", "valve", "pin"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_ORDER_DAY0 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_DAY0).days
_SHIP_DAY0 = dt.datetime(1995, 1, 2)
_SHIP_DAYS = (dt.datetime(2001, 11, 4) - _SHIP_DAY0).days
_EVENT_T0 = dt.datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * 86400 * 1_000_000

#: Key offset for orphan foreign keys: never a real key.
_ORPHAN_BASE = 10**12

TS = pa.timestamp("us")

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", TS),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", TS),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", TS),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
}

#: Landing dataset → (base table, key columns).
LANDING = {
    "products": ("part", ["p_partkey"]),
    "orders": ("orders", ["o_orderkey"]),
    "order_items": ("lineitem", ["l_orderkey", "l_linenumber"]),
}


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H ratios)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 25),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0: dt.datetime, span: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + rng.integers(0, span, n).astype("timedelta64[D]"), TS)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _part_rows(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    a = np.asarray(P_WORDS_A, dtype=object)[rng.integers(0, len(P_WORDS_A), n)]
    b = np.asarray(P_WORDS_B, dtype=object)[rng.integers(0, len(P_WORDS_B), n)]
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(a + " " + b, pa.string()),
            "p_brand": pa.array(["Brand#%d" % v for v in rng.integers(1, 26, n)], pa.string()),
            "p_type": _pick(rng, P_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 2), pa.float64()),
        },
        schema=SCHEMAS["part"],
    )


def _order_rows(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n), pa.float64()),
            "o_orderdate": _days(_ORDER_DAY0, _ORDER_DAYS, rng, n),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        },
        schema=SCHEMAS["orders"],
    )


def _item_rows(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    linenumbers: np.ndarray,
    part_keys: np.ndarray,
    n_supp: int,
) -> pa.Table:
    n = len(orderkeys)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkeys, pa.int64()),
            "l_partkey": pa.array(rng.choice(part_keys, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(linenumbers, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(_SHIP_DAY0, _SHIP_DAYS, rng, n),
        },
        schema=SCHEMAS["lineitem"],
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema (plus ``events``) at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = sizes(sf)
    nation_keys = np.arange(25)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}, schema=SCHEMAS["region"]
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nation_keys, pa.int32()),
                "n_name": ["NATION_%d" % k for k in nation_keys],
                "n_regionkey": pa.array(nation_keys % 5, pa.int32()),
            },
            schema=SCHEMAS["nation"],
        ),
    }
    ck = np.arange(n["customer"])
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": ["Customer#%09d" % k for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(ck)), pa.float64()),
            "c_mktsegment": _pick(rng, SEGMENTS, len(ck)),
        },
        schema=SCHEMAS["customer"],
    )
    sk = np.arange(n["supplier"])
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": ["Supplier#%09d" % k for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(sk)), pa.float64()),
        },
        schema=SCHEMAS["supplier"],
    )
    tables["part"] = _part_rows(rng, np.arange(n["part"]))
    tables["orders"] = _order_rows(rng, np.arange(n["orders"]), n["customer"])
    tables["lineitem"] = _item_rows(
        rng,
        rng.integers(0, n["orders"], n["lineitem"]),
        rng.integers(1, 8, n["lineitem"]),
        np.arange(n["part"]),
        n["supplier"],
    )
    tables["events"] = make_events(rng, n["events"], n["customer"] // 10)
    return tables


def make_events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Events sorted by event time (so slices are time-ordered)."""
    ts_us = np.sort(rng.integers(0, _EVENT_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.datetime64(_EVENT_T0, "us") + ts_us.astype("timedelta64[us]"), TS),
            "user_id": pa.array(rng.integers(0, max(n_users, 1), n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(_money(rng, 0, 560, n), pa.float64()),
            "props": pa.array(['{"k": %d}' % v for v in rng.integers(0, 100, n)], pa.string()),
        },
        schema=SCHEMAS["events"],
    )


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One parquet file per table, as the catalog expects."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------------ landing


def to_csv(table: pa.Table, corrupt_lines: list[str]) -> bytes:
    """Header CSV of ``table`` (null → empty cell, Spark's default
    nullValue) with ``corrupt_lines`` spliced in at evenly spaced
    positions."""
    buf = io.BytesIO()
    pacsv.write_csv(table, buf, pacsv.WriteOptions(quoting_style="none"))
    if not corrupt_lines:
        return buf.getvalue()
    lines = buf.getvalue().split(b"\n")
    header, rows = lines[0], lines[1:-1]
    step = max(len(rows) // (len(corrupt_lines) + 1), 1)
    for i, line in enumerate(corrupt_lines):
        rows.insert(min((i + 1) * step + i, len(rows)), line.encode())
    return b"\n".join([header, *rows, b""])


class LandingModel:
    """Drops for the landing workload plus the counts a correct
    pipeline must end with. Cycle 0 is the base tables verbatim (the
    full initial load); each later cycle is a ``DROP_FRACTION`` batch
    with ``DROP_SHARES`` of updates, inserts, duplicates, dirty rows
    and corrupt lines."""

    def __init__(self, seed: int, tables: dict[str, pa.Table]) -> None:
        self.seed = seed
        self.base = {ds: tables[t] for ds, (t, _k) in LANDING.items()}
        self.n_cust = tables["customer"].num_rows
        self.n_supp = tables["supplier"].num_rows
        self.part_keys = np.asarray(tables["part"].column("p_partkey"))
        self.order_keys = np.asarray(tables["orders"].column("o_orderkey"))
        li = tables["lineitem"]
        pairs = np.unique(
            np.stack([np.asarray(li.column("l_orderkey")), np.asarray(li.column("l_linenumber"))], 1),
            axis=0,
        )
        self.item_keys = pairs
        self.next_part = int(self.part_keys.max()) + 1
        self.next_order = int(self.order_keys.max()) + 1
        #: expected counts after the last generated cycle
        self.curated = {"products": 0, "orders": 0, "order_items": 0}
        self.rejected = {"products": 0, "orders": 0, "order_items": 0}
        self.cycle = 0

    def next_drops(self) -> tuple[dict[str, bytes], dict[str, int]]:
        """CSV bytes per dataset for the next cycle, and the corrupt
        line count per dataset."""
        c = self.cycle
        self.cycle += 1
        if c == 0:
            self.curated = {
                "products": len(self.part_keys),
                "orders": len(self.order_keys),
                "order_items": len(self.item_keys),
            }
            return {ds: to_csv(t, []) for ds, t in self.base.items()}, dict.fromkeys(LANDING, 0)
        rng = np.random.default_rng([self.seed, 2, c])
        out, corrupt = {}, {}
        new_orders = None
        for ds in LANDING:
            n = max(int(self.base[ds].num_rows * DROP_FRACTION), 100)
            k = {s: max(int(round(n * f)), 1) for s, f in DROP_SHARES.items()}
            if ds == "products":
                table, n_ins = self._products(rng, k)
                self.rejected[ds] += k["null_pk"] + k["bad_value"]
            elif ds == "orders":
                table, new_orders = self._orders(rng, k)
                n_ins = len(new_orders)
                self.rejected[ds] += k["null_pk"] + k["null_ts"] + k["bad_value"]
            else:
                table, n_ins = self._items(rng, k, new_orders)
                self.rejected[ds] += k["null_pk"] + k["null_ts"] + k["orphan"]
            self.curated[ds] += n_ins
            lines = [
                ",".join(["9"] * (table.num_columns - 1)) if i % 2 else ",".join(["9"] * (table.num_columns + 2))
                for i in range(k["corrupt"])
            ]
            out[ds] = to_csv(table, lines)
            corrupt[ds] = k["corrupt"]
        return out, corrupt

    @staticmethod
    def _with_dups(rng: np.random.Generator, table: pa.Table, n_dup: int, col: str) -> pa.Table:
        """Append ``n_dup`` copies of random rows with ``col`` changed."""
        idx = rng.integers(0, table.num_rows, n_dup)
        dup = table.take(idx)
        vals = dup.column(col)
        if pa.types.is_floating(vals.type):
            new = pa.array(np.asarray(vals.to_numpy(zero_copy_only=False)) + 1.0, vals.type)
        else:
            new = pa.array([str(v) + " dup" for v in vals.to_pylist()], vals.type)
        dup = dup.set_column(dup.column_names.index(col), col, new)
        return pa.concat_tables([table, dup])

    @staticmethod
    def _null(table: pa.Table, col: str) -> pa.Table:
        i = table.column_names.index(col)
        return table.set_column(i, col, pa.nulls(table.num_rows, table.schema.field(col).type))

    def _products(self, rng, k):
        upd = _part_rows(rng, rng.choice(self.part_keys, k["update"], replace=False))
        ins_keys = np.arange(self.next_part, self.next_part + k["insert"])
        self.next_part += k["insert"]
        good = pa.concat_tables([upd, _part_rows(rng, ins_keys)])
        good = self._with_dups(rng, good, k["duplicate"], "p_retailprice")
        bad_pk = self._null(_part_rows(rng, np.zeros(k["null_pk"], np.int64)), "p_partkey")
        bad_name_keys = np.arange(self.next_part, self.next_part + k["bad_value"])
        self.next_part += k["bad_value"]
        bad_name = self._null(_part_rows(rng, bad_name_keys), "p_name")
        self.part_keys = np.concatenate([self.part_keys, ins_keys])
        return pa.concat_tables([good, bad_pk, bad_name]), len(ins_keys)

    def _fresh_order_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_order, self.next_order + n)
        self.next_order += n
        return keys

    def _orders(self, rng, k):
        upd = _order_rows(rng, rng.choice(self.order_keys, k["update"], replace=False), self.n_cust)
        ins_keys = self._fresh_order_keys(k["insert"])
        good = pa.concat_tables([upd, _order_rows(rng, ins_keys, self.n_cust)])
        good = self._with_dups(rng, good, k["duplicate"], "o_totalprice")
        bad_pk = self._null(_order_rows(rng, np.zeros(k["null_pk"], np.int64), self.n_cust), "o_orderkey")
        bad_ts = self._null(_order_rows(rng, self._fresh_order_keys(k["null_ts"]), self.n_cust), "o_orderdate")
        bad_price = _order_rows(rng, self._fresh_order_keys(k["bad_value"]), self.n_cust)
        neg = pa.array(-np.asarray(bad_price.column("o_totalprice")) * (rng.random(bad_price.num_rows) < 0.9))
        bad_price = bad_price.set_column(3, "o_totalprice", neg)
        self.order_keys = np.concatenate([self.order_keys, ins_keys])
        return pa.concat_tables([good, bad_pk, bad_ts, bad_price]), ins_keys

    def _items(self, rng, k, new_orders):
        n_part, n_supp = self.part_keys, self.n_supp
        pick = rng.choice(len(self.item_keys), k["update"], replace=False)
        upd = _item_rows(rng, self.item_keys[pick, 0], self.item_keys[pick, 1], n_part, n_supp)
        # inserts: line numbers 1.. on this cycle's new (valid) orders
        n_ins = k["insert"]
        ok = np.repeat(new_orders, -(-n_ins // len(new_orders)))[:n_ins]
        ln = np.concatenate([np.arange(1, np.sum(ok == o) + 1) for o in np.unique(ok)])
        ok = np.sort(ok)
        ins = _item_rows(rng, ok, ln, n_part, n_supp)
        good = self._with_dups(rng, pa.concat_tables([upd, ins]), k["duplicate"], "l_quantity")
        anykeys = rng.choice(self.order_keys, k["null_pk"] + k["null_ts"] + k["orphan"])
        lns = rng.integers(1, 8, len(anykeys))
        bad = _item_rows(rng, anykeys, lns, n_part, n_supp)
        # orphans: the first half point at no order, the rest at no part
        a, b = k["null_pk"], k["null_pk"] + k["null_ts"]
        c = b + k["orphan"] // 2
        bad_pk = self._null(bad.slice(0, a), "l_orderkey")
        bad_ts = self._null(bad.slice(a, b - a), "l_shipdate")
        orphan_o = bad.slice(b, c - b)
        orphan_o = orphan_o.set_column(
            0, "l_orderkey", pa.array(_ORPHAN_BASE + np.arange(orphan_o.num_rows), pa.int64())
        )
        orphan_p = bad.slice(c)
        orphan_p = orphan_p.set_column(
            1, "l_partkey", pa.array(_ORPHAN_BASE + np.arange(orphan_p.num_rows), pa.int64())
        )
        self.item_keys = np.concatenate([self.item_keys, np.stack([ok, ln], 1)])
        return pa.concat_tables([good, bad_pk, bad_ts, orphan_o, orphan_p]), n_ins


# ---------------------------------------------------------------- CDC


class CdcModel:
    """CDC batches against a key-unique lineitem base, and the row
    count of every version a correct table must hold."""

    def __init__(self, seed: int, base_keys: np.ndarray, n_part: int, n_supp: int) -> None:
        self.seed = seed
        self.keys = base_keys  # (n, 2) distinct (l_orderkey, l_linenumber)
        self.part_keys, self.n_supp = np.arange(n_part), n_supp
        self.next_order = int(base_keys[:, 0].max()) + 1
        self.step = 0

    def next_batch(self) -> tuple[pa.Table, int, int]:
        """(batch, n_updates, n_inserts). Updates change l_quantity
        and the price, so every one is a real change."""
        rng = np.random.default_rng([self.seed, 3, self.step])
        self.step += 1
        n = max(int(len(self.keys) * CDC_FRACTION), 20)
        n_upd, n_ins = n // 2, n - n // 2
        pick = self.keys[rng.choice(len(self.keys), n_upd, replace=False)]
        upd = _item_rows(rng, pick[:, 0], pick[:, 1], self.part_keys, self.n_supp)
        # a quantity above the generator's 1..50 range: never equal to
        # the value it replaces
        upd = upd.set_column(4, "l_quantity", pa.array(rng.integers(51, 100, n_upd).astype(np.float64)))
        ok = self.next_order + np.arange(n_ins) // 4
        ln = (np.arange(n_ins) % 4 + 1).astype(np.int32)
        self.next_order = int(ok.max()) + 1
        ins = _item_rows(rng, ok, ln, self.part_keys, self.n_supp)
        self.keys = np.concatenate([self.keys, np.stack([ok, ln], 1)])
        return pa.concat_tables([upd, ins]), n_upd, n_ins


# ------------------------------------------------------------- stream


def write_event_slices(events: pa.Table, out_dir: str, n_slices: int) -> list[str]:
    """Split the (time-sorted) events into ``n_slices`` parquet files
    named in event-time order; the file source lists them in name
    order, so the watermark never drops a row."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, events.num_rows, n_slices + 1).astype(int)
    paths = []
    for i in range(n_slices):
        p = os.path.join(out_dir, f"slice_{i:04d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        paths.append(p)
    return paths
