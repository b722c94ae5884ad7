"""Tests of the benchmark itself: ``python3 -m pytest perfbench/``.

The last test starts Spark and runs a short traced CDC run (~30 s).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import types

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _inputs_digest(seed: int, tmp_path) -> str:
    """Hash of every input the workloads hand the program."""
    h = hashlib.sha256()
    tables = gen.make_tables(seed, 0.002)
    out = tmp_path / f"sf{seed}"
    gen.write_tables(tables, str(out))
    for f in sorted(os.listdir(out)):
        h.update((out / f).read_bytes())
    model = gen.LandingModel(seed, tables)
    for _ in range(3):
        drops, corrupt = model.next_drops()
        for ds in sorted(drops):
            h.update(drops[ds] + str(corrupt[ds]).encode())
    li = tables["lineitem"]
    keys = gen.np.unique(gen.np.stack([li.column("l_orderkey").to_numpy(), li.column("l_linenumber").to_numpy()], 1), axis=0)
    cdc = gen.CdcModel(seed, keys, tables["part"].num_rows, tables["supplier"].num_rows)
    for _ in range(2):
        batch, _u, _i = cdc.next_batch()
        h.update(str(batch.to_pydict()).encode())
    slices = tmp_path / f"slices{seed}"
    for p in gen.write_event_slices(tables["events"], str(slices), 4):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs_digest(7, tmp_path / "a")
    b = _inputs_digest(7, tmp_path / "b")
    c = _inputs_digest(8, tmp_path / "c")
    assert a == b
    assert a != c


def test_drop_shares_give_expected_dirty_rows():
    tables = gen.make_tables(3, 0.002)
    model = gen.LandingModel(3, tables)
    model.next_drops()
    assert model.curated["order_items"] < tables["lineitem"].num_rows  # base keys repeat
    drops, corrupt = model.next_drops()
    for ds, data in drops.items():
        n = max(int(model.base[ds].num_rows * gen.DROP_FRACTION), 100)
        lines = data.count(b"\n") - 1
        assert corrupt[ds] == max(round(n * gen.DROP_SHARES["corrupt"]), 1)
        assert lines > n * 0.9
    assert all(v > 0 for v in model.rejected.values())
    # order_items: orphan rows are their share of the drop, half with no
    # order and half with no part
    items = pacsv.read_csv(
        pa.py_buffer(drops["order_items"]),
        parse_options=pacsv.ParseOptions(invalid_row_handler=lambda _row: "skip"),
    )
    n = max(int(model.base["order_items"].num_rows * gen.DROP_FRACTION), 100)
    orphan_o = pc.sum(pc.greater_equal(items["l_orderkey"], gen._ORPHAN_BASE)).as_py()
    orphan_p = pc.sum(pc.greater_equal(items["l_partkey"], gen._ORPHAN_BASE)).as_py()
    assert orphan_o + orphan_p == max(round(n * gen.DROP_SHARES["orphan"]), 1)
    assert abs(orphan_o - orphan_p) <= 1


def test_same_rows_ignores_order_only():
    a = pa.table({"k": [1, 2, 2], "v": [0.5, None, 1.5]})
    assert workloads.same_rows(a, a.take([2, 0, 1]))
    assert not workloads.same_rows(a, a.take([0, 0, 1]))
    assert not workloads.same_rows(a, a.rename_columns(["k", "w"]))


def test_metric_names_and_counts():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    assert len(e2e) <= 16 and len(per_layer) <= 128
    assert e2e == list(run.UNITS)
    assert per_layer == [n for n, _u in layers.names()]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == dict(layers.names())
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
    assert len(set(e2e + per_layer)) == len(e2e) + len(per_layer)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


class _FakeWorkload:
    """CDC-shaped ops: 0 ok, 1 raises, 2 fails its check, 3 check raises."""

    name = "cdc_versioned"

    def prepare(self):
        pass

    def warmup(self):
        pass

    def unit(self, i):
        return i

    def op(self, i):
        if i == 1:
            raise RuntimeError("op raised")
        rec = workloads.Op("upsert", 0.01, 10)
        if i == 2:
            rec.check = lambda: False
        elif i == 3:
            rec.check = lambda: (_ for _ in ()).throw(AssertionError("wrong"))
        else:
            rec.check = lambda: True
        return rec


def test_raising_and_wrong_ops_are_counted(monkeypatch):
    monkeypatch.setitem(run.WARM_UNITS, "cdc_versioned", 0)
    monkeypatch.setattr(run, "MIN_UNITS", 4)
    ctx = workloads.Ctx(None, 0, 0.0, "", 1, spans.Tracer(None), storage=False)
    args = types.SimpleNamespace(seconds=0.0, trace=0)
    res = run.run(_FakeWorkload(), args, ctx, 0.0)
    assert res["attempted"] == 4
    assert res["failed"] == 3
    assert res["correct"] is False
    assert res["_ops"][1] is None  # the raising op is kept as a failed attempt


def test_self_times_subtract_children():
    t = spans.Tracer(None)
    t.enabled = True
    outer = t.begin_op(0, "op")
    with t.span("child"):
        with t.span("grandchild"):
            pass
    t.end_op(outer)
    st = spans.self_times(t.spans)
    by = {s.name: s for s in t.spans}
    assert all(v >= 0 for v in st.values())
    assert st[by["op"].id] <= by["op"].dur - by["child"].dur + 1e-9
    assert by["grandchild"].parent == by["child"].id


def test_traced_run_writes_span_file():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "cdc_versioned", "--seed", "5",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {n for n, _u in layers.names()}
    path = os.path.join(ROOT, ".perfbench", "traces", "cdc_versioned-seed5.json")
    doc = json.load(open(path))
    assert doc["spans"] and all(v >= 0 for v in doc["self_s"].values())
    names = {s["name"] for s in doc["spans"]}
    assert {"table.upsert", "merge.merge_upsert", "table.scan", "table.read"} <= names
    assert any(v["stages"] > 0 for v in doc["spark"].values())
