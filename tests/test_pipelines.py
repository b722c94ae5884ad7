"""End-to-end test of the three-dataset pipeline driver
(pipelines.py), mirroring the reference's integration test strategy
(reference tests/test_glue_etl.py: process each dataset, check
valid/rejected splits and RI enforcement)."""

from __future__ import annotations

import pyspark.sql.functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.pipelines import run_reference_pipeline, summary_df


def test_reference_pipeline_end_to_end(spark, sf_dir, tmp_path):
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # Dirty the dims so every stage has rejections: null names, and
    # drop some orders so order_items RI has violations to catch.
    part_dirty = part.withColumn(
        "p_name", F.when(F.col("p_partkey") % 23 == 0, F.lit(None)).otherwise(F.col("p_name"))
    )
    orders = load_table(spark, sf_dir, "orders")
    orders_dirty = orders.withColumn(
        "o_orderdate", F.when(F.col("o_orderkey") % 43 == 0, F.lit(None)).otherwise(F.col("o_orderdate"))
    )
    items = load_table(spark, sf_dir, "lineitem")

    results = run_reference_pipeline(
        spark, part_dirty, orders_dirty, items, lake_root=str(tmp_path / "lake")
    )
    by_name = {r.name: r for r in results}

    # Every stage ran and committed exactly its valid rows.
    assert set(by_name) == {"products", "orders", "order_items"}
    for r in results:
        assert r.table_rows == r.valid_rows
        assert r.valid_rows > 0

    # Rejections happened where we injected problems.
    assert by_name["products"].rejected_rows > 0
    assert by_name["orders"].rejected_rows > 0
    # order_items loses rows via RI: its FK targets exclude the
    # rejected orders, so at least those lineitems must bounce.
    assert by_name["order_items"].rejected_rows > 0

    # The rejected zone carries the reference's metadata columns.
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    rejected = LakeTable(
        spark, str(tmp_path / "lake" / "rejected" / "order_items"), keys=["l_orderkey", "l_linenumber"]
    ).read()
    assert {"validation_errors", "rejection_time", "source"} <= set(rejected.columns)
    errs = {r["validation_errors"] for r in rejected.select("validation_errors").distinct().collect()}
    assert "Invalid order reference" in errs

    # Idempotent re-run: merging the same valid rows changes nothing.
    results2 = run_reference_pipeline(
        spark, part_dirty, orders_dirty, items, lake_root=str(tmp_path / "lake")
    )
    assert {r.name: r.table_rows for r in results2} == {r.name: r.table_rows for r in results}

    sdf = summary_df(spark, results)
    assert sdf.count() == 3


def test_landing_zone_watcher_e2e(spark, sf_dir, tmp_path):
    # Drop files → pipeline runs in dependency order → sources archived;
    # a corrupt drop is quarantined without killing the cycle; a second
    # cycle is a no-op (landing zone drained — no double processing).
    import os

    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
    from lakehouse_architecture_transaction_spark.orchestration import process_landing

    landing = tmp_path / "landing"
    archive = tmp_path / "archive"
    errors = tmp_path / "errors"
    lake = tmp_path / "lake"
    landing.mkdir()

    part = load_table(spark, sf_dir, "part").limit(100)
    orders = load_table(spark, sf_dir, "orders").limit(200)
    li = load_table(spark, sf_dir, "lineitem").limit(300)
    part.write.parquet(str(landing / "products_batch1.parquet"))
    orders.write.parquet(str(landing / "orders_batch1.parquet"))
    li.write.parquet(str(landing / "order_items_batch1.parquet"))
    # a malformed drop: recognized dataset name, unreadable content
    (landing / "orders_corrupt.parquet").write_text("not parquet at all")

    results = process_landing(spark, str(landing), str(archive), str(errors), str(lake))
    by_file = {os.path.basename(r.file): r.status for r in results}
    assert by_file["products_batch1.parquet"] == "archived"
    assert by_file["orders_batch1.parquet"] == "archived"
    assert by_file["order_items_batch1.parquet"] == "archived"
    assert by_file["orders_corrupt.parquet"] == "quarantined"
    assert sorted(os.listdir(landing)) == []  # drained
    assert (errors / "orders_corrupt.parquet").exists()

    curated = LakeTable(spark, str(lake / "curated" / "order_items"), keys=["l_orderkey", "l_linenumber"])
    assert curated.exists() and curated.read().count() > 0

    # second cycle: nothing to do
    assert process_landing(spark, str(landing), str(archive), str(errors), str(lake)) == []


def test_landing_zone_gates_items_on_missing_dims(spark, sf_dir, tmp_path):
    # order_items dropped BEFORE any dims are curated must quarantine
    # (Step Function sequencing: FK targets don't exist yet).
    from lakehouse_architecture_transaction_spark.orchestration import process_landing

    landing = tmp_path / "landing2"
    landing.mkdir()
    li = load_table(spark, sf_dir, "lineitem").limit(50)
    li.write.parquet(str(landing / "order_items_early.parquet"))
    results = process_landing(
        spark, str(landing), str(tmp_path / "a2"), str(tmp_path / "e2"), str(tmp_path / "lake2")
    )
    assert len(results) == 1 and results[0].status == "quarantined"
    assert "requires curated" in results[0].detail


def test_landing_archive_retries_transient_failures(spark, sf_dir, tmp_path, monkeypatch):
    # The reference's "Archive Files" Retry block: transient errors
    # back off and retry (3 attempts); success on a later attempt still
    # archives, and the attempt count is reported.
    import shutil as _shutil

    from lakehouse_architecture_transaction_spark import orchestration as orch
    from lakehouse_architecture_transaction_spark.catalog import load_table

    landing, archive, errors, lake = (
        tmp_path / "landing", tmp_path / "archive", tmp_path / "errors", tmp_path / "lake"
    )
    landing.mkdir()
    load_table(spark, sf_dir, "part").limit(50).write.parquet(str(landing / "products_drop.parquet"))

    real_move = _shutil.move
    calls = {"n": 0}

    def flaky_move(src, dst):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("transient storage hiccup")
        return real_move(src, dst)

    monkeypatch.setattr(orch.shutil, "move", flaky_move)
    results = orch.process_landing(
        spark, str(landing), str(archive), str(errors), str(lake), retry_interval_s=0.0
    )
    assert [r.status for r in results] == ["archived"]
    assert results[0].attempts == 3
    assert list(archive.iterdir())  # file landed in the archive

def test_landing_archive_failure_never_requarantines_ingested_data(spark, sf_dir, tmp_path, monkeypatch):
    # Post-ingest archive failure (ALL retries exhausted) must NOT route
    # the file to quarantine — the data is already committed, and a
    # re-dropped quarantined file would re-ingest (duplicates for the
    # append-mode rejected zone). Instead: status ingested_archive_failed,
    # file stays in landing with an .ingested sidecar, and the NEXT cycle
    # retries the move only — table row count must not change.
    import shutil as _shutil

    from lakehouse_architecture_transaction_spark import orchestration as orch
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    landing, archive, errors, lake = (
        tmp_path / "landing", tmp_path / "archive", tmp_path / "errors", tmp_path / "lake"
    )
    landing.mkdir()
    load_table(spark, sf_dir, "part").limit(50).write.parquet(str(landing / "products_d1.parquet"))

    real_move = _shutil.move

    def always_fail(src, dst):
        raise OSError("storage down")

    monkeypatch.setattr(orch.shutil, "move", always_fail)
    results = orch.process_landing(
        spark, str(landing), str(archive), str(errors), str(lake), retry_interval_s=0.0
    )
    assert [r.status for r in results] == ["ingested_archive_failed"]
    assert (landing / "products_d1.parquet").exists()  # NOT quarantined
    assert (landing / "products_d1.parquet.ingested").exists()
    assert not list(errors.iterdir()) if errors.exists() else True
    curated = LakeTable(spark, str(lake / "curated" / "products"), keys=["p_partkey"])
    n_after_ingest = curated.read().count()
    assert n_after_ingest > 0

    # next cycle, storage recovered: move-only retry — no re-ingest
    monkeypatch.setattr(orch.shutil, "move", real_move)
    results2 = orch.process_landing(
        spark, str(landing), str(archive), str(errors), str(lake), retry_interval_s=0.0
    )
    assert [r.status for r in results2] == ["archived"]
    assert (archive / "products_d1.parquet").exists()
    assert not (landing / "products_d1.parquet.ingested").exists()
    assert curated.read().count() == n_after_ingest

def test_stale_ingested_sidecar_never_suppresses_new_drop(spark, sf_dir, tmp_path):
    # A sidecar that does not match the data file now in the landing
    # zone (crash leftovers, then a NEW same-named drop) must not
    # suppress ingestion; an orphan sidecar with NO data file is swept.
    import os

    from lakehouse_architecture_transaction_spark import orchestration as orch
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    landing, archive, errors, lake = (
        tmp_path / "landing", tmp_path / "archive", tmp_path / "errors", tmp_path / "lake"
    )
    landing.mkdir()
    # orphan: sidecar without its data file -> swept, nothing processed
    (landing / "products_ghost.parquet.ingested").write_text("123:456")
    assert orch.process_landing(spark, str(landing), str(archive), str(errors), str(lake)) == []
    assert not (landing / "products_ghost.parquet.ingested").exists()

    # stale sidecar + NEW same-named file -> ingested normally
    load_table(spark, sf_dir, "part").limit(40).write.parquet(str(landing / "products_x.parquet"))
    (landing / "products_x.parquet.ingested").write_text("1:1")  # wrong identity
    results = orch.process_landing(spark, str(landing), str(archive), str(errors), str(lake))
    assert [r.status for r in results] == ["archived"]
    curated = LakeTable(spark, str(lake / "curated" / "products"), keys=["p_partkey"])
    assert curated.read().count() > 0  # the new file WAS ingested
    assert not os.path.exists(str(landing / "products_x.parquet.ingested"))
