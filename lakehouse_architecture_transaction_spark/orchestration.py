"""Event-driven orchestration stand-in: landing-zone watcher with
archive-on-success / quarantine-on-failure.

The reference wires S3 "object created" events through a Lambda that
starts a Step Functions execution for the dropped file (reference
scripts/lambda/trigger_sfn.py:1-38), and a second Lambda archives the
source object once the pipeline succeeds (reference
scripts/lambda/archive_on_success.py:1-44, plus the retry/catch states
in code/step_function_code.json). This module reproduces those
SEMANTICS over a filesystem landing zone — the cloud-event plumbing
itself is a deployment concern, but the behaviors a user observes
(drop file → pipeline runs → source archived; bad file → quarantined,
good files unaffected; re-run → no double-processing) are engine
surface and tested here.

Filename convention (the reference extracts the dataset from the S3
key the same way): ``<dataset>_<anything>.parquet`` where dataset ∈
{products, orders, order_items}. Drops are processed in dependency
order per cycle — products → orders → order_items — mirroring the
Step Function's strict sequencing (order_items FK-validates against
the CURATED dims).
"""

from __future__ import annotations

import os
import shutil
import traceback
from dataclasses import dataclass

from pyspark.sql import SparkSession

from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
from lakehouse_architecture_transaction_spark.pipelines import (
    DatasetSpec,
    dataset_spec,
    process_dataset,
)

#: Processing order: order_items validates against curated dims, so
#: dims must land first within a cycle (reference
#: code/step_function_code.json runs the three Glue jobs in sequence).
DATASET_ORDER = ("products", "orders", "order_items")

#: Sidecar suffix marking a landing file whose data is already committed
#: to the lake but whose archive move failed — next cycle retries the
#: move only (never re-ingests). The sidecar records the data file's
#: (size, mtime_ns) identity: a sidecar that doesn't match the present
#: file (stale marker surviving a crash between move and cleanup, then
#: a NEW same-named drop) must NOT suppress ingestion.
_INGESTED_MARK = ".ingested"


def _file_identity(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def _write_ingested_mark(path: str) -> None:
    with open(path + _INGESTED_MARK, "w") as mark:
        mark.write(_file_identity(path))


def _ingested_mark_valid(path: str) -> bool:
    """True only if the sidecar exists AND matches the data file now in
    the landing zone — same-name re-drops and stale markers read as
    not-yet-ingested."""
    try:
        with open(path + _INGESTED_MARK) as mark:
            return mark.read().strip() == _file_identity(path)
    except OSError:
        return False


@dataclass
class TriggerResult:
    file: str
    dataset: str
    status: str  # "archived" | "quarantined" | "ingested_archive_failed" | "skipped"
    detail: str = ""
    attempts: int = 1


def _dataset_of(filename: str) -> str | None:
    base = os.path.basename(filename)
    # longest prefix first so order_items_* doesn't match orders
    for ds in sorted(DATASET_ORDER, key=len, reverse=True):
        if base.startswith(ds + "_") or base == f"{ds}.parquet":
            return ds
    return None


def _spec_for(spark: SparkSession, dataset: str, lake_root: str) -> DatasetSpec:
    if dataset != "order_items":
        return dataset_spec(dataset)
    dims = {}
    for dim, ref_col in (("orders", "o_orderkey"), ("products", "p_partkey")):
        dim_table = LakeTable(spark, os.path.join(lake_root, "curated", dim), keys=[ref_col])
        if not dim_table.exists():
            raise RuntimeError(
                f"order_items requires curated {dim!r} before it can FK-validate "
                "(Step Function sequencing)"
            )
        dims[dim] = dim_table.read()
    return dataset_spec("order_items", **dims)


def _retrying(fn, max_attempts: int, interval_s: float, backoff_rate: float, transient):
    """Reference "Archive Files" retry policy (code/
    step_function_code.json: IntervalSeconds 1, MaxAttempts 3,
    BackoffRate 2): retry ``transient`` errors with exponential
    backoff; anything else — and the last attempt — propagates.
    Returns (result, attempts)."""
    import time

    attempt = 1
    while True:
        try:
            return fn(), attempt
        except BaseException as exc:
            # annotate how far we actually got — a non-transient error on
            # attempt 1 must not be reported as a full retry schedule
            exc._attempts = attempt  # type: ignore[attr-defined]
            if not isinstance(exc, transient) or attempt >= max_attempts:
                raise
            if interval_s:
                time.sleep(interval_s * (backoff_rate ** (attempt - 1)))
            attempt += 1


def process_landing(
    spark: SparkSession,
    landing_root: str,
    archive_root: str,
    error_root: str,
    lake_root: str,
    max_attempts: int = 3,
    retry_interval_s: float = 1.0,
    backoff_rate: float = 2.0,
    transient_exceptions: tuple[type, ...] = (OSError,),
) -> list[TriggerResult]:
    """One watcher cycle: pick up every recognized file in the landing
    zone (dependency order), run the per-dataset pipeline, then move
    the source — archive on success (reference archive_on_success.py),
    error quarantine on failure (the Step Function's Catch route).

    The archive move retries TRANSIENT errors with exponential backoff
    (the reference's "Archive Files" Retry block); data failures are
    not transient and go straight to quarantine. Failures are isolated
    per file: one bad drop quarantines that file and leaves the rest
    of the cycle running — the retry/catch semantics of the reference
    state machine, minus the cloud."""
    os.makedirs(archive_root, exist_ok=True)
    os.makedirs(error_root, exist_ok=True)
    drops: list[tuple[str, str]] = []
    for f in sorted(os.listdir(landing_root)):
        if f.endswith(_INGESTED_MARK):
            # orphan cleanup: a sidecar whose data file is gone means the
            # archive move DID land but the marker removal didn't (crash
            # or fs hiccup in the window) — drop it so a future
            # same-named drop is ingested normally
            if not os.path.exists(os.path.join(landing_root, f[: -len(_INGESTED_MARK)])):
                os.remove(os.path.join(landing_root, f))
            continue
        ds = _dataset_of(f)
        if ds is not None:
            drops.append((ds, os.path.join(landing_root, f)))
    drops.sort(key=lambda p: DATASET_ORDER.index(p[0]))

    results: list[TriggerResult] = []
    for ds, path in drops:
        attempts = 1
        already_ingested = _ingested_mark_valid(path)
        if not already_ingested:
            try:
                df = spark.read.parquet(path)
                spec = _spec_for(spark, ds, lake_root)
                process_dataset(spark, df, spec, lake_root)
            except Exception:  # noqa: BLE001 - quarantine ANY pipeline failure, keep the cycle alive
                dest = os.path.join(error_root, os.path.basename(path))
                shutil.move(path, dest)
                results.append(
                    TriggerResult(
                        file=path,
                        dataset=ds,
                        status="quarantined",
                        detail=traceback.format_exc(limit=1),
                        attempts=attempts,
                    )
                )
                continue
        # Data is COMMITTED to the lake past this point. An archive-move
        # failure must NOT route to quarantine: re-dropping a quarantined
        # file would re-ingest it (duplicates for append-mode datasets —
        # the rejected-records zone is append, not merge). Instead the
        # file stays in the landing zone with an ``.ingested`` sidecar;
        # the next cycle sees the sidecar and retries the MOVE ONLY.
        try:
            # mark BEFORE the move: if the process dies mid-move the
            # marker still matches the (unmoved) file and the next cycle
            # retries the move only; if the move landed, the data file
            # is gone and the orphan cleanup removes the marker
            _write_ingested_mark(path)
            dest = os.path.join(archive_root, os.path.basename(path))
            _, attempts = _retrying(
                lambda: shutil.move(path, dest),
                max_attempts=max_attempts,
                interval_s=retry_interval_s,
                backoff_rate=backoff_rate,
                transient=transient_exceptions,
            )
        except Exception as exc:  # noqa: BLE001 - post-ingest: keep in landing, marker => move-only retry
            results.append(
                TriggerResult(
                    file=path,
                    dataset=ds,
                    status="ingested_archive_failed",
                    detail=traceback.format_exc(limit=1),
                    attempts=getattr(exc, "_attempts", attempts),
                )
            )
            continue
        # move landed — a marker-removal hiccup must NOT flip the result
        # back to failed (next cycle's orphan cleanup handles leftovers)
        try:
            os.remove(path + _INGESTED_MARK)
        except OSError:
            pass
        results.append(
            TriggerResult(
                file=path, dataset=ds, status="archived", detail=dest, attempts=attempts
            )
        )
    return results

