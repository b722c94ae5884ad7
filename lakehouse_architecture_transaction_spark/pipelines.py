"""Plain-Python pipeline driver — the engine's stand-in for the
reference's Step Functions orchestration (reference
code/step_function_code.json; SURVEY §4).

The reference's graph is strictly ordered because order_items
validates against BOTH upstream datasets: products → orders →
order_items (reference scripts/glue/script.py:235-260). Each dataset
runs the same stage chain the Glue job runs per dataset
(scripts/glue/script.py:163-232):

    enforce schema → validate (rules + FK checks) → dedup by PK
    → MERGE into the curated lakehouse table
    → append rejected rows (+ rejection_time / source metadata)
      to the rejected zone, partitioned like the reference's.

Orchestration is deliberately dumb Python: the distributed work is
all inside the DataFrame plans; this file only sequences them and
returns counts. Retries/alerting/event triggers (the reference's
Lambda + Step Functions plumbing, scripts/lambda/*.py) are deployment
concerns outside engine scope.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.functions.validation import (
    FkCheck,
    Rule,
    not_null,
    positive,
    validate,
)
from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
from lakehouse_architecture_transaction_spark.operators.dedup import dedup_exact


@dataclass
class DatasetSpec:
    """One dataset's processing contract (reference
    scripts/glue/script.py:100-132 config dict)."""

    name: str
    keys: list[str]
    rules: list[Rule] = field(default_factory=list)
    fk_checks: list[FkCheck] = field(default_factory=list)
    partition_by: str | None = None


@dataclass
class StageResult:
    name: str
    valid_rows: int
    rejected_rows: int
    table_rows: int


def process_dataset(
    spark: SparkSession,
    df: DataFrame,
    spec: DatasetSpec,
    lake_root: str,
) -> tuple[StageResult, DataFrame]:
    """Run one dataset through validate → dedup → merge → rejected
    append. Returns the stage summary and the CURATED dataframe (read
    back from the lake so downstream FK checks see exactly what was
    committed, as the reference's sequential job does)."""
    res = validate(df, rules=spec.rules, fk_checks=spec.fk_checks)
    valid = dedup_exact(res.valid, keys=spec.keys)

    table = LakeTable(
        spark,
        os.path.join(lake_root, "curated", spec.name),
        keys=spec.keys,
        partition_by=spec.partition_by,
    )
    table.upsert(valid)

    rejected = res.rejected_with_meta(source=spec.name)
    rejected_zone = LakeTable(
        spark,
        os.path.join(lake_root, "rejected", spec.name),
        keys=spec.keys,
    )
    n_rejected = rejected.count()
    if n_rejected:
        rejected_zone.append(rejected)

    curated = table.read()
    return (
        StageResult(
            name=spec.name,
            valid_rows=valid.count(),
            rejected_rows=n_rejected,
            table_rows=curated.count(),
        ),
        curated,
    )


def dataset_spec(
    name: str, products: DataFrame | None = None, orders: DataFrame | None = None
) -> DatasetSpec:
    """The reference's contract for one of its three datasets (keys,
    rules and error strings of reference scripts/glue/script.py:100-132).
    ``order_items`` FK-checks against the CURATED ``products`` and
    ``orders`` frames the caller passes in."""
    if name == "products":
        return DatasetSpec(
            name="products",
            keys=["p_partkey"],
            rules=[not_null("p_partkey"), not_null("p_name", "Null product_name")],
        )
    if name == "orders":
        return DatasetSpec(
            name="orders",
            keys=["o_orderkey"],
            rules=[
                not_null("o_orderkey"),
                not_null("o_orderdate", "Invalid timestamp"),
                positive("o_totalprice"),
            ],
        )
    if name == "order_items":
        return DatasetSpec(
            name="order_items",
            keys=["l_orderkey", "l_linenumber"],
            rules=[
                not_null("l_orderkey"),
                not_null("l_linenumber"),
                not_null("l_shipdate", "Invalid timestamp"),
            ],
            fk_checks=[
                FkCheck(
                    fk_col="l_orderkey",
                    ref=orders,
                    ref_col="o_orderkey",
                    error="Invalid order reference",
                ),
                FkCheck(
                    fk_col="l_partkey",
                    ref=products,
                    ref_col="p_partkey",
                    error="Invalid product reference",
                ),
            ],
        )
    raise KeyError(name)


def run_reference_pipeline(
    spark: SparkSession,
    products: DataFrame,
    orders: DataFrame,
    order_items: DataFrame,
    lake_root: str,
) -> list[StageResult]:
    """The reference's three-dataset flow on arbitrary input frames.

    products and orders are curated first; order_items then FK-checks
    against the CURATED dims (the reference validates order_items
    against the processed products/orders — scripts/glue/script.py:
    252-258). Dims are broadcast in the FK anti-joins; at fact-sized
    reference sets FkCheck(broadcast=False) shuffles instead.
    """
    r_products, curated_products = process_dataset(
        spark, products, dataset_spec("products"), lake_root
    )
    r_orders, curated_orders = process_dataset(spark, orders, dataset_spec("orders"), lake_root)
    item_spec = dataset_spec("order_items", products=curated_products, orders=curated_orders)
    r_items, _ = process_dataset(spark, order_items, item_spec, lake_root)
    return [r_products, r_orders, r_items]


def summary_df(spark: SparkSession, results: list[StageResult]) -> DataFrame:
    rows = [(r.name, r.valid_rows, r.rejected_rows, r.table_rows) for r in results]
    return spark.createDataFrame(
        rows, "name string, valid_rows long, rejected_rows long, table_rows long"
    ).orderBy(F.col("name"))
