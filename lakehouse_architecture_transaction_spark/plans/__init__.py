"""Query plan library, one module per query family.

Importing this package registers every query into
``lakehouse_architecture_transaction_spark.plans.registry.REGISTRY``; ``__spark_entry__``
exposes the registry to the driver. Helpers that more than one family
uses live in ``_shared``.
"""

from lakehouse_architecture_transaction_spark.plans import (  # noqa: F401
    ann,
    behavior,
    dedup,
    emb,
    etl,
    events,
    graph,
    mm,
    sampling,
    streaming,
    text,
    tpch,
    window,
)
from lakehouse_architecture_transaction_spark.plans.registry import REGISTRY, QuerySpec  # noqa: F401
