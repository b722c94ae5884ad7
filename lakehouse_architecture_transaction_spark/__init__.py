"""PySpark-native lakehouse analytics engine.

A from-scratch re-expression of the capabilities of the reference
lakehouse ETL (schema enforcement, validation with rejected-record
routing, deduplication, Delta-style merge/upsert, partitioned writes,
downstream SQL analytics) as an idiomatic Spark DataFrame/SQL engine,
extended with the operators a large-scale training-data pipeline needs
(dedup suite, similarity search, text analysis, multimodal plumbing,
structured streaming).

Reference parity notes cite /root/reference file:line in docstrings.
"""

__version__ = "0.1.0"

from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: F401
