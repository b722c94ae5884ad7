from lakehouse_architecture_transaction_spark.functions.hashing import h32_col  # noqa: F401
from lakehouse_architecture_transaction_spark.functions.validation import Rule, ValidationResult, validate  # noqa: F401
