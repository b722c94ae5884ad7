"""Cross-engine deterministic hashing primitives.

Every probabilistic operator in the engine (MinHash, SimHash, LSH,
fingerprints) is built on one primitive: a 32-bit unsigned integer
derived from the first 8 hex chars of md5. md5 is bit-identical in
every engine, so the same operator can be expressed in Spark (for the
engine) and ANSI SQL (for the DuckDB correctness oracle) and produce
identical results — which is what makes these operators testable at
all. Engine-native hashes (xxhash64, DuckDB hash()) are faster but
engine-specific; at scale you would swap `H32_SPARK` to xxhash64 and
keep the operator shape.

Spark:   conv(substring(md5(x), 1, 8), 16, 10) :: long
DuckDB:  ('0x' || substr(md5(x), 1, 8)) :: BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Modulus for universal-hash permutations: smallest prime > 2^32.
MERSENNE_P = 4294967311


def h32_col(c: Column) -> Column:
    """32-bit unsigned hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def perm_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for n universal-hash
    permutations h_i(x) = (a_i * x + b_i) mod P. Fixed small-integer
    schedule — no RNG, so Spark and the SQL oracle agree exactly.
    """
    return [(2 * i + 1, 12345 + 7919 * i) for i in range(n)]
