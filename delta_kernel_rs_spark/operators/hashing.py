"""Deterministic cross-engine hashing primitives.

Every hash here is reproducible bit-for-bit in ANSI SQL (the DuckDB oracle
twin uses the same constructions), so pipeline operators built on them can
be verified end-to-end by the driver's value-hash gate:

- ``md5_hash32``: first 8 hex chars of MD5 → unsigned 32-bit integer.
  Spark: ``conv(substring(md5(x),1,8),16,10)``; DuckDB:
  ``('0x'||substr(md5(x),1,8))::BIGINT``. MD5 is standard everywhere.
- MinHash permutations ``h_i(x) = (a_i*x + b_i) mod P`` with
  ``P = 2^31 - 1`` and fixed seeded constants, all in BIGINT arithmetic
  (products stay < 2^62, no overflow under Spark ANSI mode).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1: big enough for 32-bit-ish hashes, small enough
#: that a*x never overflows signed 64-bit.
MINHASH_PRIME = 2_147_483_647

#: Number of MinHash permutations (the signature length).
N_PERMUTATIONS = 64

#: Rows per LSH band -> 16 bands of 4 rows with the default signature.
BAND_ROWS = 4


def _permutation_constants(
    n: int = N_PERMUTATIONS, seed: int = 0xD37A
) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs shared by the Spark pipeline and the SQL oracle."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(n)
    ]


PERMUTATIONS: list[tuple[int, int]] = _permutation_constants()


def md5_hash32(col: Column | str) -> Column:
    """Deterministic unsigned 32-bit hash of a string column via MD5."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")

