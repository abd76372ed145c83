"""The Knuth multiplicative hash: the one gate behind every split,
sample and mix.

The reference splits its ratings with ``randomSplit`` (MLR.py:145),
whose rows depend on partitioning and whose RNG no other engine
replays. The engine's splits, samples and mixes use this hash instead:
pure integer arithmetic, restart-stable, and written identically for
Spark (``knuth_hash``) and for the DuckDB oracle (``knuth_hash_sql``),
so each gated row set is hash-checkable.

Fold before multiply. The key is reduced mod 2^31 before the multiply:

- the product is then at most (2^31 - 1) * KNUTH < 2^63, so it never
  overflows INT64 on any key -- unfolded, any key above ~3.47e9 raises
  ARITHMETIC_OVERFLOW in ANSI Spark and "Overflow in multiplication of
  INT64" in DuckDB;
- the fold is an identity for |key| < 2^31, so every key below that
  hashes exactly as the unfolded recipe does;
- Spark's ``%`` and DuckDB's ``%`` both truncate toward zero, so a
  negative key folds and hashes to the same (negative) value in both
  engines: ``knuth_hash(-12345) % 10`` is -1 on either side.

Callers own the key (salts and id folds are part of it) and the gate:
``knuth_hash(k) % 10 < 7`` is a 70/30 split, ``knuth_hash(k) /
4294967296.0`` a uniform draw in [0, 1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH = 2654435761  # a prime near 2^32 / golden ratio (TAOCP vol. 3, 6.4)


def knuth_hash(key: Column) -> Column:
    """((key % 2^31) * KNUTH) % 2^32 as a Spark Column."""
    return ((key % F.lit(2147483648)) * F.lit(KNUTH)) % F.lit(4294967296)


def knuth_hash_sql(key: str) -> str:
    """The DuckDB text twin of ``knuth_hash`` (same association)."""
    return f"((({key}) % 2147483648) * {KNUTH} % 4294967296)"
