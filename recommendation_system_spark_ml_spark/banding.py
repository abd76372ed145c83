"""The LSH band join: one core behind every banded near-dup family.

MinHash (``dedup._minhash_pairs``, ``dedup_minhash_checked``), SimHash
(``dedup_simhash_checked``), sign-random-projection LSH
(``similarity.lsh_pairs_over``) and the perceptual hash
(``multimodal_dedup_phash``) share one shape: cut each item's
signature into bands, treat each (band, key) as a hash bucket, and take
every two items that share a bucket as a candidate pair. Each family
keeps its own signature builder and its own exact verify; this module
owns only the stage in between, ``band_pairs``.

- Input: one row per (item, band) -- the id, ``band``, ``key``, plus
  whatever payload ``keep`` or ``extra`` read (packed signature longs,
  a 64-bit pHash). Never the item's full payload: word arrays and
  vectors join back for the surviving pairs only.
- Materialization: the bucket table is eagerly ``localCheckpoint``-ed.
  It feeds both sides of the self-join, so without the cut the whole
  signature stage (seeded-hash array folds, a BLAS matmul, a Python
  decode) would run twice; it is a few dozen bytes per (item, band),
  never payload-sized.
- Join: an equi-join on (band, key) with ``a.id < b.id``, so a pair is
  emitted in id order only and never with itself; the shuffle carries
  bucket rows, never the cross product.
- ``keep(a, b)``: an optional predicate over both sides, applied in the
  join stage before the dedup -- the sign-LSH packed-bit Hamming
  prefilter, the SimHash and pHash Hamming radius.
- ``extra``: optional ``(name, fn(a, b))`` pair columns, e.g. the
  SimHash and pHash ``hamming``. The dedup keeps one row per pair, so
  an extra column must be a function of the pair, not of the band it
  collided in.
- Output: the distinct ``(out[0], out[1])`` pairs (plus ``extra``) that
  share at least one (band, key); a pair colliding in several bands
  appears once.

``a`` and ``b`` in ``keep`` and ``extra`` are column accessors for the
two sides: ``a("sig0")`` is the left row's ``sig0``. ``band_pairs_sql``
is the DuckDB text twin of the predicate-free join, for the oracles
that replay a banded pipeline stage by stage.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Side = Callable[[str], Column]
PairFn = Callable[[Side, Side], Column]


def band_pairs(buckets: DataFrame, id_col: str, out: tuple[str, str],
               keep: PairFn | None = None,
               extra: Sequence[tuple[str, PairFn]] = ()) -> DataFrame:
    """Distinct (id_a, id_b) pairs, id_a < id_b, sharing a (band, key)."""
    buckets = buckets.localCheckpoint(eager=True)

    def a(c: str) -> Column:
        return F.col(f"a.{c}")

    def b(c: str) -> Column:
        return F.col(f"b.{c}")

    pairs = buckets.alias("a").join(
        buckets.alias("b"),
        (a("band") == b("band")) & (a("key") == b("key"))
        & (a(id_col) < b(id_col)))
    if keep is not None:
        pairs = pairs.where(keep(a, b))
    return (pairs.select(a(id_col).alias(out[0]), b(id_col).alias(out[1]),
                         *[fn(a, b).alias(name) for name, fn in extra])
            .dropDuplicates(list(out)))


def band_pairs_sql(buckets: str, id_col: str, out: tuple[str, str]) -> str:
    """The DuckDB text twin of ``band_pairs`` without keep or extra."""
    return (f"SELECT DISTINCT a.{id_col} AS {out[0]}, "
            f"b.{id_col} AS {out[1]}\n"
            f"    FROM {buckets} a JOIN {buckets} b\n"
            f"      ON a.band = b.band AND a.key = b.key"
            f" AND a.{id_col} < b.{id_col}")
