"""Last-writer-wins dedup — the core CDC reduction.

The reference appends blindly (duplicate event ⇒ duplicate rows — no dedup
anywhere in ``/root/reference/loader.go``); the engine upgrades this to
exactly-once by reducing every change batch to one winner per change key
before MERGE. Two implementations with identical semantics:

- :func:`lww_dedup` — single ``row_number`` window (one shuffle on the key).
- :func:`salted_lww_dedup` — two-phase for hot-key skew: a salted local
  reduction first (spreads one hot key over ``n_salts`` reducers), then the
  global winner among at most ``n_salts`` survivors per key. At 10^10 events
  a single hot domain would otherwise pin one reducer; the salted phase
  bounds any reducer's input at ``rows(key)/n_salts``.

Winner rule: max ``seq`` per (key); ties (verbatim redeliveries) are
identical rows, so any winner is correct.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

DEFAULT_KEY: tuple[str, ...] = ("url", "warc_ts")


def lww_dedup(
    changes: DataFrame,
    key: Sequence[str] = DEFAULT_KEY,
    order_col: str = "seq",
) -> DataFrame:
    """One winner per key: ``row_number() OVER (PARTITION BY key ORDER BY
    seq DESC) = 1``. Exactly the north-star's "last-writer-wins dedup via
    window ranking"."""
    w = W.partitionBy(*key).orderBy(F.col(order_col).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def salted_lww_dedup(
    changes: DataFrame,
    key: Sequence[str] = DEFAULT_KEY,
    order_col: str = "seq",
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-proof LWW dedup, same result as :func:`lww_dedup`.

    Phase 1 partitions by (key, salt) where ``salt = pmod(xxhash64(seq),
    n_salts)`` — deterministic, spreads a hot key across ``n_salts``
    reducers and combines map-side. Phase 2 ranks the ≤ ``n_salts``
    survivors per key. Because ``max`` is associative+commutative the
    composition equals the single-phase winner.

    ``max_by``-style reduction (groupBy + struct max) is used in phase 1 so
    Spark performs partial (map-side) aggregation — a window cannot do that.
    """
    salt = F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_salts)).alias("__salt")
    others = [c for c in changes.columns if c not in key and c != order_col]
    packed = F.struct(F.col(order_col), *[F.col(c) for c in others]).alias("__row")

    local = (
        changes.select(*key, salt, packed)
        .groupBy(*key, "__salt")
        .agg(F.max("__row").alias("__row"))
    )
    winners = local.groupBy(*key).agg(F.max("__row").alias("__row"))
    return winners.select(
        *key,
        F.col(f"__row.{order_col}").alias(order_col),
        *[F.col(f"__row.{c}").alias(c) for c in others],
    ).select(*changes.columns)
