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

Both build their plans from SQL text (``selectExpr``, ``where``,
``F.expr`` aggregates): a ``Column`` tree costs 11–13 py4j round trips per
call from Python, a text expression one parse in the JVM. Key and order
column names enter the text through ``sql_name``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_bqloader_spark.functions.transforms import sql_name

DEFAULT_KEY: tuple[str, ...] = ("url", "warc_ts")


def lww_dedup(
    changes: DataFrame,
    key: Sequence[str] = DEFAULT_KEY,
    order_col: str = "seq",
) -> DataFrame:
    """One winner per key: ``row_number() OVER (PARTITION BY key ORDER BY
    seq DESC) = 1``. Exactly the north-star's "last-writer-wins dedup via
    window ranking"."""
    keys = ", ".join(map(sql_name, key))
    rn = f"row_number() OVER (PARTITION BY {keys} ORDER BY {sql_name(order_col)} DESC) AS __rn"
    return changes.selectExpr("*", rn).where("__rn = 1").drop("__rn")


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
    keys = [sql_name(k) for k in key]
    others = [c for c in changes.columns if c not in key and c != order_col]
    packed = ", ".join(sql_name(c) for c in [order_col, *others])
    local = (
        changes.selectExpr(
            *keys, f"pmod(xxhash64({sql_name(order_col)}), {int(n_salts)}) AS __salt",
            f"struct({packed}) AS __row",
        )
        .groupBy(*map(F.expr, keys), F.expr("__salt"))
        .agg(F.expr("max(__row) AS __row"))
    )
    winners = local.groupBy(*map(F.expr, keys)).agg(F.expr("max(__row) AS __row"))
    # the winner's fields, back in the input's column order
    return winners.selectExpr(
        *(sql_name(c) if c in key else f"__row.{sql_name(c)} AS {sql_name(c)}" for c in changes.columns)
    )
