"""Key-based dedup with the reference's keep-first semantics.

The reference dedups in-memory with Python sets (shopify_etl.py:496-542):
- single key (:507-516): keep FIRST occurrence; rows whose key is null
  are DROPPED;
- composite key (:517-542): keep FIRST occurrence; rows with ANY null
  key component are KEPT verbatim (:533-540) — they never enter the
  seen-set;
- arrival order is the fetch order (``order=asc``, :274) — so callers
  must supply an explicit ``order_col`` to make "first" well-defined in
  a distributed engine (Spark's ``dropDuplicates`` keeps an arbitrary
  row; SURVEY §2.4 A5).

Documented DEVIATIONS (deterministic superset, ADVICE round 1):
- The reference runs its dedup pass only when ``len(rows) != len(set)``
  detects actual duplicates, so null-key rows survive duplicate-free
  batches; we apply the null-key policy unconditionally — the output is
  batch-content-independent (the same row always gets the same fate).
- The reference's single-key guard is falsy (``if key``), dropping
  empty-string and 0 keys too; we drop only true SQL NULLs — '' and 0
  are legitimate key values in a typed engine.

Scale: one shuffle on the dedup keys (window partition); no driver
state — unlike the reference's O(n) driver-memory set, this scales to
any key cardinality.  Skewed keys are handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_keep_first(
    df: DataFrame,
    keys: list[str],
    order_col: str | Column,
    drop_null_single_key: bool = True,
) -> DataFrame:
    """Keep the first row per key, ordered by ``order_col``.

    Mirrors shopify_etl.py:496-542 null handling: single null key →
    row dropped; composite key with any null component → row kept
    (bypasses dedup entirely).
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*keys).orderBy(order)
    ranked = df.withColumn("__rn", F.row_number().over(w))

    if len(keys) == 1:
        out = ranked.where(F.col("__rn") == 1)
        if drop_null_single_key:
            out = out.where(F.col(keys[0]).isNotNull())  # :511
        return out.drop("__rn")

    any_null = F.lit(False)
    for k in keys:
        any_null = any_null | F.col(k).isNull()
    # Null-component rows are kept verbatim (:533-540); non-null-key rows
    # dedup to their first arrival.
    return ranked.where(any_null | (F.col("__rn") == 1)).drop("__rn")

