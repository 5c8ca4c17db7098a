"""Window-function surface: deterministic ranking (SURVEY.md §2.7).

The reference imports ``Window`` in three scripts but never uses it —
the ranking intent surfaces as ORDER BY in its SQL. This module is the
minimal deliberate window surface: deterministic ranking (row_number
with a total tiebreak; rank/dense_rank over the semantic ordering).

Scale note: a per-group top-k filter on ``row_number`` compiles to
``WindowGroupLimit`` (partial top-k before the shuffle, Spark 3.5+) —
the window shuffles each group once, never globally sorts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_ranks(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[Column],
    tiebreak_cols: Sequence[Column] = (),
) -> DataFrame:
    """Append ``row_number``/``rank``/``dense_rank``.

    ``row_number`` orders by ``order_cols + tiebreak_cols`` (total order
    → deterministic); rank/dense_rank use only ``order_cols`` so ties
    share a rank (engine-independent semantics).
    """
    semantic = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    total = Window.partitionBy(*partition_cols).orderBy(
        *order_cols, *tiebreak_cols
    )
    return (
        df.withColumn("row_num", F.row_number().over(total))
        .withColumn("rnk", F.rank().over(semantic))
        .withColumn("dense_rnk", F.dense_rank().over(semantic))
    )
