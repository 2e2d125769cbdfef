"""Windowed distinct counts — exact and approximate (SURVEY.md §2.3 A5-A7).

Reference semantics reproduced:

- exact per-window UV: ``UvCountByWindow`` buffers *all* userIds of an
  hour into a ``Set`` (NetworkFlowAnalysis/UniqueVisitor.scala:52-66) —
  here ``count_distinct`` whose partial aggregation dedups map-side, so
  state is O(distinct) *per partition* and merges across executors (the
  reference's single Set is a single-node memory bomb at 1e8 users);
- approximate UV: the reference carries a guava bloom filter accumulator
  whose ``merge`` is literally unimplemented
  (UvByBloomFilterWithoutRedis.scala:77 ``???``) and a Redis-bitmap
  variant with a hand-rolled hash (UvWithBloomFilter.scala:93-143) —
  here ``approx_distinct``, a DataSketches HLL sketch
  (``hll_sketch_agg``): mergeable, bounded, no external store.  At
  ``rsd=0.01`` it keeps 2^14 registers, a 16 KB HLL_8 array per window
  whatever the cardinality (the designed-for 1e8/hour,
  UvByBloomFilterWithoutRedis.scala:20), and a smaller exact list/set
  while a window holds few distinct ids.

Why not ``approx_count_distinct`` (HLL++): Spark stores its 2^p 6-bit
registers as ceil(2^p / 10) separate long buffer columns, 1,639 at
``rsd=0.01``, so every partial-aggregate row is 1,640 columns wide —
far past ``spark.sql.codegen.maxFields`` (100) — and both the scan and
the merge stage run without whole-stage codegen.  The sketch is one
binary column.  From ``rsd`` ≈ 0.04 up (≤ 2^10 registers, ≤ 103 buffer
words) HLL++ is near or under the codegen limit and can be the faster of
the two: on 10M rows in 720 groups (4-vCPU Xeon VM, ``local[4]``) HLL++
took 3.94 s against the sketch's 2.08 s at ``rsd=0.01``, but 0.70 s
against 1.91 s at ``rsd=0.05`` (52 words).  No registered query uses an
``rsd`` that coarse, so there is one path.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: lgConfigK range DataSketches' HLL accepts
_LGK_MIN, _LGK_MAX = 4, 21


def approx_lgk(rsd: float) -> int:
    """Register exponent for a target relative standard deviation: Spark's
    HLL++ precision rule ``ceil(2·log2(1.106 / rsd))``, so a given ``rsd``
    keeps the register count (and error class) HLL++ used.  Raises
    ``ValueError`` outside DataSketches' 4..21 instead of clamping."""
    lgk = math.ceil(2.0 * math.log2(1.106 / rsd))
    if not _LGK_MIN <= lgk <= _LGK_MAX:
        raise ValueError(
            f"rsd={rsd} needs lgConfigK={lgk}, outside the sketch's {_LGK_MIN}..{_LGK_MAX}"
        )
    return lgk


def approx_distinct(col: str, rsd: float = 0.01) -> Column:
    """Approximate distinct count of *col* at relative standard deviation
    *rsd*, as a DataSketches HLL sketch estimate (see the module
    docstring for why not HLL++)."""
    return F.hll_sketch_estimate(F.hll_sketch_agg(col, approx_lgk(rsd)))


def windowed_distinct_count(
    df: DataFrame,
    ts_col: str,
    size: str,
    distinct_col: str,
    slide: str | None = None,
    keys: Sequence[str] = (),
    approx: bool = False,
    rsd: float = 0.01,
    count_alias: str = "uv",
) -> DataFrame:
    win = F.window(F.col(ts_col), size, slide) if slide else F.window(F.col(ts_col), size)
    agg = (
        approx_distinct(distinct_col, rsd) if approx else F.count_distinct(F.col(distinct_col))
    ).alias(count_alias)
    return (
        df.groupBy(win.alias("w"), *[F.col(k) for k in keys])
        .agg(agg)
        .select(
            F.col("w.start").cast("long").alias("ws"),
            F.col("w.end").cast("long").alias("we"),
            *[F.col(k) for k in keys],
            F.col(count_alias),
        )
    )
