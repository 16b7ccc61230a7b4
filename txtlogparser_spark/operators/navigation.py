"""N1-N4: match navigation — point queries on derived state.

Reference walks an ordered per-filter line set with upper/lower_bound and
wraparound (OutputData.cpp:526-758). Batch analog: the routed sink already
holds every claimed span; navigation is two cheap aggregations over a
matches table of (matcher_id, output_index, start, end) rows, one per
claimed span (`min WHERE key > cur`, else global `min` for the wrap) —
served from a materialized matches sink at scale, partition-pruned by
filter_id, never a full scan of the fact table.

Coordinates: `line` is the OUTPUT index (position in the ordered surviving
set — the reference's m_filterLineMap stores output indices,
OutputData.cpp:309,315); char offsets are line-relative, and because the
span decomposition tiles each line exactly, a claimed subline's cumulative
char offset equals its span start.
"""

from __future__ import annotations

from typing import Optional, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _nav_pick(m: DataFrame, cls, agg) -> Optional[Tuple[int, int, int]]:
    """ONE aggregation job: tag each span with a priority class and take
    the min/max of struct(cls, output_index, start, end) — struct
    comparison is lexicographic, so the best class wins, then line order,
    then within-line scan order. Replaces the previous up-to-3 sequential
    point queries per navigation call."""
    row = m.agg(
        agg(
            F.struct(
                cls.alias("cls"),
                F.col("output_index").alias("output_index"),
                F.col("start").alias("start"),
                F.col("end").alias("end"),
            )
        ).alias("best")
    ).collect()[0]["best"]
    if row is None:
        return None
    return (row["output_index"], row["start"], row["end"])


def next_match(
    matches: DataFrame, matcher_id: int, line: int, char: int
) -> Optional[Tuple[int, int, int]]:
    """getNextMatchByFilter/Search (OutputData.cpp:526-575): first claimed
    span at (line, start>=char); else first span of the next matching line
    with wraparound to the globally first. Single aggregation: priority
    class 0 = cursor line at/after char, 1 = later lines, 2 = wrap —
    min(struct) picks the first span of the best class's first line."""
    m = matches.where(F.col("matcher_id") == matcher_id)
    cls = (
        F.when((F.col("output_index") == line) & (F.col("start") >= char), 0)
        .when(F.col("output_index") > line, 1)
        .otherwise(2)
    )
    return _nav_pick(m, cls, F.min)


def prev_match(
    matches: DataFrame, matcher_id: int, line: int, char: int
) -> Optional[Tuple[int, int, int]]:
    """getPreviousMatchByFilter/Search (OutputData.cpp:577-641): last claimed
    span at (line, start<char); else last span of the previous matching line
    (reverse scan, OutputData.cpp:616-628) with wraparound to the globally
    last. Single aggregation, mirrored: class 2 = cursor line before char,
    1 = earlier lines, 0 = wrap — max(struct) picks the last span of the
    best class's last line."""
    m = matches.where(F.col("matcher_id") == matcher_id)
    cls = (
        F.when((F.col("output_index") == line) & (F.col("start") < char), 2)
        .when(F.col("output_index") < line, 1)
        .otherwise(0)
    )
    return _nav_pick(m, cls, F.max)
