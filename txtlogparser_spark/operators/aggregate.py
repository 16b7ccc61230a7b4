"""Per-filter / per-search aggregates (A1-A3).

Reference state: m_filterMatchCount counts claimed SPANS (occurrences,
OutputData.cpp:314), m_filterLineMap is the set of matched output lines
(OutputData.cpp:315); searches likewise over the filtered set
(OutputData.cpp:373-374).

Spark shape — scale-critical detail: `doc_id` is unique per routed row,
so per-line membership collapses ROW-LOCALLY. Each row emits one tagged
pair per claimed span (kind=OCC) plus one per DISTINCT claiming matcher
(kind=LINE); a single explode + groupBy(matcher_id) with conditional
sums then yields both metrics. The shuffle carries only
(matcher_id, partial sums) after map-side combine.

Two alternatives were measured and rejected:
- countDistinct(doc_id) after exploding spans re-keys the shuffle by
  (matcher_id, doc_id) — partial aggregation cannot reduce anything
  because doc_id is unique, so every routed row ships again: dead at
  10^12 rows.
- a per-row array<struct<id,n>> built with nested higher-order lambdas
  (array_distinct + per-id filter) is shuffle-optimal but ~5x slower in
  practice: nested HOFs evaluate interpreted, O(k²) per row.
The tagged-explode form is O(k) expression work per row AND
shuffle-optimal.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

ALL_ROWS_SENTINEL = -2

_OCC = 0
_LINE = 1


def _tagged_pairs(spans_col: str, id_field: str, with_sentinel: bool) -> Column:
    """array<struct<id,kind>>: one OCC entry per claimed span + one LINE
    entry per distinct claiming matcher [+ one sentinel LINE/OCC pair]."""
    spans = F.col(spans_col)
    claimed = F.transform(
        F.filter(spans, lambda s: s[id_field] != -1), lambda s: s[id_field]
    )
    return _tagged_from_claimed(claimed, with_sentinel)


def _tagged_from_claimed(claimed: Column, with_sentinel: bool) -> Column:
    occ = F.transform(
        claimed, lambda x: F.struct(x.alias("id"), F.lit(_OCC).alias("kind"))
    )
    line = F.transform(
        F.array_distinct(claimed),
        lambda x: F.struct(x.alias("id"), F.lit(_LINE).alias("kind")),
    )
    parts = [occ, line]
    if with_sentinel:
        parts.append(
            F.array(
                F.struct(
                    F.lit(ALL_ROWS_SENTINEL).alias("id"),
                    F.lit(_OCC).alias("kind"),
                ),
                F.struct(
                    F.lit(ALL_ROWS_SENTINEL).alias("id"),
                    F.lit(_LINE).alias("kind"),
                ),
            )
        )
    return F.concat(*parts)


def _metrics(
    df: DataFrame, spans_col: str, id_field: str, out_id: str, sentinel: bool
) -> DataFrame:
    e = df.select(F.explode(_tagged_pairs(spans_col, id_field, sentinel)).alias("t"))
    return e.groupBy(F.col("t.id").alias(out_id)).agg(
        F.sum(F.when(F.col("t.kind") == _OCC, 1).otherwise(0)).alias(
            "occurrence_count"
        ),
        F.sum(F.when(F.col("t.kind") == _LINE, 1).otherwise(0)).alias(
            "line_count"
        ),
    )


def filter_metrics(routed: DataFrame, spans_col: str = "filter_spans") -> DataFrame:
    """occurrence_count = claimed spans; line_count = matched lines.
    `routed` must be the surviving set with `doc_id` unique per line."""
    return _metrics(routed, spans_col, "filter_id", "filter_id", False)


def search_metrics(annotated: DataFrame, spans_col: str = "search_spans") -> DataFrame:
    return _metrics(annotated, spans_col, "search_id", "search_id", False)


# ---- flat variants, what LogPipeline.filter_counts / search_counts run:
# they operate on the f_id/s_id arrays `run()` emits (one int per span,
# -1 = unclaimed). The sink stores these as plain list<int32> columns, so
# a metrics read scans ONE narrow column. The struct variants above serve
# the driver's text queries, which assemble span structs.


def _metrics_flat(df: DataFrame, ids_col: str, out_id: str, sentinel: bool) -> DataFrame:
    claimed = F.filter(F.col(ids_col), lambda x: x != -1)
    e = df.select(F.explode(_tagged_from_claimed(claimed, sentinel)).alias("t"))
    return e.groupBy(F.col("t.id").alias(out_id)).agg(
        F.sum(F.when(F.col("t.kind") == _OCC, 1).otherwise(0)).alias(
            "occurrence_count"
        ),
        F.sum(F.when(F.col("t.kind") == _LINE, 1).otherwise(0)).alias(
            "line_count"
        ),
    )


def filter_metrics_flat(routed: DataFrame, ids_col: str = "f_id") -> DataFrame:
    return _metrics_flat(routed, ids_col, "filter_id", False)


def search_metrics_flat(annotated: DataFrame, ids_col: str = "s_id") -> DataFrame:
    return _metrics_flat(annotated, ids_col, "search_id", False)


def one_pass_metrics_flat(routed: DataFrame, ids_col: str = "f_id") -> DataFrame:
    """filter metrics + total routed-row count in ONE job: every row
    additionally emits sentinel pairs, so the result row with
    filter_id == ALL_ROWS_SENTINEL carries rows_routed in both counts."""
    return _metrics_flat(routed, ids_col, "filter_id", True)
