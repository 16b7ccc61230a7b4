"""Routing: filter predicates compiled to Catalyst expressions + CASE tags.

The reference's row-survival rule is OR-semantics over enabled filters
(OutputData.cpp:308-329). We split it into two layers:

1. `survival_prefilter` — a COARSE, Catalyst-native necessary condition
   (substring containment of the pattern, or of a regex's required
   literals) that Catalyst pushes toward the scan. It may keep rows the
   exact matcher later rejects (e.g. whole-word boundary failures) but
   never drops a surviving row. It reads each regex with Python `re`
   semantics, the matcher's, and never hands the pattern to Java regex:
   `rlike` disagrees with `re` on non-ASCII text (ASCII-only \\w, \\d,
   \\s and case folding; `.` stops at U+2028), so it would drop rows.
   At 10^12-row scale this prunes the bulk of the data before the Python
   stage.
2. the exact span stage + `exists(f_id, x -> x != -1)` over its flat
   span ids (`filter_predicate_flat`, what `LogPipeline.run` uses) or
   `exists(filter_spans, s -> s.filter_id != -1)` over assembled span
   structs (`filter_predicate`, the driver's text queries) — the precise
   survival decision, JVM-side over the span output.

Route tags (BASELINE.json: "Spark SQL CASE routing"): each row gets the id
of the FIRST (lowest `row`) filter that claimed a span on it, so per-route
sinks can be written with a single partitioned write instead of N scans.
Note rows can match several filters (OR-survival keeps one copy); the
boolean per-filter hit columns cover multi-membership.
"""

from __future__ import annotations

import re
from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column

from txtlogparser_spark.config import FilterSpec
from txtlogparser_spark.functions.spans import _required_literals
from txtlogparser_spark.oracle.matcher import ascii_lower

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"
# the only non-ASCII characters re.IGNORECASE matches to an ASCII one:
# U+0130 and U+0131 to i, the long s to s, the Kelvin sign to k
_RE_FOLD_FROM, _RE_FOLD_TO = "\u0130\u0131\u017f\u212a", "iisk"


def _necessary_condition(f: FilterSpec, text_col: Column) -> Column:
    if not f.regex:
        # substring containment is an exact necessary condition for the
        # greedy scan (whole-word only rejects candidates, never adds)
        if f.caseSensitive:
            return text_col.contains(F.lit(f.pattern))
        # exactly the reference's per-byte ASCII fold (FilterData.cpp:
        # 114-117); lower() maps U+0130 to two characters and would drop
        # the line "\u0130x ok" that the pattern "\u0130x" claims
        return F.translate(text_col, _UPPER, _LOWER).contains(
            F.lit(ascii_lower(f.pattern))
        )
    # every match holds each top-level literal run of the pattern
    creg = f.compiled()
    lits = [lit for lit in _required_literals(creg.pattern) if lit]
    if creg.flags & re.IGNORECASE:
        # a folded ASCII literal matches ASCII case variants and the four
        # characters above; translate() maps them all onto the literal's
        # lowercase, one character for one, so offsets do not move
        text_col = F.translate(
            text_col, _UPPER + _RE_FOLD_FROM, _LOWER + _RE_FOLD_TO
        )
        lits = [ascii_lower(lit) for lit in lits if lit.isascii()]
    cond = F.lit(True)
    for lit in lits:
        cond = cond & text_col.contains(F.lit(lit))
    return cond


def survival_prefilter(
    filters: Sequence[FilterSpec],
    text_col: Column,
) -> Column:
    """OR of per-filter necessary conditions; `lit(True)` when no filters
    are enabled (pass-through semantics, OutputData.cpp:323-329). Python
    dialect."""
    enabled = [f for f in filters if f.enabled]
    if not enabled:
        return F.lit(True)
    cond = _necessary_condition(enabled[0], text_col)
    for f in enabled[1:]:
        cond = cond | _necessary_condition(f, text_col)
    return cond


def filter_predicate(spans_col: Column, filter_id: Optional[int] = None) -> Column:
    """Exact survival / membership over the span UDF output (JVM-side)."""
    if filter_id is None:
        return F.exists(spans_col, lambda s: s["filter_id"] != F.lit(-1))
    return F.exists(spans_col, lambda s: s["filter_id"] == F.lit(filter_id))


def filter_predicate_flat(ids_col: Column, filter_id: Optional[int] = None) -> Column:
    """Survival / membership over the FLAT f_id array (the unassembled
    sink form: one int per span, -1 = unclaimed)."""
    if filter_id is None:
        return F.exists(ids_col, lambda x: x != F.lit(-1))
    return F.exists(ids_col, lambda x: x == F.lit(filter_id))


def route_tag_flat(filters: Sequence[FilterSpec], ids_col: Column) -> Column:
    """CASE WHEN chain over the flat f_id array (see route_tag_column)."""
    enabled = sorted((f for f in filters if f.enabled), key=lambda f: f.row)

    def has_id(fid: int):
        return lambda x: x == F.lit(fid)

    expr = F.lit(-1)
    for f in reversed(enabled):
        expr = F.when(
            F.exists(ids_col, has_id(f.id)), F.lit(f.id)
        ).otherwise(expr)
    return expr


def route_tag_column(
    filters: Sequence[FilterSpec], spans_col: Column
) -> Column:
    """CASE WHEN chain: id of the first (lowest row) filter claiming a span,
    -1 when none (only possible in pass-through mode)."""
    enabled = sorted((f for f in filters if f.enabled), key=lambda f: f.row)

    def claimed_by(fid: int):
        return lambda s: s["filter_id"] == F.lit(fid)

    expr = F.lit(-1)
    for f in reversed(enabled):
        expr = F.when(
            F.exists(spans_col, claimed_by(f.id)), F.lit(f.id)
        ).otherwise(expr)
    return expr
