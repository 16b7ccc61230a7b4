"""Vectorized span extraction — the engine's single custom-function stage.

One Arrow-batched pandas UDF computes, per line, the reference's full span
semantics (FilterData.cpp:110-238, OutputData.cpp:272-501):

- filter span decomposition with first-match-wins claiming across filters in
  `row` order (OutputData.cpp:296-307): each filter re-splits only
  still-unclaimed segments, and matchers see the SEGMENT substring in
  isolation (subline string_view semantics — boundaries/anchors evaluate at
  segment edges, not line edges)
- search span decomposition over the original line (OutputData.cpp:335-387)
- overlay combine: claimed search spans override overlapping filter spans,
  splitting them left/middle/right (OutputData.cpp:429-495)

Design notes for 100 TB scale:
- This scanner is the exact per-line evaluator. It runs in one of two
  places, both inside the one Arrow-batched span stage: as the fused
  pandas UDF (`make_fused_extractor`) on every row of a workspace the
  word tables cannot serve, or inside the mapInArrow kernel
  (functions/arrow_spans.py) on only the rows that hold every required
  literal (`_required_literals`) of some cross-word matcher. Everything
  before the stage (scan, source pruning, coarse prefilter) and after it
  (survival filter, explode, aggregation, routing) is JVM-side Catalyst.
- A Spark-native coarse prefilter (`operators.route.survival_prefilter`)
  prunes non-candidate rows BEFORE this UDF so the Python stage only sees
  rows that can possibly survive — at scale that's the difference between
  detokenizing 10^12 rows and 10^10.
- The matcher core is shared with the pure-Python oracle
  (oracle/matcher.py) deliberately: the oracle pins the matcher via
  hand-computed micro-cases, while the Spark tests pin the distributed
  orchestration (ordering, claiming across partitions, aggregation).
"""

from __future__ import annotations

import re
from typing import Iterable, List, Sequence, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StructField,
    StructType,
)

from txtlogparser_spark.config import FilterSpec, MatcherSpec, SearchSpec

SPAN_FIELDS = ["start", "end", "filter_id", "filter_row", "search_id", "search_row"]

SPAN_TYPE = StructType(
    [StructField(f, IntegerType(), False) for f in SPAN_FIELDS]
)


def _matcher_table(
    specs: Sequence[MatcherSpec], dialect: str = "python"
) -> List[tuple]:
    """Pre-compile matchers into plain tuples for the UDF hot loop.

    dialect: 'python' (engine default) or 'ecmascript' (reference
    std::regex emulation, functions/regex_dialect.py) — forwarded to
    MatcherSpec.compiled().
    """
    raw = [
        (m.id, m.row, m.compiled(dialect), m.pattern, m.caseSensitive, m.wholeWord)
        for m in sorted((s for s in specs if s.enabled), key=lambda s: s.row)
    ]
    return _compile_matchers(raw)


# Tuple-span representation inside the UDF: (start, end, fid, frow, sid, srow).

# Regex metachars whose semantics depend on surrounding context: patterns
# containing any of these must see the segment as an isolated string
# (slice path); plain patterns can run bounds-based on the full line.
_CONTEXT_METACHARS = ("\\b", "\\B", "^", "$", "\\A", "\\Z", "(?<", "(?=", "(?!")

_ASCII_ALNUM = frozenset(
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)

_ASCII_LOWER = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def _required_literals(pattern: str) -> List[str]:
    """Every top-level literal run of `pattern`, in pattern order. The
    top level is a concatenation, so every match of the pattern holds
    each run verbatim (up to the pattern's case folding). Conservative:
    an empty list when the pattern does not parse."""
    try:
        from re import _parser  # CPython internal, guarded

        items = _parser.parse(pattern)
    except Exception:
        return []
    runs, cur = [], []
    for op, arg in items:
        if str(op) == "LITERAL":
            cur.append(chr(arg))
        elif cur:
            runs.append("".join(cur))
            cur = []
    if cur:
        runs.append("".join(cur))
    return runs


def _required_literal(pattern: str) -> str:
    """Longest top-level literal run REQUIRED by every match of `pattern`
    (conservative: empty string when unsure). Used as a C-speed `find`
    precheck before running the regex engine on a segment."""
    lit = max(_required_literals(pattern), key=len, default="")
    return lit if lit.isascii() else ""


def _compile_matchers(specs) -> List[tuple]:
    """(id, row, creg, plain_regex, pattern_folded, case_sensitive,
    whole_word, req_lit) — pattern pre-folded for the ci non-regex path;
    req_lit pre-folded when the matcher is case-insensitive."""
    out = []
    for m in specs:
        creg = m[2]
        pat = m[3]
        cs, ww = m[4], m[5]
        if creg is not None:
            plain = not any(t in creg.pattern for t in _CONTEXT_METACHARS)
            lit = _required_literal(creg.pattern)
            # an inline (?i) folds case as much as caseSensitive=False does
            cs = cs and not creg.flags & re.IGNORECASE
            if not cs:
                lit = lit.translate(_ASCII_LOWER)
            out.append((m[0], m[1], creg, plain, None, cs, ww, lit))
        else:
            folded = pat if cs else pat.translate(_ASCII_LOWER)
            out.append((m[0], m[1], None, False, folded, cs, ww, ""))
    return out


def _nonregex_matches(
    content: str, seg_start: int, seg_end: int, pat: str, whole_word: bool
) -> List[Tuple[int, int]]:
    """Greedy non-overlapping scan (FilterData.cpp:110-159) bounds-based on
    the (pre-folded) full line — zero substring copies. Segment edges are
    word boundaries (the reference matches on the isolated subline
    string_view, so a segment-initial candidate always has a left
    boundary)."""
    out: List[Tuple[int, int]] = []
    plen = len(pat)
    pos = seg_start
    find = content.find
    while True:
        pos = find(pat, pos, seg_end)
        if pos == -1:
            break
        if whole_word:
            ok = (pos == seg_start or content[pos - 1] not in _ASCII_ALNUM) and (
                pos + plen == seg_end or content[pos + plen] not in _ASCII_ALNUM
            )
        else:
            ok = True
        if ok:
            out.append((pos, pos + plen))
        pos += plen
    return out


def _segment_matches(
    text: str, folded: str, seg_start: int, seg_end: int, m: tuple
) -> List[Tuple[int, int]]:
    """Match positions of one compiled matcher within one segment, offsets
    into the full line. Semantics identical to oracle.matcher (pinned by
    tests/test_spans_engine.py property tests); implementation is
    vectorization-friendly: bounds-based scans, no per-segment copies."""
    _, _, creg, plain, pat_folded, cs, ww, req_lit = m
    if creg is None:
        content = text if cs else folded
        return _nonregex_matches(content, seg_start, seg_end, pat_folded, ww)
    if req_lit:
        # C-speed necessary-condition check before the regex engine.
        # Case-sensitive: exact find on raw text, sound always.
        # Case-insensitive: the folded haystack is ASCII-folded while
        # re.IGNORECASE case-folds the full Unicode range (Kelvin K vs
        # 'k', long s vs 's'), so the precheck is only sound when both
        # the line and the required literal are pure ASCII — otherwise
        # skip it and let the regex engine decide.
        if cs:
            if text.find(req_lit, seg_start, seg_end) == -1:
                return []
        elif text.isascii() and req_lit.isascii():
            if folded.find(req_lit, seg_start, seg_end) == -1:
                return []
    if plain:
        # context-free pattern: pos/endpos scanning == isolated-substring
        return [
            (g.start(), g.end()) for g in creg.finditer(text, seg_start, seg_end)
        ]
    sub = text[seg_start:seg_end]
    return [(seg_start + g.start(), seg_start + g.end()) for g in creg.finditer(sub)]


def claim_spans(
    text: str,
    folded: str,
    spans: List[tuple],
    matchers: Sequence[tuple],
    search: bool,
) -> List[tuple]:
    """Apply compiled `matchers` in order to one span list of a line, first
    match wins: each matcher re-splits only the still-unclaimed segments
    (the filter pass when `search` is False, the search pass otherwise).
    `folded` is `text` ASCII-lowered."""
    k = 4 if search else 2
    for m in matchers:
        mid, mrow = m[0], m[1]
        nxt: List[tuple] = []
        changed = False
        for sp in spans:
            if sp[k] != -1:  # already claimed
                nxt.append(sp)
                continue
            positions = _segment_matches(text, folded, sp[0], sp[1], m)
            if not positions:
                # an EMPTY unclaimed segment a matcher found nothing
                # in is NOT re-emitted: the reference's apply() only
                # pushes the unmatched remainder when it is non-empty
                # (FilterData.cpp:154-159, 221-229; the search loop
                # shares apply()), so an empty line vanishes from the
                # subline list after the first non-claiming matcher and
                # later zero-width-capable matchers never see it (parity
                # bug: the engine used to keep it and let a later 'x*'
                # claim the line the reference drops)
                if sp[1] > sp[0]:
                    nxt.append(sp)
                else:
                    changed = True
                continue
            changed = True
            last = sp[0]
            for s, e in positions:
                if s > last:
                    nxt.append((last, s) + sp[2:])
                nxt.append(
                    (s, e, -1, -1, mid, mrow) if search else (s, e, mid, mrow, -1, -1)
                )
                last = e
            if last < sp[1]:
                nxt.append((last, sp[1]) + sp[2:])
        if changed:
            spans = nxt
    return spans


def extract_line_spans(
    text: str,
    filters: Sequence[tuple],
    searches: Sequence[tuple],
    want_combined: bool = True,
    folded: str = None,
):
    """Full per-line span computation on pre-compiled matcher tables
    (from `_matcher_table` → `_compile_matchers`): the filter pass with
    first-match-wins claiming, then the search pass over the original
    line.

    Returns (filter_spans, search_spans, combined_spans) as lists of
    6-int tuples. Pure function — unit-testable off-cluster.
    """
    n = len(text)
    if folded is None:
        folded = text.translate(_ASCII_LOWER)
    fspans = claim_spans(text, folded, [(0, n, -1, -1, -1, -1)], filters, False)
    sspans = claim_spans(text, folded, [(0, n, -1, -1, -1, -1)], searches, True)
    combined: List[tuple] = []
    if want_combined:
        combined = _combine_spans(fspans, sspans)
    return fspans, sspans, combined


def _combine_spans(fspans: List[tuple], sspans: List[tuple]) -> List[tuple]:
    """Overlay (OutputData.cpp:389-501): claimed search spans override
    overlapping filter spans, splitting them into left/middle/right."""
    if not sspans:
        return list(fspans)
    if not fspans:
        return list(sspans)
    combined = list(fspans)
    for ss in sspans:
        if ss[4] == -1:
            continue
        nxt = []
        for cs in combined:
            # inclusive-last-char overlap test (OutputData.cpp:446-453)
            if ss[0] > cs[1] - 1 or ss[1] - 1 < cs[0]:
                nxt.append(cs)
                continue
            mid_s = cs[0] if cs[0] > ss[0] else ss[0]
            mid_e = cs[1] if cs[1] < ss[1] else ss[1]
            if mid_s > cs[0]:
                nxt.append((cs[0], mid_s) + cs[2:])
            if mid_e > mid_s:
                nxt.append((mid_s, mid_e) + ss[2:])
            if cs[1] > mid_e:
                nxt.append((mid_e, cs[1]) + cs[2:])
        combined = nxt
    return combined


def make_span_extractor(
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec] = (),
    *,
    include_search: bool = True,
    include_combined: bool = False,
    dialect: str = "python",
):
    """Build the Arrow-batched span-extraction pandas UDF.

    The UDF emits FLAT parallel primitive arrays (f_start/f_end/f_id/f_row,
    …) instead of array<struct>: Arrow transfers primitive list columns an
    order of magnitude cheaper than struct lists, and `assemble_spans`
    re-zips them into the canonical span structs JVM-side (arrays_zip +
    transform — a pure Catalyst projection). Use `attach_spans(df, text_col,
    extractor, ...)` for the end-to-end convenience path.
    """
    ftab = _matcher_table(filters, dialect)
    stab = _matcher_table(searches, dialect) if include_search else []
    want_combined = include_combined

    arr = ArrayType(IntegerType(), False)
    fields = [StructField(f"f_{x}", arr, False) for x in ("start", "end", "id", "row")]
    if include_search:
        fields += [StructField(f"s_{x}", arr, False) for x in ("start", "end", "id", "row")]
    if want_combined:
        fields += [
            StructField(f"c_{x}", arr, False)
            for x in ("start", "end", "fid", "frow", "sid", "srow")
        ]
    out_type = StructType(fields)

    @F.pandas_udf(out_type)
    def spans_udf(texts: pd.Series) -> pd.DataFrame:
        cols: dict = {f.name: [] for f in fields}
        for t in texts:
            t = t if t is not None else ""
            fs, ss, cs = extract_line_spans(t, ftab, stab, want_combined)
            cols["f_start"].append([s[0] for s in fs])
            cols["f_end"].append([s[1] for s in fs])
            cols["f_id"].append([s[2] for s in fs])
            cols["f_row"].append([s[3] for s in fs])
            if include_search:
                cols["s_start"].append([s[0] for s in ss])
                cols["s_end"].append([s[1] for s in ss])
                cols["s_id"].append([s[4] for s in ss])
                cols["s_row"].append([s[5] for s in ss])
            if want_combined:
                cols["c_start"].append([s[0] for s in cs])
                cols["c_end"].append([s[1] for s in cs])
                cols["c_fid"].append([s[2] for s in cs])
                cols["c_frow"].append([s[3] for s in cs])
                cols["c_sid"].append([s[4] for s in cs])
                cols["c_srow"].append([s[5] for s in cs])
        return pd.DataFrame(cols)

    # asNondeterministic is an optimizer fence, not a semantics claim: the
    # UDF is pure, but without the fence Catalyst pushes the survival
    # filter through the projection and re-substitutes the UDF expression,
    # duplicating the ArrowEvalPython stage (observed: 2x Python cost).
    return spans_udf.asNondeterministic()


def assemble_spans(
    flat_col: str,
    *,
    kind: str = "filter",
) -> "F.Column":
    """JVM-side reassembly of flat span arrays into array<SPAN_TYPE>.

    kind: 'filter' (search fields -1), 'search' (filter fields -1), or
    'combined' (all six carried). `flat_col` is the struct column holding
    the flat arrays, or ''/None when they are top-level columns (the
    mapInArrow path)."""
    if flat_col:
        c = lambda name: F.col(f"{flat_col}.{name}")
    else:
        c = F.col
    if kind == "filter":
        z = F.arrays_zip(
            c("f_start").alias("f_start"), c("f_end").alias("f_end"),
            c("f_id").alias("f_id"), c("f_row").alias("f_row"),
        )
        return F.transform(
            z,
            lambda x: F.struct(
                x["f_start"].alias("start"),
                x["f_end"].alias("end"),
                x["f_id"].alias("filter_id"),
                x["f_row"].alias("filter_row"),
                F.lit(-1).alias("search_id"),
                F.lit(-1).alias("search_row"),
            ),
        )
    if kind == "search":
        z = F.arrays_zip(
            c("s_start").alias("s_start"), c("s_end").alias("s_end"),
            c("s_id").alias("s_id"), c("s_row").alias("s_row"),
        )
        return F.transform(
            z,
            lambda x: F.struct(
                x["s_start"].alias("start"),
                x["s_end"].alias("end"),
                F.lit(-1).alias("filter_id"),
                F.lit(-1).alias("filter_row"),
                x["s_id"].alias("search_id"),
                x["s_row"].alias("search_row"),
            ),
        )
    z = F.arrays_zip(
        c("c_start").alias("c_start"), c("c_end").alias("c_end"),
        c("c_fid").alias("c_fid"), c("c_frow").alias("c_frow"),
        c("c_sid").alias("c_sid"), c("c_srow").alias("c_srow"),
    )
    return F.transform(
        z,
        lambda x: F.struct(
            x["c_start"].alias("start"),
            x["c_end"].alias("end"),
            x["c_fid"].alias("filter_id"),
            x["c_frow"].alias("filter_row"),
            x["c_sid"].alias("search_id"),
            x["c_srow"].alias("search_row"),
        ),
    )


def attach_spans(
    df,
    text_col: str,
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec] = (),
    *,
    include_search: bool = True,
    include_combined: bool = False,
    dialect: str = "python",
):
    """df + filter_spans [+ search_spans] [+ combined_spans] columns."""
    extractor = make_span_extractor(
        filters,
        searches,
        include_search=include_search,
        include_combined=include_combined,
        dialect=dialect,
    )
    out = df.withColumn("_flat", extractor(F.col(text_col)))
    out = out.withColumn("filter_spans", assemble_spans("_flat", kind="filter"))
    if include_search:
        out = out.withColumn("search_spans", assemble_spans("_flat", kind="search"))
    if include_combined:
        out = out.withColumn(
            "combined_spans", assemble_spans("_flat", kind="combined")
        )
    return out.drop("_flat")


def make_fused_extractor(
    vocab: Sequence[str],
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec] = (),
    *,
    include_search: bool = True,
    include_combined: bool = False,
    sep: str = " ",
    dialect: str = "python",
):
    """Fused detokenize + span extraction: ONE Arrow round trip.

    tokens array<int32> → struct(text string, <flat span arrays>). Fusing
    matters at scale: the unfused plan ships `text` JVM→Python a second
    time for span extraction; the fused stage detokenizes (numpy vocab
    gather) and extracts spans while the string is still a hot Python
    object, halving Arrow traffic for the dominant column.
    """
    import numpy as np

    from txtlogparser_spark.functions.detokenize import UNK

    table = np.asarray(list(vocab) + [UNK], dtype=object)
    nv = len(vocab)

    ftab = _matcher_table(filters, dialect)
    stab = _matcher_table(searches, dialect) if include_search else []
    want_combined = include_combined

    arr = ArrayType(IntegerType(), False)
    from pyspark.sql.types import StringType

    fields = [StructField("text", StringType(), False)]
    fields += [StructField(f"f_{x}", arr, False) for x in ("start", "end", "id", "row")]
    if include_search:
        fields += [StructField(f"s_{x}", arr, False) for x in ("start", "end", "id", "row")]
    if want_combined:
        fields += [
            StructField(f"c_{x}", arr, False)
            for x in ("start", "end", "fid", "frow", "sid", "srow")
        ]
    out_type = StructType(fields)
    join = sep.join

    @F.pandas_udf(out_type)
    def fused_udf(tokens: pd.Series) -> pd.DataFrame:
        cols: dict = {f.name: [] for f in fields}
        ap = {k: v.append for k, v in cols.items()}
        for t in tokens:
            if t is None or len(t) == 0:
                text = ""
            else:
                ids = np.asarray(t, dtype=np.int64)
                ids = np.where((ids >= 0) & (ids < nv), ids, nv)
                text = join(table[ids])
            fs, ss, cs = extract_line_spans(text, ftab, stab, want_combined)
            ap["text"](text)
            ap["f_start"]([s[0] for s in fs])
            ap["f_end"]([s[1] for s in fs])
            ap["f_id"]([s[2] for s in fs])
            ap["f_row"]([s[3] for s in fs])
            if include_search:
                ap["s_start"]([s[0] for s in ss])
                ap["s_end"]([s[1] for s in ss])
                ap["s_id"]([s[4] for s in ss])
                ap["s_row"]([s[5] for s in ss])
            if want_combined:
                ap["c_start"]([s[0] for s in cs])
                ap["c_end"]([s[1] for s in cs])
                ap["c_fid"]([s[2] for s in cs])
                ap["c_frow"]([s[3] for s in cs])
                ap["c_sid"]([s[4] for s in cs])
                ap["c_srow"]([s[5] for s in cs])
        return pd.DataFrame(cols)

    # optimizer fence — see make_span_extractor; prevents double evaluation
    return fused_udf.asNondeterministic()
