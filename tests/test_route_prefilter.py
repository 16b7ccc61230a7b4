"""The text survival prefilter (`operators.route.survival_prefilter`) is a
necessary condition: it never drops a row the oracle routes, over text
holding non-ASCII letters that case folding or Java regex classes treat
differently from Python `re`."""

from __future__ import annotations

import re
import sys

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
from txtlogparser_spark.operators.route import survival_prefilter
from txtlogparser_spark.oracle import LineRec, run_pipeline


def _kept(spark, filters, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    pre = survival_prefilter(filters, F.col("text"))
    return {r["i"] for r in df.where(pre).select("i").collect()}


def _routed(filters, texts):
    lines = [LineRec(f"s-{i:08d}", "s", 0, i, t) for i, t in enumerate(texts)]
    ws = WorkspaceConfig(filters=list(filters))
    return {ol.rec.line_no for ol in run_pipeline(lines, ws).lines}


def test_ignorecase_fold_table():
    """Every non-ASCII character re.IGNORECASE matches to an ASCII one is
    in the prefilter's fold table, mapped to that letter."""
    from txtlogparser_spark.operators.route import _RE_FOLD_FROM, _RE_FOLD_TO

    any_ascii = re.compile("[\x00-\x7f]", re.IGNORECASE)
    found = {
        chr(c)
        for c in range(128, sys.maxunicode + 1)
        if any_ascii.fullmatch(chr(c))
    }
    assert found == set(_RE_FOLD_FROM)
    for ch, to in zip(_RE_FOLD_FROM, _RE_FOLD_TO):
        assert re.fullmatch(to, ch, re.IGNORECASE)


@pytest.mark.parametrize(
    "spec, text",
    [
        # the Kelvin sign, the long s and the dotless i fold onto ASCII
        # under re.IGNORECASE, and only there
        (FilterSpec(1, 0, "kit", caseSensitive=False, regex=True), "\u212aIT lamp"),
        (FilterSpec(1, 0, "STATUS", caseSensitive=False, regex=True), "\u017ftatus"),
        (FilterSpec(1, 0, "Ix", caseSensitive=False, regex=True), "\u0131x"),
        # Spark's lower() maps U+0130 to two characters
        (FilterSpec(1, 0, "\u0130x", caseSensitive=False), "\u0130x ok"),
        # Java's \w, \d and \s are ASCII-only, and its . stops at U+2028
        (FilterSpec(1, 0, r"caf\w", regex=True), "caf\u00e9"),
        (FilterSpec(1, 0, r"x\dy", regex=True), "x\u0663y"),
        (FilterSpec(1, 0, r"a\sb", regex=True), "a\u00a0b"),
        (FilterSpec(1, 0, "a.b", regex=True), "a\u2028b"),
    ],
)
def test_keeps_rows_java_regex_would_drop(spark, spec, text):
    assert _routed([spec], [text]) == {0}
    assert _kept(spark, [spec], [text, "zzz"]) >= {0}


# ASCII letters plus the characters where Python `re` and Java regex or
# Spark's lower() disagree: the four re.IGNORECASE folds onto ASCII, a
# non-ASCII letter, a non-ASCII digit, a no-break space and U+2028
_CHARS = "aAbBiIkKsSxX09 _-\u212a\u017f\u0130\u0131\u00e9\u0663\u00a0\u2028"
_ATOMS = list("aAbiIksSx0 _-\u212a\u017f\u0130\u0131\u00e9") + [
    ".", r"\w", r"\d", r"\s", r"\W", "[a-k]", "[^s]", "(a|ik)",
]
_texts = st.lists(st.text(_CHARS, max_size=12), min_size=1, max_size=12)


@st.composite
def _regex(draw):
    parts = []
    for atom in draw(st.lists(st.sampled_from(_ATOMS), min_size=1, max_size=5)):
        parts.append(atom + draw(st.sampled_from(["", "", "?", "*", "+"])))
    if draw(st.booleans()):
        parts.insert(draw(st.integers(0, len(parts))), r"\b")
    return "".join(parts)


@st.composite
def _filters(draw):
    out = []
    for i in range(draw(st.integers(1, 3))):
        regex = draw(st.booleans())
        pattern = draw(_regex()) if regex else draw(st.text(_CHARS, min_size=1, max_size=4))
        out.append(
            FilterSpec(
                100 + i,
                i,
                pattern,
                caseSensitive=draw(st.booleans()),
                wholeWord=draw(st.booleans()),
                regex=regex,
            )
        )
    return out


@settings(max_examples=60, deadline=None)
@given(filters=_filters(), texts=_texts)
def test_prefilter_never_drops_a_routed_row(spark, filters, texts):
    assert _routed(filters, texts) <= _kept(spark, filters, texts)
