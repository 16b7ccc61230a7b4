"""Property-based agreement (SURVEY.md §5.4): the engine's bounds-based
vectorized scanner (functions/spans.py) vs the oracle's direct line-at-a-
time port (oracle/matcher.py + oracle/pipeline.py) — two independent
implementations of FilterData.cpp:110-238 / OutputData.cpp:272-501.
Random patterns, flags, texts, and filter orderings."""

from hypothesis import given, settings, strategies as st

from txtlogparser_spark.config import FilterSpec, SearchSpec, WorkspaceConfig
from txtlogparser_spark.functions.spans import _matcher_table, extract_line_spans
from txtlogparser_spark.oracle import LineRec, run_pipeline

ALPHA = "ab_ A1.:="  # small alphabet → dense collisions/overlaps
texts = st.text(alphabet=ALPHA, min_size=0, max_size=60)
patterns = st.text(alphabet="ab_A1", min_size=1, max_size=4)


def run_engine(text, filters, searches):
    ftab = _matcher_table(filters)
    stab = _matcher_table(searches)
    fs, ss, cs = extract_line_spans(text, ftab, stab, True)
    return fs, ss, cs


def run_oracle(text, filters, searches):
    ws = WorkspaceConfig(filters=list(filters), searches=list(searches))
    res = run_pipeline(
        [LineRec(doc_id="d", source="s", source_rank=0, line_no=0, text=text)], ws
    )
    if not res.lines:
        return None
    ol = res.lines[0]
    to_t = lambda sp: (sp.start, sp.end, sp.filter_id, sp.filter_row, sp.search_id, sp.search_row)
    return (
        [to_t(s) for s in ol.filter_spans],
        [to_t(s) for s in ol.search_spans],
        [to_t(s) for s in ol.combined_spans],
    )


@settings(max_examples=300, deadline=None)
@given(
    text=texts,
    p1=patterns,
    p2=patterns,
    cs1=st.booleans(),
    ww1=st.booleans(),
    cs2=st.booleans(),
    ww2=st.booleans(),
    swap=st.booleans(),
    sp=patterns,
    s_ww=st.booleans(),
)
def test_engine_matches_oracle(text, p1, p2, cs1, ww1, cs2, ww2, swap, sp, s_ww):
    filters = [
        FilterSpec(201, 1 if swap else 0, p1, caseSensitive=cs1, wholeWord=ww1),
        FilterSpec(202, 0 if swap else 1, p2, caseSensitive=cs2, wholeWord=ww2),
    ]
    searches = [SearchSpec(301, 0, sp, caseSensitive=False, wholeWord=s_ww)]
    ws = WorkspaceConfig(filters=filters, searches=searches)
    efs, ess, ecs = run_engine(text, ws.enabled_filters(), ws.enabled_searches())
    want = run_oracle(text, filters, searches)
    survived = any(s[2] != -1 for s in efs)
    if want is None:
        assert not survived
        return
    assert survived
    wfs, wss, wcs = want
    assert efs == wfs
    assert ess == wss
    assert ecs == wcs


@settings(max_examples=150, deadline=None)
@given(
    text=texts,
    pat=st.sampled_from([r"a+", r"[ab]_", r"a|b", r"\ba\b", r"a.?b", r"(a|_)1"]),
    cs=st.booleans(),
    ww=st.booleans(),
)
def test_engine_regex_matches_oracle(text, pat, cs, ww):
    filters = [FilterSpec(201, 0, pat, caseSensitive=cs, wholeWord=ww, regex=True)]
    ws = WorkspaceConfig(filters=filters)
    efs, _, _ = run_engine(text, ws.enabled_filters(), [])
    want = run_oracle(text, filters, [])
    survived = any(s[2] != -1 for s in efs)
    if want is None:
        assert not survived
        return
    assert survived
    assert efs == want[0]


def test_engine_regex_unicode_casefold_matches_oracle():
    """re.IGNORECASE case-folds the full Unicode range while the
    literal precheck's fold table is ASCII-only — the precheck must
    stand aside on non-ASCII lines (review finding: Kelvin sign K
    matches 'k', long s (U+017F) matches 's')."""
    for text, pat in [
        ("\u212aIT lamp", "kit"),          # KELVIN SIGN + 'IT'
        ("me\u017fsage queue", "message"),  # LATIN SMALL LETTER LONG S
    ]:
        filters = [
            FilterSpec(201, 0, pat, caseSensitive=False, wholeWord=False, regex=True)
        ]
        efs, _, _ = run_engine(text, filters, [])
        want = run_oracle(text, filters, [])
        assert want is not None, "oracle must match (re.I full casefold)"
        assert efs == want[0]


def test_engine_inline_ignorecase_matches_oracle():
    """An inline (?i) folds case even when caseSensitive=True, so the
    literal precheck must fold too (it used to look for 'error' verbatim
    and miss 'ERROR')."""
    for text, pat in [("an ERROR here", "(?i)error"), ("Kit", "(?i)k(?-i:it)")]:
        filters = [FilterSpec(201, 0, pat, caseSensitive=True, regex=True)]
        efs, _, _ = run_engine(text, filters, [])
        want = run_oracle(text, filters, [])
        assert want is not None, "oracle must match"
        assert efs == want[0]


class TestEmptySegmentReferenceSemantics:
    """FilterData.cpp:154-159/221-229 + OutputData.cpp:291-306: an empty
    unclaimed subline a matcher finds nothing in is NOT re-emitted, so
    an empty line vanishes after the first non-claiming filter — a LATER
    zero-width-capable regex must never see (or claim) it. A zero-width
    regex as the FIRST filter does claim the empty line
    (sregex_iterator yields the empty match; FilterData.cpp:193-216).
    Review finding: the engine used to keep the empty segment."""

    def _spans(self, text, filters):
        ftab = _matcher_table(filters)
        fs, _, _ = extract_line_spans(text, ftab, _matcher_table([]), False)
        return fs

    def test_empty_line_literal_then_zero_width_regex_not_claimed(self):
        filters = [
            FilterSpec(201, 0, "a"),
            FilterSpec(202, 1, "x*", regex=True),
        ]
        fs = self._spans("", filters)
        assert all(sp[2] == -1 for sp in fs), f"must stay unclaimed: {fs}"
        # and the oracle agrees (it drops the line: no claimed spans)
        ws = WorkspaceConfig(filters=filters)
        res = run_pipeline(
            [LineRec(doc_id="d", source="s", source_rank=0, line_no=0, text="")],
            ws,
        )
        assert not res.lines

    def test_empty_line_zero_width_regex_first_claims(self):
        filters = [FilterSpec(202, 0, "x*", regex=True)]
        fs = self._spans("", filters)
        assert [sp[:3] for sp in fs] == [(0, 0, 202)]
        ws = WorkspaceConfig(filters=filters)
        res = run_pipeline(
            [LineRec(doc_id="d", source="s", source_rank=0, line_no=0, text="")],
            ws,
        )
        assert len(res.lines) == 1

    def test_nonempty_no_match_segment_still_kept(self):
        filters = [
            FilterSpec(201, 0, "zz"),
            FilterSpec(202, 1, "ab"),
        ]
        fs = self._spans("xaby", filters)
        assert (1, 3, 202) in [sp[:3] for sp in fs]
