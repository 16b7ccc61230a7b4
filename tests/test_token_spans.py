"""Token-table fast path (functions/token_spans.py) equality tests.

The fast path claims: for word-local matchers, per-line span decomposition
== concatenation of per-vocab-word decompositions with merged unclaimed
gaps. These tests pin that equality against the generic whole-line
extractor (itself pinned against the pure-Python oracle port of
FilterData.cpp/OutputData.cpp by test_spans_property.py).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from txtlogparser_spark.config import FilterSpec, SearchSpec
from txtlogparser_spark.functions.spans import (
    _matcher_table,
    assemble_spans,
    extract_line_spans,
)
from txtlogparser_spark.functions.token_spans import (
    build_word_tables,
    matchers_word_local,
    pattern_word_local,
    spans_for_ids,
)

# A vocabulary exercising every matcher quirk word-locally: case variants,
# underscores (isalnum-vs-\b divergence), repeated substrings (greedy
# advance quirk), digits, and plain filler.
VOCAB = [
    "ERROR", "Error", "error", "errors", "WARN", "warn", "warning",
    "conn_error", "db_conn_error", "_retry_", "retry", "aaa", "abab", "aa",
    "code=200", "code=404", "latency=123ms", "latency=7ms", "x", "filler",
    "w0001", "w0002", "GET", "POST",
]


def _spans_via_tokens(ids, filters, searches, want_combined=True):
    wlen, has_claim, ff, sf, cf = build_word_tables(
        VOCAB, filters, searches, want_search=True, want_combined=want_combined
    )
    return spans_for_ids(
        np.asarray(ids, dtype=np.int64),
        wlen,
        has_claim,
        ff,
        sf,
        cf,
        want_search=True,
        want_combined=want_combined,
    )


def _spans_via_text(ids, filters, searches, want_combined=True):
    text = " ".join(VOCAB[i] for i in ids)
    ftab = _matcher_table(filters)
    stab = _matcher_table(searches)
    return extract_line_spans(text, ftab, stab, want_combined)


WORKSPACES = [
    # all 4 flag combos, non-regex + regex, in orders that force claiming
    (
        [
            FilterSpec(201, 0, "ERROR", caseSensitive=True),
            FilterSpec(202, 1, "warn", caseSensitive=False, wholeWord=True),
            FilterSpec(203, 2, r"code=\d+", caseSensitive=False, regex=True),
            FilterSpec(204, 3, r"conn_error", caseSensitive=False, wholeWord=True, regex=True),
        ],
        [
            SearchSpec(301, 0, "latency", caseSensitive=False),
            SearchSpec(302, 1, r"\d+ms", caseSensitive=False, regex=True),
        ],
    ),
    # overlap-bait: earlier filter claims inside words later filters want
    (
        [
            FilterSpec(201, 0, "aa", caseSensitive=True),
            FilterSpec(202, 1, "ab", caseSensitive=True),
            FilterSpec(203, 2, "a", caseSensitive=True, wholeWord=True),
        ],
        [SearchSpec(301, 0, "b", caseSensitive=True)],
    ),
    # whole-word quirks: underscore boundary divergence non-regex vs \b
    (
        [
            FilterSpec(201, 0, "retry", caseSensitive=False, wholeWord=True),
            FilterSpec(202, 1, r"retry", caseSensitive=False, wholeWord=True, regex=True),
            FilterSpec(203, 2, "error", caseSensitive=False, wholeWord=True),
        ],
        [SearchSpec(301, 0, r"err\w+", caseSensitive=False, regex=True)],
    ),
]


@pytest.mark.parametrize("ws_idx", range(len(WORKSPACES)))
def test_token_tables_match_generic_extractor(ws_idx):
    filters, searches = WORKSPACES[ws_idx]
    assert matchers_word_local(filters, searches)
    rng = np.random.RandomState(7 + ws_idx)
    for _ in range(300):
        k = rng.randint(1, 30)
        ids = rng.randint(0, len(VOCAB), size=k).tolist()
        got = _spans_via_tokens(ids, filters, searches)
        want = _spans_via_text(ids, filters, searches)
        assert got[0] == want[0], f"filter spans differ for ids={ids}"
        assert got[1] == want[1], f"search spans differ for ids={ids}"
        assert got[2] == want[2], f"combined spans differ for ids={ids}"


@settings(max_examples=200, deadline=None)
@given(
    ids=st.lists(st.integers(0, len(VOCAB) - 1), min_size=1, max_size=20),
    ws_idx=st.integers(0, len(WORKSPACES) - 1),
)
def test_token_tables_property(ids, ws_idx):
    filters, searches = WORKSPACES[ws_idx]
    got = _spans_via_tokens(ids, filters, searches)
    want = _spans_via_text(ids, filters, searches)
    assert got[0] == want[0]
    assert got[1] == want[1]
    assert got[2] == want[2]


def test_empty_ids_matches_generic_path():
    """Empty token array == extract_line_spans(""): the reference drops
    the empty subline after the first non-claiming filter
    (FilterData.cpp:154-159/221-229, OutputData.cpp:291-306), so the
    token fast path must NOT emit a synthetic whole-line span."""
    for filters, searches in WORKSPACES:
        got = _spans_via_tokens([], filters, searches)
        want = _spans_via_text([], filters, searches)
        assert got[0] == want[0], (filters, searches)
        assert got[1] == want[1], (filters, searches)
        assert got[2] == want[2], (filters, searches)


def test_empty_word_row_matches_generic_path():
    """A row of one empty vocab word joins to "": it takes the empty-line
    sentinel, as the generic extractor sees an empty line."""
    vocab = ["", "ERROR"]
    for filters, searches in WORKSPACES:
        tables = build_word_tables(
            vocab, filters, searches, want_search=True, want_combined=True
        )
        got = spans_for_ids(
            np.asarray([0], dtype=np.int64), *tables,
            want_search=True, want_combined=True,
        )
        want = extract_line_spans("", _matcher_table(filters), _matcher_table(searches), True)
        assert got == want, (filters, searches)


def test_empty_ids_reference_shapes():
    # non-claiming filter first: empty line vanishes (empty span list),
    # a LATER zero-width regex never sees it
    filters = [
        FilterSpec(201, 0, "a", caseSensitive=True, wholeWord=False, regex=False),
        FilterSpec(202, 1, "x*", caseSensitive=True, wholeWord=False, regex=True),
    ]
    fs, ss, cs = _spans_via_tokens([], filters, [])
    assert fs == []
    # zero-width regex FIRST: claims the empty line at (0,0)
    filters = [
        FilterSpec(202, 0, "x*", caseSensitive=True, wholeWord=False, regex=True)
    ]
    fs, ss, cs = _spans_via_tokens([], filters, [])
    assert [sp[:3] for sp in fs] == [(0, 0, 202)]
    # no filters at all: the untouched whole-(empty-)line span survives
    fs, ss, cs = _spans_via_tokens([], [], [])
    assert fs == [(0, 0, -1, -1, -1, -1)]


# a row: (token ids, null?) — a null row keeps its ids in the child
# values, so its offsets span them; ids run past both ends of the vocab
_ARROW_ROW = st.tuples(
    st.lists(st.integers(-3, len(VOCAB) + 2), max_size=12), st.booleans()
)


def _token_rows(rows, cut):
    """(tokens, first row kept): the rows as a list<int32> array with
    `cut` rows sliced off each end, and the index of the first kept."""
    import pyarrow as pa

    lens = [len(ids) for ids, _ in rows]
    full = pa.ListArray.from_arrays(
        pa.array(np.concatenate(([0], np.cumsum(lens, dtype=np.int64))), pa.int32()),
        pa.array([t for ids, _ in rows for t in ids], pa.int32()),
        mask=pa.array([null for _, null in rows], pa.bool_()),
    )
    lo = min(cut[0], len(rows))
    return full.slice(lo, max(len(rows) - lo - cut[1], 0)), lo


@settings(max_examples=300, deadline=None)
@given(
    rows=st.lists(_ARROW_ROW, max_size=14),
    cut=st.tuples(st.integers(0, 4), st.integers(0, 4)),
    ws_idx=st.integers(0, len(WORKSPACES) - 1),
    include_search=st.booleans(),
    include_text=st.booleans(),
)
def test_arrow_mapper_property(rows, cut, ws_idx, include_search, include_text):
    """The whole-batch mapInArrow kernel == spans_for_ids row by row, and
    its text == the " ".join, over empty rows, null rows whose offsets
    span values, out-of-vocab ids and sliced batches (first offset not 0,
    `.values` not sliced)."""
    import pyarrow as pa

    from txtlogparser_spark.functions.arrow_spans import make_arrow_span_mapper

    filters, searches = WORKSPACES[ws_idx]
    tokens, lo = _token_rows(rows, cut)
    fn, fields = make_arrow_span_mapper(
        VOCAB, filters, searches,
        include_search=include_search, include_text=include_text,
    )
    batch = pa.RecordBatch.from_arrays([tokens], names=["tokens"])
    (out,) = list(fn(iter([batch])))
    assert out.schema.names == ["tokens"] + [f.name for f in fields]
    got = out.to_pydict()

    tables = build_word_tables(
        VOCAB, filters, searches, want_search=include_search, want_combined=False
    )
    words = VOCAB + ["<unk>"]
    for i, (ids, null) in enumerate(rows[lo:lo + len(tokens)]):
        ids = [] if null else [t if 0 <= t < len(VOCAB) else len(VOCAB) for t in ids]
        fs, ss, _ = spans_for_ids(
            np.asarray(ids, dtype=np.int64), *tables,
            want_search=include_search, want_combined=False,
        )
        kinds = [("f", fs, 2, 3)] + ([("s", ss, 4, 5)] if include_search else [])
        for k, spans, id_slot, row_slot in kinds:
            flat = list(zip(*(got[f"{k}_{x}"][i] for x in ("start", "end", "id", "row"))))
            assert flat == [
                (sp[0], sp[1], sp[id_slot], sp[row_slot]) for sp in spans
            ], (k, i, ids)
        if include_text:
            assert got["text"][i] == " ".join(words[t] for t in ids)


def test_word_locality_gate():
    ok = [
        ("ERROR", False),
        ("code=\\d+", True),
        ("\\bconn_error\\b", True),
        ("b(ig|atch)", True),
        ("[abc]+x", True),
    ]
    ok += [
        (r"\S+", True),         # cannot match the separator
        (r"(foo)+bar", True),   # groups/repeats of word-local parts
        (r"a\Bb", True),        # \B is word-local like \b
    ]
    bad = [
        ("two words", False),   # literal separator
        ("a b", True),
        (r"\s+", True),         # class containing space
        (r"\W", True),
        ("^start", True),       # anchor
        ("end$", True),
        (r"foo(?= bar)", True), # lookahead
        ("a.c", True),          # dot matches separator
        ("[^x]+", True),        # negated class
        ("a*", True),           # can match empty → positions at separator
        ("(x|)", True),
        # tree-walk catches what textual scans miss (ADVICE round 1):
        (r"[\x1f-\x21]+", True),  # range spanning 0x20
        (r"[\t-z]+", True),       # range spanning 0x20
        ("\\u0020", True),        # escaped space literal
        (r"\x20", True),
        (r"\040", True),
        (r"a|b c", True),         # space in one branch
        (r"[\x19\x20]", True),    # class literal 0x20 via escape
        (r"(a)\1", True),         # backref: conservative reject
    ]
    for pat, is_re in ok:
        assert pattern_word_local(pat, is_re), pat
    for pat, is_re in bad:
        assert not pattern_word_local(pat, is_re), pat


# --------------------------------------------- gate property (random ASTs)
#
# The gate's contract: ANY pattern it admits is word-local — the fast
# path equals the generic whole-line extractor on space-containing
# inputs. Generating random regex ASTs (not hand-picked cases) means a
# future sre node kind the walk doesn't know fails CLOSED with evidence:
# either the gate rejects it (fine, speed-only loss) or this property
# finds the divergence.

_GATE_ATOMS = [
    "a", "b", "A", "1", "_", " ", r"\ ", ".", r"\d", r"\D", r"\w", r"\W",
    r"\s", r"\S", r"\b", r"\B", "^", "$", r"\x20", r"\x21",
    "[ab]", "[^a]", "[a-c]", r"[\x1f-\x21]", "[ a]", "[^ ]", "[a1_]",
    r"[\t-z]", r"[^\S]",
]
_GATE_QUANTS = ["", "*", "+", "?", "{1,2}", "*?", "+?"]


def _regex_ast(depth: int):
    atom = st.sampled_from(_GATE_ATOMS)
    if depth <= 0:
        return atom
    sub = _regex_ast(depth - 1)
    piece = st.builds(
        lambda e, q: e + q, st.one_of(atom, sub), st.sampled_from(_GATE_QUANTS)
    )
    return st.one_of(
        atom,
        st.builds(lambda a, b: a + b, piece, piece),                  # concat
        st.builds(lambda a, b: f"(?:{a}|{b})", sub, sub),             # alt
        st.builds(lambda e: f"({e})", sub),                           # group
        st.builds(lambda e: f"(?={e})", sub),                         # lookahead
        st.builds(lambda e: f"(?!{e})", sub),                         # neg look
    )


def _finditer_spans(creg, text, off=0):
    return [(m.start() + off, m.end() + off) for m in creg.finditer(text)]


@settings(max_examples=300, deadline=None)
@given(pat=_regex_ast(2), data=st.data())
def test_gate_admitted_random_asts_are_word_local(pat, data):
    import re

    try:
        creg = re.compile(pat)
    except re.error:
        return
    if not pattern_word_local(pat, True):
        return  # conservative reject: generic path handles it, only speed lost
    vocab = data.draw(
        st.lists(
            st.text(alphabet="abA1_.", min_size=1, max_size=5),
            min_size=1,
            max_size=6,
            unique=True,
        )
    )
    ids = data.draw(
        st.lists(st.integers(0, len(vocab) - 1), min_size=0, max_size=8)
    )
    line = " ".join(vocab[i] for i in ids)
    # (1) raw re locality: matches on the line == shifted per-word matches
    per_word, off = [], 0
    for i in ids:
        per_word += _finditer_spans(creg, vocab[i], off)
        off += len(vocab[i]) + 1
    assert _finditer_spans(creg, line) == per_word, pat
    # (2) full engine equality: token-table fast path == generic extractor
    filters = [
        FilterSpec(201, 0, pat, caseSensitive=True, wholeWord=False, regex=True)
    ]
    wlen, has_claim, ff, sf, cf = build_word_tables(
        vocab, filters, [], want_search=True, want_combined=True
    )
    got = spans_for_ids(
        np.asarray(ids, dtype=np.int64), wlen, has_claim, ff, sf, cf,
        want_search=True, want_combined=True,
    )
    ftab = _matcher_table(filters)
    stab = _matcher_table([])
    want = extract_line_spans(line, ftab, stab, True)
    assert got == want, pat


def test_pipeline_paths_agree(spark, tmp_path):
    """Spark-level: `run()` with and without text equals the oracle on
    fixture data with empty rows, and the flat counts equal the struct
    counts the driver's text queries use."""
    from txtlogparser_spark.oracle import LineRec, run_pipeline
    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.sources.fixtures import (
        FixtureSpec,
        build_vocab,
        default_workspace,
        generate_sequences,
        generate_source_info,
        write_fixture_tables,
    )

    out = str(tmp_path / "fix")
    # empty_fraction: ~2% of rows carry an EMPTY token array — every
    # shape must keep the empty-line reference semantics too
    spec = FixtureSpec(n_rows=2000, n_sources=3, seed=11, empty_fraction=0.02)
    write_fixture_tables(out, spec)
    vocab = build_vocab()
    info = spark.read.parquet(f"{out}/source_info.parquet")
    ws = default_workspace()
    assert matchers_word_local(ws.enabled_filters(), ws.enabled_searches())
    pipe = LogPipeline(spark, ws, vocab, source_info=info)
    seqs = pipe.load_sequences(f"{out}/sequences")

    rank = {r["source"]: r["source_rank"] for r in generate_source_info(spec).to_pylist()}
    lines = [
        LineRec(
            r["doc_id"], r["source"], rank[r["source"]],
            int(r["doc_id"].rsplit("-", 1)[1]),
            " ".join(vocab[t] for t in r["tokens"]), tuple(r["tokens"]),
        )
        for r in generate_sequences(spec).to_pylist()
    ]
    assert any(not ln.tokens for ln in lines)
    oracle = run_pipeline(lines, ws)

    def spans(rows):
        return [(s["start"], s["end"], s["filter_id"], s["search_id"]) for s in rows]

    cols = [
        "doc_id",
        "text",
        assemble_spans("", kind="filter").alias("filter_spans"),
        assemble_spans("", kind="search").alias("search_spans"),
        "route",
    ]
    full = {r["doc_id"]: r for r in pipe.run(seqs).select(cols).collect()}
    order = {f.id: f.row for f in ws.enabled_filters()}
    assert set(full) == {ol.rec.doc_id for ol in oracle.lines}
    for ol in oracle.lines:
        r = full[ol.rec.doc_id]
        assert r["text"] == ol.rec.text
        assert spans(r["filter_spans"]) == spans(s.__dict__ for s in ol.filter_spans)
        assert spans(r["search_spans"]) == spans(s.__dict__ for s in ol.search_spans)
        claimed = {s.filter_id for s in ol.filter_spans if s.filter_id != -1}
        assert r["route"] == min(claimed, key=order.__getitem__)

    # with_text=False: same spans/route, text reconstructible on demand
    slim = pipe.run(seqs, with_text=False)
    assert "text" not in slim.columns
    redone = {
        r["doc_id"]: r
        for r in pipe.display_text(slim).select(cols).collect()
    }
    assert redone == full

    # the flat counts (filter_counts/search_counts) equal the struct
    # metrics over the assembled spans and the oracle's counts
    from txtlogparser_spark.operators.aggregate import filter_metrics, search_metrics

    assert "filter_spans" not in slim.columns and "f_id" in slim.columns
    structs = slim.select(*cols[2:4])

    def counts(df, key):
        return {
            r[key]: (r["occurrence_count"], r["line_count"]) for r in df.collect()
        }

    fm = counts(pipe.filter_counts(slim), "filter_id")
    assert fm == counts(filter_metrics(structs), "filter_id")
    assert fm == {
        fid: (n, len(oracle.filter_line_map[fid]))
        for fid, n in oracle.filter_match_count.items()
    }
    sm = counts(pipe.search_counts(slim), "search_id")
    assert sm == counts(search_metrics(structs), "search_id")
    assert sm == {
        sid: (n, len(oracle.search_line_map[sid]))
        for sid, n in oracle.search_match_count.items()
    }


def test_generic_workspace_without_text_matches_oracle(spark, tmp_path):
    """A phrase matcher has no space-free literal, so the workspace runs
    the generic kernel: `run()` matches the oracle there, with and
    without text, and emits the mapInArrow kernel's flat span columns."""
    from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
    from txtlogparser_spark.oracle import LineRec, run_pipeline
    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.sources.fixtures import (
        FixtureSpec,
        build_vocab,
        generate_sequences,
        write_fixture_tables,
    )

    spec = FixtureSpec(n_rows=200, n_sources=2, seed=7)
    out = str(tmp_path / "fix")
    write_fixture_tables(out, spec)
    vocab = build_vocab()
    rows = generate_sequences(spec).to_pylist()
    # a multi-word phrase matcher is not word-local; take one the data holds
    phrase = next(
        " ".join(vocab[t] for t in r["tokens"][:2])
        for r in rows
        if len(r["tokens"]) > 1
    )
    ws = WorkspaceConfig(id=1, name="w", filters=[FilterSpec(201, 0, phrase)])
    assert not matchers_word_local(ws.enabled_filters(), [])
    pipe = LogPipeline(spark, ws, vocab)
    kernel = pipe.span_kernel(with_search=False)
    assert kernel.kind == "generic" and kernel.reason
    seqs = pipe.load_sequences(f"{out}/sequences")
    lines = [
        LineRec(r["doc_id"], r["source"], 0, 0, " ".join(vocab[t] for t in r["tokens"]))
        for r in rows
    ]
    want = {
        ol.rec.doc_id: [(s.start, s.end, s.filter_id) for s in ol.filter_spans]
        for ol in run_pipeline(lines, ws).lines
    }
    assert want
    full = pipe.run(seqs, with_search=False)
    slim = pipe.run(seqs, with_search=False, with_text=False)
    # one schema on both kernels
    word_local = WorkspaceConfig(id=2, name="v", filters=[FilterSpec(201, 0, vocab[5])])
    assert LogPipeline(spark, word_local, vocab).span_kernel().kind != "generic"
    assert full.columns == LogPipeline(spark, word_local, vocab).run(
        seqs, with_search=False
    ).columns
    assert {"f_start", "f_end", "f_id", "f_row", "text"} <= set(full.columns)
    assert slim.columns == [c for c in full.columns if c != "text"]
    for df in (full, slim):
        got = {
            r["doc_id"]: [(s["start"], s["end"], s["filter_id"]) for s in r["sp"]]
            for r in df.select(
                "doc_id", assemble_spans("", kind="filter").alias("sp")
            ).collect()
        }
        assert got == want


def test_empty_rows_through_spark_and_arrow_paths(spark):
    """The UDF and the mapInArrow mapper each short-circuit empty/null
    token rows BEFORE spans_for_ids — those branches must emit the same
    empty-line sentinel (reference: the empty line vanishes after the
    first non-claiming filter; the r4 parity bug lived exactly here)."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from txtlogparser_spark.functions.arrow_spans import make_arrow_span_mapper
    from txtlogparser_spark.functions.token_spans import make_token_fused_extractor

    filters, searches = WORKSPACES[0]
    rows = [[], [0, 1, 2], None, [4]]
    want = [
        _spans_via_text(ids if ids is not None else [], filters, searches)[0]
        for ids in rows
    ]

    # pandas-UDF path
    df = spark.createDataFrame([(r,) for r in rows], "tokens array<int>")
    udf = make_token_fused_extractor(VOCAB, filters, searches)
    got = (
        df.withColumn("_f", udf(F.col("tokens")))
        .select(F.arrays_zip("_f.f_start", "_f.f_end", "_f.f_id", "_f.f_row").alias("z"))
        .collect()
    )
    for w, r in zip(want, got):
        flat = [(t["f_start"], t["f_end"], t["f_id"], t["f_row"]) for t in r["z"]]
        assert flat == [sp[:4] for sp in w], (flat, w)

    # mapInArrow path (mapper called directly on a RecordBatch)
    fn, _ = make_arrow_span_mapper(VOCAB, filters, searches)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(rows, type=pa.list_(pa.int32()))], names=["tokens"]
    )
    (out,) = list(fn(iter([batch])))
    tab = out.to_pydict()
    for i, w in enumerate(want):
        flat = list(
            zip(tab["f_start"][i], tab["f_end"][i], tab["f_id"][i], tab["f_row"][i])
        )
        assert flat == [sp[:4] for sp in w], (i, flat, w)


# ------------------------------------------- row-level dispatch (mapper)
#
# Workspaces mixing word-local matchers with cross-word ones. The mapper
# must equal the generic fused extractor column for column whatever the
# mix; `span_kernel` decides only which of the two the pipeline runs.

# "\u212aelvin" starts with the Kelvin sign, "\u017ftatus" with a long s:
# re.IGNORECASE folds them to k and s, ASCII folding does not
_KELVIN, _LONG_S = "\u212aelvin", "\u017ftatus"
_DISPATCH_VOCAB = VOCAB + ["timeout", "", _KELVIN, _LONG_S, "café"]

# (pattern, caseSensitive, wholeWord, regex)
_LOCAL_POOL = [
    ("ERROR", True, False, False),
    ("warn", False, True, False),
    (r"code=\d+", False, False, True),
    (r"conn_error", False, True, True),
    ("latency", False, False, False),
    (r"\d+ms", False, False, True),
    ("aa", True, False, False),
]
_CROSS_POOL = [
    (r"ERROR.*timeout", True, False, True),
    (r"error\W+retry", False, False, True),      # case-insensitive
    (r"retry.*code", False, True, True),         # wholeWord
    (r"(?i)error.*GET", True, False, True),      # inline case folding
    (r"kelvin.*errors?", False, False, True),    # K (Kelvin sign) folds to k
    (r"STATUS.*x", False, False, True),          # long s folds to s
    (r"café.*x", True, False, True),             # non-ASCII literal
]
# cross-word matchers the pipeline keeps on the generic extractor
_GENERIC_POOL = [
    (r"\d+ \w+", True, False, True),             # no literal
    (r"x*", True, False, True),                  # zero-width, no literal
    ("code=200 x", False, False, False),         # literal holds a space
    (r"latency=7ms x", True, False, True),       # literal holds a space
]
_POOL = _LOCAL_POOL + _CROSS_POOL + _GENERIC_POOL


def _specs(cls, base, picks):
    return [
        cls(base + i, i, p, caseSensitive=cs, wholeWord=ww, regex=rx)
        for i, (p, cs, ww, rx) in enumerate(picks)
    ]


def _mapper_vs_fused(tokens, filters, searches, include_search, include_text):
    import pyarrow as pa

    from txtlogparser_spark.functions.arrow_spans import make_arrow_span_mapper
    from txtlogparser_spark.functions.spans import make_fused_extractor

    fn, fields = make_arrow_span_mapper(
        _DISPATCH_VOCAB, filters, searches,
        include_search=include_search, include_text=include_text,
    )
    batch = pa.RecordBatch.from_arrays([tokens], names=["tokens"])
    (out,) = list(fn(iter([batch])))
    assert out.schema.names == ["tokens"] + [f.name for f in fields]
    got = out.to_pydict()
    want = make_fused_extractor(
        _DISPATCH_VOCAB, filters, searches, include_search=include_search
    ).func(tokens.to_pandas())
    for name in [f.name for f in fields]:
        assert got[name] == [
            v if isinstance(v, str) else list(v) for v in want[name]
        ], name
    if not include_text:
        assert "text" not in got


_DISPATCH_ROW = st.tuples(
    st.lists(st.integers(-2, len(_DISPATCH_VOCAB) + 1), max_size=12),
    st.booleans(),
)


@settings(max_examples=300, deadline=None)
@given(
    rows=st.lists(_DISPATCH_ROW, max_size=14),
    cut=st.tuples(st.integers(0, 4), st.integers(0, 4)),
    fpicks=st.lists(st.sampled_from(_POOL), max_size=4, unique=True),
    spicks=st.lists(st.sampled_from(_POOL), max_size=3, unique=True),
    include_search=st.booleans(),
    include_text=st.booleans(),
)
def test_dispatch_mapper_equals_fused_property(
    rows, cut, fpicks, spicks, include_search, include_text
):
    """The dispatching mapper == make_fused_extractor (text and every
    f_*/s_* column) on random mixed workspaces, over null, empty and
    sliced batches, out-of-vocab ids, an empty and non-ASCII vocab
    words; literal-free and space-literal matchers are classified
    generic."""
    from txtlogparser_spark.functions.arrow_spans import span_kernel

    filters = _specs(FilterSpec, 201, fpicks)
    searches = _specs(SearchSpec, 301, spicks)
    _mapper_vs_fused(
        _token_rows(rows, cut)[0], filters, searches, include_search, include_text
    )
    used = fpicks + (spicks if include_search else [])
    kernel = span_kernel(filters, searches if include_search else [])
    if any(p in _GENERIC_POOL for p in used):
        assert kernel.kind == "generic", kernel
    elif any(p in _CROSS_POOL for p in used):
        assert kernel.kind == "dispatched", kernel
    else:
        assert kernel.kind == "word_table", kernel


@pytest.mark.parametrize("include_search", [False, True])
def test_dispatch_fixed_cases(include_search):
    """Cases a random draw can miss: a lone cross-word filter on empty
    and null rows (the full workspace drops the empty line, the
    word-local matchers alone would keep it), an empty vocab word, and
    rows the case folding reaches only through non-ASCII words."""
    w = {x: i for i, x in enumerate(_DISPATCH_VOCAB)}
    rows = [
        ([], False),
        ([w["x"]], True),
        ([w[""]], False),
        ([w[_KELVIN], w["errors"]], False),
        ([w[_LONG_S], w["x"]], False),
        ([w["ERROR"], w["filler"], w["timeout"]], False),
        ([w["error"], w["_retry_"]], False),
        ([w["ERROR"], w["GET"]], False),
    ]
    tokens = _token_rows(rows, (0, 0))[0]
    for picks in (
        [_CROSS_POOL[0]],
        [_CROSS_POOL[4], _LOCAL_POOL[0]],
        [_LOCAL_POOL[1], _CROSS_POOL[5], _CROSS_POOL[1]],
        [_LOCAL_POOL[2], _CROSS_POOL[0], _LOCAL_POOL[0]],
    ):
        filters = _specs(FilterSpec, 201, picks)
        for spicks in (
            [_CROSS_POOL[3], _LOCAL_POOL[5]],
            [_LOCAL_POOL[0], _CROSS_POOL[0], _CROSS_POOL[3]],
        ):
            searches = _specs(SearchSpec, 301, spicks)
            for include_text in (False, True):
                _mapper_vs_fused(
                    tokens, filters, searches, include_search, include_text
                )


def test_dispatch_scans_only_literal_rows(monkeypatch):
    """No per-row Python on kernel rows: only rows holding every literal
    of some cross-word matcher reach the exact scanner, and a word-local
    workspace never reaches it."""
    import pyarrow as pa

    from txtlogparser_spark.functions import arrow_spans

    seen = []
    real = arrow_spans.claim_spans

    def counting(text, *a, **k):
        seen.append(text)
        return real(text, *a, **k)

    monkeypatch.setattr(arrow_spans, "claim_spans", counting)
    rng = np.random.RandomState(3)
    rows = [rng.randint(0, len(_DISPATCH_VOCAB), rng.randint(0, 10)).tolist() for _ in range(400)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(rows, type=pa.list_(pa.int32()))], names=["tokens"]
    )
    local = _specs(FilterSpec, 201, _LOCAL_POOL[:3])
    filters = local + _specs(FilterSpec, 204, [_CROSS_POOL[0]])
    fn, _ = arrow_spans.make_arrow_span_mapper(_DISPATCH_VOCAB, filters, [])
    list(fn(iter([batch])))
    texts = [" ".join(_DISPATCH_VOCAB[t] for t in r) for r in rows]
    want = [t for t, r in zip(texts, rows)
            if any("ERROR" in _DISPATCH_VOCAB[i] for i in r)
            and any("timeout" in _DISPATCH_VOCAB[i] for i in r)]
    assert 0 < len(want) < len(rows) / 4
    assert seen == want

    fn, _ = arrow_spans.make_arrow_span_mapper(_DISPATCH_VOCAB, local, [])
    seen.clear()
    list(fn(iter([batch])))
    assert seen == []


def test_span_kernel_outcomes(spark):
    """LogPipeline.span_kernel reports each of the three kernels, with
    the cross-word literals or the reason."""
    from dataclasses import replace

    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.sources.fixtures import default_workspace

    ws = default_workspace()
    k = LogPipeline(spark, ws, VOCAB).span_kernel()
    assert (k.kind, k.cross_word, k.reason) == ("word_table", (), "")

    cross = FilterSpec(206, 5, "ERROR.*timeout", regex=True)
    gws = replace(ws, filters=list(ws.filters) + [cross])
    k = LogPipeline(spark, gws, VOCAB).span_kernel()
    assert k.kind == "dispatched"
    assert k.cross_word == ((206, ("ERROR", "timeout")),)
    assert k.record() == {
        "kind": "dispatched", "cross_word": {"206": ["ERROR", "timeout"]}, "reason": "",
    }

    bare = FilterSpec(206, 5, r"\d+ \w+", regex=True)
    k = LogPipeline(
        spark, replace(ws, filters=list(ws.filters) + [bare]), VOCAB
    ).span_kernel()
    assert k.kind == "generic" and "206" in k.reason, k
    k = LogPipeline(spark, replace(gws, regex_dialect="ecmascript"), VOCAB).span_kernel()
    assert k.kind == "generic" and "ecmascript" in k.reason, k
    # a cross-word search counts only while searches run
    sws = replace(ws, searches=[SearchSpec(301, 0, "a.*b", regex=True)])
    pipe = LogPipeline(spark, sws, VOCAB)
    assert pipe.span_kernel().kind == "dispatched"
    assert pipe.span_kernel(with_search=False).kind == "word_table"


def test_token_candidates_cover_case_folding():
    """The token prefilter keeps every word a filter's regex can match
    in: an inline (?i) folds case under caseSensitive=True, and
    re.IGNORECASE folds the Kelvin sign and long s onto ASCII letters."""
    from txtlogparser_spark.functions.token_prefilter import candidate_token_ids

    vocab = ["ERROR", "error", _KELVIN, "kelvin", _LONG_S, "status", "fine"]
    for pat, cs in [
        ("(?i)error", True), ("kelvin", False), ("STATUS", False),
        ("(?i)kel", True), ("error", True), ("status", True),
    ]:
        f = FilterSpec(201, 0, pat, caseSensitive=cs, regex=True)
        cands = set(candidate_token_ids(f, vocab))
        creg = f.compiled()
        assert {i for i, w in enumerate(vocab) if creg.search(w)} <= cands, pat
    assert candidate_token_ids(FilterSpec(201, 0, "error", regex=True), vocab) == [1]
    # one rule with the row dispatch (token_prefilter.mask_literals): the
    # longest space-free literal is tested, and a case-folding regex has
    # no ASCII-only mask for a non-ASCII literal (the long s folds onto s)
    f = FilterSpec(201, 0, "stat.*a long phrase", regex=True)
    assert candidate_token_ids(f, vocab) == [5]
    f = FilterSpec(201, 0, _LONG_S, caseSensitive=False, regex=True)
    assert f.compiled().search("status")
    assert candidate_token_ids(f, vocab) is None
