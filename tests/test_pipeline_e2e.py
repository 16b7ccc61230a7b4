"""End-to-end equality: Spark pipeline vs pure-Python oracle on the
deterministic fixture table (SURVEY.md §5.3).

Checks per BASELINE.json:
- routed-row set equality, ordered by (source_rank, line_no)
- per-row token-array equality (exact, vs input)
- per-filter/search occurrence + line counts
- first-match-wins span decomposition per line
"""

import re

import numpy as np
import pytest

from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
from txtlogparser_spark.functions.spans import assemble_spans
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

SPEC = FixtureSpec(n_rows=4_000, n_sources=5, seed=42, max_tok=40)


def _fixture_lines():
    vocab = build_vocab()
    info = {r["source"]: r for r in generate_source_info(SPEC).to_pylist()}
    return [
        LineRec(
            doc_id=r["doc_id"],
            source=r["source"],
            source_rank=info[r["source"]]["source_rank"],
            line_no=int(r["doc_id"].rsplit("-", 1)[1]),
            text=" ".join(vocab[t] for t in r["tokens"]),
            tokens=tuple(r["tokens"]),
        )
        for r in generate_sequences(SPEC).to_pylist()
    ]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixture")
    write_fixture_tables(str(d), SPEC)
    return str(d)


@pytest.fixture(scope="module")
def oracle_result():
    return run_pipeline(_fixture_lines(), default_workspace())


@pytest.fixture(scope="module")
def spark_routed(spark, fixture_dir):
    vocab = build_vocab()
    info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
    pipe = LogPipeline(spark, default_workspace(), vocab, source_info=info)
    seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
    routed = pipe.run(seqs)
    return pipe, routed.cache()


def _span_cols(*kinds):
    """run()'s flat span lists as the reference's span structs, one
    `<kind>_spans` column per kind."""
    return [assemble_spans("", kind=k).alias(f"{k}_spans") for k in kinds]


def spans_tuples(span_rows):
    return [
        (s["start"], s["end"], s["filter_id"], s["search_id"]) for s in span_rows
    ]


class TestRoutedRows:
    def test_routed_row_set_and_order(self, spark_routed, oracle_result):
        _, routed = spark_routed
        got = [
            r["doc_id"]
            for r in routed.orderBy("source_rank", "line_no").select("doc_id").collect()
        ]
        want = [ol.rec.doc_id for ol in oracle_result.lines]
        assert got == want

    def test_token_array_equality(self, spark_routed, oracle_result):
        _, routed = spark_routed
        got = {
            r["doc_id"]: tuple(r["tokens"])
            for r in routed.select("doc_id", "tokens").collect()
        }
        for ol in oracle_result.lines:
            assert got[ol.rec.doc_id] == ol.rec.tokens

    def test_span_decomposition_matches(self, spark_routed, oracle_result):
        _, routed = spark_routed
        got = {
            r["doc_id"]: spans_tuples(r["filter_spans"])
            for r in routed.select("doc_id", *_span_cols("filter")).collect()
        }
        for ol in oracle_result.lines:
            want = [
                (s.start, s.end, s.filter_id, s.search_id) for s in ol.filter_spans
            ]
            assert got[ol.rec.doc_id] == want, ol.rec.doc_id

    def test_route_tag_is_first_claiming_filter(self, spark_routed, oracle_result):
        _, routed = spark_routed
        got = {r["doc_id"]: r["route"] for r in routed.select("doc_id", "route").collect()}
        ws = default_workspace()
        order = {f.id: f.row for f in ws.enabled_filters()}
        for ol in oracle_result.lines:
            claimed = {s.filter_id for s in ol.filter_spans if s.filter_id != -1}
            want = min(claimed, key=lambda fid: order[fid])
            assert got[ol.rec.doc_id] == want


class TestAggregates:
    def test_filter_counts(self, spark_routed, oracle_result):
        pipe, routed = spark_routed
        got = {
            r["filter_id"]: (r["occurrence_count"], r["line_count"])
            for r in pipe.filter_counts(routed).collect()
        }
        want = {
            fid: (cnt, len(oracle_result.filter_line_map[fid]))
            for fid, cnt in oracle_result.filter_match_count.items()
        }
        assert got == want

    def test_search_counts(self, spark_routed, oracle_result):
        pipe, routed = spark_routed
        got = {
            r["search_id"]: (r["occurrence_count"], r["line_count"])
            for r in pipe.search_counts(routed).collect()
        }
        want = {
            sid: (cnt, len(oracle_result.search_line_map[sid]))
            for sid, cnt in oracle_result.search_match_count.items()
        }
        assert got == want

    def test_counts_nonempty(self, oracle_result):
        # fixture sanity: every enabled filter + search actually fires
        assert set(oracle_result.filter_match_count) == {201, 202, 203, 204}
        assert set(oracle_result.search_match_count) == {301, 302}


class TestPassthrough:
    def test_no_filters_passes_all_rows(self, spark, fixture_dir):
        vocab = build_vocab()
        ws = WorkspaceConfig(filters=[], searches=[])
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, ws, vocab, source_info=info)
        routed = pipe.run(pipe.load_sequences(f"{fixture_dir}/sequences"))
        assert routed.count() == SPEC.n_rows

    def test_filter_order_changes_counts(self, spark, fixture_dir):
        # overlapping patterns, permuted rows ⇒ different claim precedence:
        # case-sensitive 'ERROR' vs case-insensitive 'error' both hit the
        # same tokens; whichever runs first claims them (SURVEY.md §2.3 #1)
        vocab = build_vocab()
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        base = WorkspaceConfig(
            filters=[
                FilterSpec(201, 0, "ERROR", caseSensitive=True),
                FilterSpec(202, 1, "error", caseSensitive=False),
            ]
        )
        permuted = WorkspaceConfig(
            filters=[
                FilterSpec(201, 1, "ERROR", caseSensitive=True),
                FilterSpec(202, 0, "error", caseSensitive=False),
            ]
        )
        p1 = LogPipeline(spark, base, vocab, source_info=info)
        p2 = LogPipeline(spark, permuted, vocab, source_info=info)
        seqs = p1.load_sequences(f"{fixture_dir}/sequences")
        c1 = {r["filter_id"]: r["occurrence_count"] for r in p1.filter_counts(p1.run(seqs)).collect()}
        c2 = {r["filter_id"]: r["occurrence_count"] for r in p2.filter_counts(p2.run(seqs)).collect()}
        assert c1 != c2  # precedence is load-bearing (SURVEY.md §2.3 #1)
        # survival set is order-independent (OR-semantics)
        assert p1.run(seqs).count() == p2.run(seqs).count()


class TestFusedPath:
    def test_session_and_stream_agree_with_run(self, spark, fixture_dir, oracle_result):
        """The session and the stream run `run()`'s plan: the same rows,
        routes and spans as the oracle."""
        from txtlogparser_spark.plans.session import WorkspaceSession
        from txtlogparser_spark.streaming.stream import StreamingLogPipeline

        vocab = build_vocab()
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, default_workspace(), vocab, source_info=info)
        seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
        key = lambda df: sorted(
            (r["doc_id"], r["route"], tuple(map(tuple, r["filter_spans"])))
            for r in df.select("doc_id", "route", *_span_cols("filter")).collect()
        )
        want = key(pipe.run(seqs))
        assert [d for d, _, _ in want] == sorted(
            ol.rec.doc_id for ol in oracle_result.lines
        )
        sess = WorkspaceSession(
            spark, vocab, seqs, [default_workspace()], source_info=info
        )
        try:
            sess.set_active(default_workspace().id)
            assert key(sess.routed()) == want
        finally:
            sess.close()
        assert key(StreamingLogPipeline(pipe).routed_stream(seqs)) == want

    def test_token_prefilter_is_sound(self, spark, fixture_dir):
        # prefiltered row set ⊇ surviving row set, and counts identical
        # with prefilter force-disabled
        import pyspark.sql.functions as F
        from txtlogparser_spark.functions.token_prefilter import (
            token_survival_prefilter,
        )

        vocab = build_vocab()
        ws = default_workspace()
        pre = token_survival_prefilter(ws.enabled_filters(), vocab)
        assert pre is not None
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, ws, vocab, source_info=info)
        seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
        survivors = {r["doc_id"] for r in pipe.run(seqs).select("doc_id").collect()}
        prefiltered = {
            r["doc_id"] for r in seqs.where(pre).select("doc_id").collect()
        }
        assert survivors <= prefiltered


class TestEcmaDialectE2E:
    """WorkspaceConfig.regex_dialect='ecmascript' threads the reference's
    std::regex emulation (functions/regex_dialect.py) through BOTH the
    Spark extractors and the pure-Python oracle — pinned here end-to-end.

    The workspace stacks a lookbehind filter (row 0) over a plain regex
    filter (row 1): Python claims via the lookbehind; ECMAScript rejects
    it at compile (regex_error → claims nothing, FilterData.cpp:234-237)
    so the plain filter claims instead — different span decompositions
    and counts, same surviving rows. Parity must hold per dialect."""

    def _ws(self, dialect: str) -> WorkspaceConfig:
        return WorkspaceConfig(
            filters=[
                FilterSpec(401, 0, r"(?<=code=)\d+", regex=True),
                FilterSpec(402, 1, r"code=\d+", regex=True),
            ],
            regex_dialect=dialect,
        )

    @pytest.mark.parametrize("dialect", ["python", "ecmascript"])
    @pytest.mark.parametrize("via_session", [False, True])
    def test_spark_matches_oracle_per_dialect(
        self, spark, fixture_dir, dialect, via_session
    ):
        from txtlogparser_spark.plans.session import WorkspaceSession

        ws = self._ws(dialect)
        oracle = run_pipeline(_fixture_lines(), ws)
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(
            spark, ws, build_vocab(), source_info=info,
            invalid_regex="match_nothing",
        )
        seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
        sess = WorkspaceSession(
            spark, build_vocab(), seqs, [ws], source_info=info,
            invalid_regex="match_nothing",
        )
        sess.set_active(ws.id)
        routed = (
            sess.routed(with_search=False)
            if via_session
            else pipe.run(seqs, with_search=False)
        )
        got = {
            r["doc_id"]: spans_tuples(r["filter_spans"])
            for r in routed.select("doc_id", *_span_cols("filter")).collect()
        }
        sess.close()
        want = {
            ol.rec.doc_id: [
                (s.start, s.end, s.filter_id, s.search_id)
                for s in ol.filter_spans
            ]
            for ol in oracle.lines
        }
        assert got == want
        assert len(got) > 0

    def test_dialects_actually_diverge(self):
        # guard against vacuity: the lookbehind claims under Python and
        # claims NOTHING under the ECMAScript emulation
        py = run_pipeline(_fixture_lines(), self._ws("python"))
        ec = run_pipeline(_fixture_lines(), self._ws("ecmascript"))
        assert py.filter_match_count.get(401, 0) > 0 and py.filter_match_count.get(402, 0) == 0
        assert ec.filter_match_count.get(401, 0) == 0 and ec.filter_match_count.get(402, 0) > 0
        # survival is by OR — the same rows route either way
        assert [ol.rec.doc_id for ol in py.lines] == [
            ol.rec.doc_id for ol in ec.lines
        ]

    def test_strict_load_rejects_vs_compat_admits(self, spark):
        ws = self._ws("ecmascript")
        from txtlogparser_spark.config import ConfigError

        with pytest.raises(ConfigError):
            LogPipeline(spark, ws, build_vocab())
        LogPipeline(
            spark, ws, build_vocab(), invalid_regex="match_nothing"
        )  # loads

    def test_roundtrip_and_digest_stability(self):
        ws = self._ws("ecmascript")
        d = ws.to_dict()
        assert d["regex_dialect"] == "ecmascript"
        back = WorkspaceConfig.from_dict(d, invalid_regex="match_nothing")
        assert back.regex_dialect == "ecmascript"
        # default dialect stays OUT of the dict: digests of existing
        # persisted workspaces (and resume manifests) must not change
        assert "regex_dialect" not in self._ws("python").to_dict()


def test_fused_rank_parity_when_filter_kills_a_source(spark):
    """Degenerate no-source_info mode: `run()` enriches AFTER the survival
    filter, so its rank dim must come from the PRE-filter frame — a
    source whose rows all fail the filters must still occupy its rank
    slot, as in the reference's file order."""
    from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.sources.fixtures import build_vocab

    vocab = build_vocab()
    kw = vocab[5]
    rows = []
    # source 'a' sorts FIRST but never matches; 'b' and 'c' match
    for i, (src, word) in enumerate(
        [("a", vocab[9]), ("b", kw), ("c", kw), ("b", kw)]
    ):
        tok = vocab.index(word)
        rows.append((f"{src}-{i:08d}", [tok], 1, src))
    seqs = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    ws = WorkspaceConfig(
        filters=[FilterSpec(id=1, row=0, pattern=kw)], searches=[]
    )
    pipe = LogPipeline(spark, ws, vocab)  # no source_info => degenerate mode
    got = {
        (r["doc_id"], r["source_rank"])
        for r in pipe.run(seqs).select("doc_id", "source_rank").collect()
    }
    ranks = {"a": 0, "b": 1, "c": 2}  # lexicographic, every source counted
    lines = [
        LineRec(d, src, ranks[src], int(d.rsplit("-", 1)[1]), vocab[t[0]], tuple(t))
        for d, t, _, src in rows
    ]
    want = {
        (ol.rec.doc_id, ol.rec.source_rank)
        for ol in run_pipeline(lines, ws).lines
    }
    assert got == want
    # 'a' holds rank 0 even though filtered out, so 'b' must be rank 1
    assert all(rank == 1 for d, rank in got if d.startswith("b"))


def test_fused_prunes_unselected_sources_before_python(spark):
    """S2: with source_info present, the unselected-source IN predicate
    must reach the scan (PushedFilters), not wait for the enrich join
    above the opaque Python stage (review finding)."""
    from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.sources.fixtures import build_vocab
    import io, contextlib

    vocab = build_vocab()
    kw = vocab[5]
    rows = [(f"s{i % 3}-{i:08d}", [vocab.index(kw)], 1, f"s{i % 3}") for i in range(9)]
    seqs = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    info = spark.createDataFrame(
        [("s0", 0, True), ("s1", 1, False), ("s2", 2, True)],
        "source string, source_rank int, selected boolean",
    )
    ws = WorkspaceConfig(
        filters=[FilterSpec(id=1, row=0, pattern=kw)], searches=[]
    )
    pipe = LogPipeline(spark, ws, vocab, source_info=info)
    out = pipe.run(seqs)
    assert {r["source"] for r in out.select("source").collect()} == {"s0", "s2"}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    py_at = plan.find("MapInArrow")
    if py_at == -1:
        py_at = plan.find("ArrowEvalPython")
    # the isin filter must appear BELOW (after, in printed order) the
    # Python node, i.e. closer to the scan
    filt_at = plan.rfind("source#")
    assert py_at != -1
    assert "isin" in plan.lower() or " IN (" in plan or "In(source" in plan


class TestShardedSink:
    def test_write_sharded_balances_and_roundtrips(
        self, spark, fixture_dir, tmp_path
    ):
        """write_sharded: every routed row lands in exactly one shard,
        per-shard token totals are within one max sequence length of
        ideal, and each shard dir is a single sorted file."""
        import glob

        vocab = build_vocab()
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, default_workspace(), vocab, source_info=info)
        routed = pipe.run(pipe.load_sequences(f"{fixture_dir}/sequences"))
        out = str(tmp_path / "out")
        n_shards = 4
        pipe.write_sharded(routed, out, n_shards)

        back = spark.read.parquet(f"{out}/shards")
        want = {
            r["doc_id"]: r["n_tok"]
            for r in routed.select("doc_id", "n_tok").collect()
        }
        rows = back.select("doc_id", "n_tok", "shard", "tok_before").collect()
        assert sorted(r["doc_id"] for r in rows) == sorted(want)
        total = sum(want.values())
        maxlen = max(want.values())
        per = {}
        for r in rows:
            assert want[r["doc_id"]] == r["n_tok"]
            per.setdefault(r["shard"], 0)
            per[r["shard"]] += r["n_tok"]
        for s, tok in per.items():
            assert abs(tok - total / n_shards) <= maxlen, (s, tok)
        # one file per shard dir, rows sorted by stream position
        for s in per:
            files = glob.glob(f"{out}/shards/shard={s}/*.parquet")
            assert len(files) == 1, files
            import pyarrow.parquet as pq

            tb = pq.read_table(files[0], columns=["tok_before"])
            vals = tb.column("tok_before").to_pylist()
            assert vals == sorted(vals)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestFlatSink:
    """run() emits only the flat f_*/s_* span lists, the sink stores them
    partitioned by route alone, and the counts read f_id / s_id alone."""

    @pytest.mark.parametrize("compact", [False, True], ids=["plain", "compact"])
    def test_sink_layout(self, spark, fixture_dir, tmp_path, compact):
        import os

        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, default_workspace(), build_vocab(), source_info=info)
        seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
        routed = pipe.run(seqs)
        pipe.write_sinks(routed, str(tmp_path), compact=compact)
        root = tmp_path / "routed"
        dirs = sorted(d for d in os.listdir(root) if not d.startswith(("_", ".")))
        n_routes = len(default_workspace().enabled_filters())
        assert dirs and all(d.startswith("route=") for d in dirs), dirs
        assert len(dirs) <= n_routes
        files = [
            os.path.join(d, f)
            for d, subdirs, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]
        assert not any("source=" in f for f in files), files
        assert all(os.path.dirname(f) != str(root) for f in files)
        if not compact:
            assert len(files) <= n_routes * seqs.rdd.getNumPartitions(), len(files)
        sink = spark.read.parquet(str(root))
        flat = [f"{k}_{x}" for k in "fs" for x in ("start", "end", "id", "row")]
        assert set(flat) <= set(sink.columns)
        assert not {"filter_spans", "search_spans"} & set(sink.columns)
        assert "source" in sink.columns
        assert sink.count() == routed.count()

    def test_no_struct_assembly_and_counts_read_ids_only(
        self, spark, fixture_dir, tmp_path
    ):
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, default_workspace(), build_vocab(), source_info=info)
        routed = pipe.run(pipe.load_sequences(f"{fixture_dir}/sequences"))
        plan = _executed_plan(routed)
        assert "arrays_zip" not in plan and "MapInArrow" in plan, plan
        pipe.write_sinks(routed, str(tmp_path))
        sink = spark.read.parquet(str(tmp_path / "routed"))
        for counts, col in ((pipe.filter_counts, "f_id"), (pipe.search_counts, "s_id")):
            plan = _executed_plan(counts(sink))
            read = re.findall(r"ReadSchema: (struct<.*?>)(?:\n|,|$)", plan)
            assert read == [f"struct<{col}:array<int>>"], plan


def _display_page(pipe, sink):
    return pipe.display_text(
        sink.orderBy("source_rank", "line_no").limit(100)
    ).select("doc_id", "tokens", "text")


def test_display_page_reads_stored_text(spark, fixture_dir, tmp_path):
    """A sink that stores text serves the display page as one JVM
    TakeOrderedAndProject, with text equal to detokenizing the tokens; a
    sink without text, and a vocab whose \\r the detokenizer scrubs, still
    detokenize."""
    vocab = build_vocab()
    words = vocab + ["<unk>"]
    info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")

    def sink_page(voc, name, **run_kw):
        pipe = LogPipeline(spark, default_workspace(), voc, source_info=info)
        seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
        pipe.write_sinks(pipe.run(seqs, **run_kw), str(tmp_path / name))
        return _display_page(pipe, spark.read.parquet(str(tmp_path / name / "routed")))

    stored = sink_page(vocab, "text")
    plan = _executed_plan(stored)
    assert "TakeOrderedAndProject" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    rows = stored.collect()
    assert len(rows) == 100
    for r in rows:
        assert r["text"] == " ".join(
            words[t] if 0 <= t < len(vocab) else words[-1] for t in r["tokens"]
        ), r["doc_id"]

    slim = sink_page(vocab, "slim", with_text=False)
    assert "ArrowEvalPython" in _executed_plan(slim)
    assert slim.collect() == rows

    cr_vocab = [w + "\r" for w in vocab]
    cr = sink_page(cr_vocab, "cr")
    assert "ArrowEvalPython" in _executed_plan(cr)
    cr_rows = cr.collect()
    assert [r["doc_id"] for r in cr_rows] == [r["doc_id"] for r in rows]
    cr_words = cr_vocab + ["<unk>"]
    for r in cr_rows:
        joined = " ".join(
            cr_words[t] if 0 <= t < len(cr_vocab) else cr_words[-1]
            for t in r["tokens"]
        )
        # the reference line scrub (OutputData.cpp:78-90)
        scrubbed = joined.replace("\r\n", "\n").rstrip("\r").replace("\r", " ")
        assert r["text"] == scrubbed, r["doc_id"]


def _cross_word_ws(pattern="ERROR.*timeout", row=5, dialect="python"):
    """The launcher workspace plus one cross-word regex filter (row 5 is
    the benchmark's generic-regex workspace)."""
    from dataclasses import replace

    ws = default_workspace()
    return replace(
        ws,
        id=2,
        filters=list(ws.filters) + [FilterSpec(206, row, pattern, regex=True)],
        regex_dialect=dialect,
    ).validate()


class TestSpanDispatch:
    """A workspace with a cross-word regex runs the mapInArrow kernel,
    with the exact scanner only on the rows its literals select."""

    @pytest.mark.parametrize("row", [5, -1])
    def test_dispatched_plan_and_sink_match_oracle(
        self, spark, fixture_dir, tmp_path, row
    ):
        ws = _cross_word_ws(row=row)
        oracle = run_pipeline(_fixture_lines(), ws)
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, ws, build_vocab(), source_info=info)
        assert pipe.span_kernel().kind == "dispatched"
        routed = pipe.run(pipe.load_sequences(f"{fixture_dir}/sequences"))
        plan = _executed_plan(routed)
        assert "MapInArrow" in plan and "ArrowEvalPython" not in plan, plan
        pipe.write_sinks(routed, str(tmp_path))
        sink = spark.read.parquet(str(tmp_path / "routed"))

        got = sink.orderBy("source_rank", "line_no").select(
            "doc_id", *_span_cols("filter", "search")
        ).collect()
        assert [r["doc_id"] for r in got] == [ol.rec.doc_id for ol in oracle.lines]
        for r, ol in zip(got, oracle.lines):
            for col, spans in (
                ("filter_spans", ol.filter_spans),
                ("search_spans", ol.search_spans),
            ):
                assert spans_tuples(r[col]) == [
                    (s.start, s.end, s.filter_id, s.search_id) for s in spans
                ], (col, r["doc_id"])
        fc = {
            r["filter_id"]: (r["occurrence_count"], r["line_count"])
            for r in pipe.filter_counts(sink).collect()
        }
        assert fc == {
            fid: (n, len(oracle.filter_line_map[fid]))
            for fid, n in oracle.filter_match_count.items()
        }
        sc = {
            r["search_id"]: (r["occurrence_count"], r["line_count"])
            for r in pipe.search_counts(sink).collect()
        }
        assert sc == {
            sid: (n, len(oracle.search_line_map[sid]))
            for sid, n in oracle.search_match_count.items()
        }
        # first in row order, the cross-word filter claims lines itself
        assert (206 in oracle.filter_match_count) == (row == -1)

    @pytest.mark.parametrize(
        "ws_kw",
        [{"dialect": "ecmascript"}, {"pattern": r"\d+ \w+"}],
        ids=["ecmascript", "literal_free"],
    )
    def test_generic_workspaces_keep_pandas_path(self, spark, fixture_dir, ws_kw):
        ws = _cross_word_ws(**ws_kw)
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, ws, build_vocab(), source_info=info)
        assert pipe.span_kernel().kind == "generic"
        seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
        routed = pipe.run(seqs)
        plan = _executed_plan(routed)
        assert plan.count("ArrowEvalPython") == 1 and "MapInArrow" not in plan, plan
        oracle = run_pipeline(_fixture_lines(), ws)
        assert sorted(r["doc_id"] for r in routed.select("doc_id").collect()) == sorted(
            ol.rec.doc_id for ol in oracle.lines
        )
        assert pipe.span_kernel().reason
        # with_text=False runs on the generic kernel too: same spans, no text
        slim = pipe.run(seqs, with_text=False)
        assert "text" not in slim.columns
        assert slim.columns == [c for c in routed.columns if c != "text"]
        got = {
            r["doc_id"]: (spans_tuples(r["filter_spans"]), spans_tuples(r["search_spans"]))
            for r in slim.select("doc_id", *_span_cols("filter", "search")).collect()
        }
        assert got == {
            ol.rec.doc_id: tuple(
                [(s.start, s.end, s.filter_id, s.search_id) for s in spans]
                for spans in (ol.filter_spans, ol.search_spans)
            )
            for ol in oracle.lines
        }

    def test_flags_accept_dispatchable_workspace(self, spark, fixture_dir):
        """with_text=False runs on a dispatchable workspace; text is then
        built for scanner rows only."""
        ws = _cross_word_ws(row=-1)
        oracle = run_pipeline(_fixture_lines(), ws)
        info = spark.read.parquet(f"{fixture_dir}/source_info.parquet")
        pipe = LogPipeline(spark, ws, build_vocab(), source_info=info)
        seqs = pipe.load_sequences(f"{fixture_dir}/sequences")
        want_rows = sorted(ol.rec.doc_id for ol in oracle.lines)
        slim = pipe.run(seqs, with_text=False)
        assert "text" not in slim.columns and "f_id" in slim.columns
        assert sorted(r["doc_id"] for r in slim.select("doc_id").collect()) == want_rows
        assert "MapInArrow" in _executed_plan(slim)
        fm = {
            r["filter_id"]: (r["occurrence_count"], r["line_count"])
            for r in pipe.filter_counts(slim).collect()
        }
        assert fm == {
            fid: (n, len(oracle.filter_line_map[fid]))
            for fid, n in oracle.filter_match_count.items()
        }
