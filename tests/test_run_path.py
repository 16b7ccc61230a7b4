"""One run path: `WorkspaceSession.routed()` and
`StreamingLogPipeline.routed_stream` run `LogPipeline.run`'s plan, so they
route exactly the rows the oracle routes, through the same span kernel."""

from __future__ import annotations

import os
import sys

import pytest

from txtlogparser_spark.config import FilterSpec, SearchSpec, WorkspaceConfig
from txtlogparser_spark.functions.spans import assemble_spans
from txtlogparser_spark.oracle import LineRec, run_pipeline
from txtlogparser_spark.plans.pipeline import LogPipeline
from txtlogparser_spark.plans.session import WorkspaceSession
from txtlogparser_spark.streaming.stream import StreamingLogPipeline

# "\u212aIT" starts with the Kelvin sign, which re.IGNORECASE folds to k;
# "\u0130x" starts with U+0130, which Spark's lower() maps to two characters
VOCAB = ["<unk>", "\u212aIT", "lamp", "\u0130x", "ok", "kit", "plain"]
LINES = [[1, 2], [3, 4], [5, 6], [6, 4], [2, 2]]
WS = WorkspaceConfig(
    id=1,
    name="unicode",
    filters=[
        FilterSpec(201, 0, "kit", caseSensitive=False, regex=True),
        FilterSpec(202, 1, "\u0130x", caseSensitive=False),
    ],
    searches=[SearchSpec(301, 0, "OK", caseSensitive=False)],
)
SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _seqs(spark, vocab=VOCAB, lines=LINES):
    rows = [(f"s-{i:08d}", toks, len(toks), "s") for i, toks in enumerate(lines)]
    return spark.createDataFrame(rows, SEQ_SCHEMA)


def _oracle(ws=WS, vocab=VOCAB, lines=LINES):
    recs = [
        LineRec(
            doc_id=f"s-{i:08d}",
            source="s",
            source_rank=0,
            line_no=i,
            text=" ".join(vocab[t] for t in toks),
            tokens=tuple(toks),
        )
        for i, toks in enumerate(lines)
    ]
    return {
        ol.rec.doc_id: (
            [(s.start, s.end, s.filter_id, s.search_id) for s in ol.filter_spans],
            [(s.start, s.end, s.filter_id, s.search_id) for s in ol.search_spans],
        )
        for ol in run_pipeline(recs, ws).lines
    }


def _span_cols():
    """run()'s flat span lists as the reference's span structs."""
    return [
        assemble_spans("", kind=k).alias(f"{k}_spans") for k in ("filter", "search")
    ]


def _spans(routed):
    def tup(spans):
        return [(s["start"], s["end"], s["filter_id"], s["search_id"]) for s in spans]

    return {
        r["doc_id"]: (tup(r["filter_spans"]), tup(r["search_spans"]))
        for r in routed.select("doc_id", *_span_cols()).collect()
    }


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _session_routed(spark, pipe, seqs):
    sess = WorkspaceSession(spark, pipe.vocab, seqs, [pipe.ws])
    sess.set_active(pipe.ws.id)
    return sess.routed(), sess.close


def _stream_routed(spark, pipe, seqs):
    return StreamingLogPipeline(pipe).routed_stream(seqs), lambda: None


@pytest.mark.parametrize(
    "routed_by", [_session_routed, _stream_routed], ids=["session", "stream"]
)
def test_unicode_lines_match_oracle(spark, routed_by):
    want = _oracle()
    # both lines a Spark-side text prefilter used to drop are routed
    assert {"s-00000000", "s-00000001"} <= set(want)
    seqs = _seqs(spark)
    pipe = LogPipeline(spark, WS, VOCAB)
    assert _spans(pipe.run(seqs)) == want
    routed, close = routed_by(spark, pipe, seqs)
    try:
        assert _spans(routed) == want
    finally:
        close()


def _perfbench_workspaces():
    root = os.path.join(os.path.dirname(__file__), "..", "perfbench")
    sys.path.insert(0, os.path.abspath(root))
    try:
        from workloads import session_workspaces
    finally:
        sys.path.pop(0)
    return session_workspaces()


def test_session_step_runs_one_mapinarrow_stage(spark, tmp_path):
    from txtlogparser_spark.sources.fixtures import (
        FixtureSpec,
        build_vocab,
        write_fixture_tables,
    )

    out = str(tmp_path / "fix")
    write_fixture_tables(out, FixtureSpec(n_rows=400, n_sources=3, seed=5))
    workspaces = _perfbench_workspaces()
    sess = WorkspaceSession(
        spark,
        build_vocab(),
        spark.read.parquet(f"{out}/sequences"),
        workspaces,
        source_info=spark.read.parquet(f"{out}/source_info.parquet"),
    )
    try:
        for ws in workspaces:
            sess.set_active(ws.id)
            routed = sess.routed()
            routed.count()
            plan = _executed_plan(routed)
            assert plan.count("MapInArrow") == 1, (ws.name, plan)
            assert "ArrowEvalPython" not in plan, (ws.name, plan)
            assert "InMemoryTableScan" in plan, (ws.name, plan)
    finally:
        sess.close()


def test_carriage_return_vocab_same_on_every_path(spark):
    """Spans and stored text come from the line as joined, before the
    reference's \\r scrub, on every path; display_text scrubs."""
    vocab = ["<unk>", "alpha\r", "beta", "gam\rma", "beta\r"]
    lines = [[1, 2], [2, 3, 4], [4], [3, 1]]
    ws = WorkspaceConfig(
        id=1,
        name="cr",
        filters=[FilterSpec(201, 0, "beta"), FilterSpec(202, 1, r"a\s+b", regex=True)],
        searches=[SearchSpec(301, 0, "ma", caseSensitive=False)],
    )
    seqs = _seqs(spark, vocab, lines)
    pipe = LogPipeline(spark, ws, vocab)
    cols = ["doc_id", "text", *_span_cols(), "route"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    batch = rows(pipe.run(seqs))
    for routed_by in (_session_routed, _stream_routed):
        routed, close = routed_by(spark, pipe, seqs)
        try:
            assert rows(routed) == batch, routed_by.__name__
        finally:
            close()

    joined = {f"s-{i:08d}": " ".join(vocab[t] for t in ln) for i, ln in enumerate(lines)}
    assert {r[0]: r[1] for r in batch} == {d: joined[d] for d, *_ in batch}
    # the spans are the oracle's over the unscrubbed line
    want = _oracle(ws, vocab, lines)
    assert _spans(pipe.run(seqs)) == want

    shown = {
        r["doc_id"]: r["text"]
        for r in pipe.display_text(pipe.run(seqs)).select("doc_id", "text").collect()
    }
    assert shown == {
        d: joined[d].replace("\r\n", "\n").rstrip("\r").replace("\r", " ")
        for d, *_ in batch
    }
    assert any("\r" in joined[d] for d in shown)
