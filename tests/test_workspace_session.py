"""Multi-workspace lifecycle (WorkspaceManager.cpp:192-213 analog):
active switching with save-on-switch, and the cached-parse reuse that
makes a filter-only change cheap (SURVEY.md §3.2)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from txtlogparser_spark.config import (
    FilterSpec,
    WorkspaceConfig,
    load_workspaces,
)
from txtlogparser_spark.plans.session import WorkspaceSession

VOCAB = ["alpha", "beta", "gamma", "delta", "scan", "join"]


def _seqs(spark):
    rows = [
        (f"s-{i:08d}", toks, len(toks), "s")
        for i, toks in enumerate(
            [[0, 4, 1], [1, 2], [5, 3], [0, 1, 2, 3], [4, 4], [2, 5]]
        )
    ]
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def _ws(ws_id, pattern, fid=201):
    return WorkspaceConfig(
        id=ws_id, name=f"ws{ws_id}", filters=[FilterSpec(fid, 0, pattern)]
    )


def test_switching_and_cached_parse(spark, tmp_path):
    store = str(tmp_path / "workspaces.json")
    sess = WorkspaceSession(
        spark,
        VOCAB,
        _seqs(spark),
        [_ws(1, "scan"), _ws(2, "join")],
        store_path=store,
    )
    assert sess.active() is None

    sess.set_active(1)
    assert sess.active().name == "ws1"
    got1 = {r["doc_id"] for r in sess.routed().select("doc_id").collect()}
    assert got1 == {"s-00000000", "s-00000004"}  # rows containing 'scan'

    # parse stage is persisted and SHARED across workspaces
    parsed = sess.parsed()
    assert parsed.storageLevel.useMemory
    sess.set_active(2)
    assert sess.parsed() is parsed  # same cached DataFrame, no re-parse
    got2 = {r["doc_id"] for r in sess.routed().select("doc_id").collect()}
    assert got2 == {"s-00000002", "s-00000005"}  # rows containing 'join'

    # save-on-switch persisted BOTH workspaces (reference saveWorkspaces)
    assert os.path.exists(store)
    names = {w.name for w in load_workspaces(store)}
    assert names == {"ws1", "ws2"}

    # re-activating the active workspace is a no-op (no error, same result)
    sess.set_active(2)
    assert sess.active().id == 2
    sess.close()
    assert not parsed.storageLevel.useMemory or sess._parsed is None


def test_filter_mutation_reuses_cache(spark):
    sess = WorkspaceSession(spark, VOCAB, _seqs(spark), [_ws(1, "scan")])
    sess.set_active(1)
    before = {r["doc_id"] for r in sess.routed().select("doc_id").collect()}
    parsed = sess.parsed()
    # mutate the active workspace's filter: beta instead of scan
    sess.update_workspace(_ws(1, "beta"))
    after = {r["doc_id"] for r in sess.routed().select("doc_id").collect()}
    assert sess.parsed() is parsed  # cache untouched by filter mutation
    assert before == {"s-00000000", "s-00000004"}
    assert after == {"s-00000000", "s-00000001", "s-00000003"}
    sess.close()


def test_unknown_and_duplicate_ids(spark):
    with pytest.raises(ValueError):
        WorkspaceSession(spark, VOCAB, _seqs(spark), [_ws(1, "a"), _ws(1, "b")])
    sess = WorkspaceSession(spark, VOCAB, _seqs(spark), [_ws(1, "scan")])
    with pytest.raises(KeyError):
        sess.set_active(99)
    with pytest.raises(RuntimeError):
        sess.routed()


def test_match_nothing_session_parses_and_mutates(spark):
    """Review finding: a session constructed with
    invalid_regex='match_nothing' still re-validated under the default
    'reject' in two places — the parse stage's pipeline (built from the
    first workspace) and update_workspace — so one reference-invalid
    regex made the session unusable / immutable."""
    bad = WorkspaceConfig(
        id=1,
        name="bad",
        filters=[FilterSpec(201, 0, "foo[unclosed", regex=True)],
    )
    good = _ws(2, "scan")
    sess = WorkspaceSession(
        spark,
        VOCAB,
        _seqs(spark),
        # the invalid-regex workspace FIRST, where the old parse stage's
        # pipeline validated it
        [bad, good],
        invalid_regex="match_nothing",
    )
    try:
        sess.set_active(2)
        n = sess.routed().count()
        assert n > 0
        # filter mutation on the invalid-regex workspace must not raise
        sess.update_workspace(
            WorkspaceConfig(
                id=1,
                name="bad",
                filters=[FilterSpec(201, 0, "foo[unclosed", regex=True)],
            )
        )
        # and the match-nothing semantics hold end-to-end: the invalid
        # filter alone drops every row (FilterData.cpp:234-237)
        sess.set_active(1)
        assert sess.routed().count() == 0
    finally:
        sess.close()
