"""Raw-log ingestion (S1 text half): scrub parity with the oracle,
tokens→text→tokens round trip, small-vocab vs join tokenizer equality,
and end-to-end ingest→pipeline→routed equality vs the pure-Python oracle
on the raw lines (SURVEY §5 round-trip item)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from txtlogparser_spark.config import FilterSpec, SearchSpec, WorkspaceConfig
from txtlogparser_spark.functions.detokenize import make_detokenizer
from txtlogparser_spark.functions.spans import assemble_spans
from txtlogparser_spark.oracle import LineRec, run_pipeline
from txtlogparser_spark.oracle.matcher import scrub_line
from txtlogparser_spark.sources.textlog import (
    build_vocab,
    ingest_log,
    read_log_lines,
    tokenize_expr,
    tokenize_via_join,
    vocab_dim,
)

RAW_LINES = [
    "error scan failed on node 7",
    "JOIN completed  with big batch",   # double space → empty word
    "plain line nothing here",
    "carriage\rinside and trailing\r",  # interior \r → ' ', trailing \r stripped
    "",                                 # empty line
    "filter applied to query stream",
]


@pytest.fixture(scope="module")
def log_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("logs") / "app.log"
    p.write_text("\n".join(RAW_LINES) + "\n", encoding="utf-8")
    return str(p)


def expected_scrubbed():
    return [scrub_line(l + "\n") for l in RAW_LINES]


def test_scrub_matches_oracle(spark, log_file):
    got = [
        r["text"]
        for r in read_log_lines(spark, log_file, source="app")
        .orderBy("line_no")
        .collect()
    ]
    assert got == expected_scrubbed()


def _vocab_list(vdf):
    """Collect the (word, id) dim to the index==id list shape the
    detokenizer closures take (bounded — fixture scale only)."""
    rows = vdf.orderBy("id").collect()
    assert [r["id"] for r in rows] == list(range(len(rows)))  # dense sorted ids
    assert [r["word"] for r in rows] == sorted(r["word"] for r in rows)
    return [r["word"] for r in rows]


def test_roundtrip_text_tokens_text(spark, log_file):
    seqs, vdf = ingest_log(spark, log_file, source="app")
    vocab = _vocab_list(vdf)
    detok = make_detokenizer(vocab)
    back = (
        seqs.withColumn("text", detok("tokens"))
        .withColumn("line_no", F.substring_index("doc_id", "-", -1).cast("int"))
        .orderBy("line_no")
        .collect()
    )
    assert [r["text"] for r in back] == expected_scrubbed()
    # tokens → text → tokens is the identity for corpus-built vocab
    retok = (
        seqs.withColumn("text", detok("tokens"))
        .withColumn("tokens2", tokenize_expr(vocab))
        .collect()
    )
    for r in retok:
        assert list(r["tokens"]) == list(r["tokens2"]), r["doc_id"]
    # n_tok + doc_id shape match the canonical sequences schema
    for r in back:
        assert r["n_tok"] == len(r["tokens"])
        assert r["doc_id"] == f"app-{r['line_no']:08d}"


def test_join_tokenizer_matches_literal(spark, log_file):
    lines = read_log_lines(spark, log_file, source="app")
    vocab = build_vocab(lines)
    lit = lines.withColumn("tokens", tokenize_expr(vocab)).select(
        "line_no", "tokens"
    )
    join = tokenize_via_join(lines, vocab_dim(spark, vocab)).select(
        "line_no", "tokens"
    )
    a = {r["line_no"]: list(r["tokens"]) for r in lit.collect()}
    b = {r["line_no"]: list(r["tokens"]) for r in join.collect()}
    assert a == b
    # OOV words map to UNK_ID on both paths
    oov = spark.createDataFrame(
        [("app", 99, "scan UNSEEN word")], "source string, line_no int, text string"
    )
    la = oov.withColumn("tokens", tokenize_expr(vocab)).collect()[0]["tokens"]
    lb = tokenize_via_join(oov, vocab_dim(spark, vocab)).collect()[0]["tokens"]
    assert list(la) == list(lb)
    assert -1 in list(la)


def test_vocab_df_ids_match_list_and_plan_is_distributed(spark, log_file):
    """build_vocab_df must (a) reproduce build_vocab's exact word→id map
    and (b) contain no single-partition exchange — the scale contract
    that replaced the round-2 driver-collect vocabulary."""
    from txtlogparser_spark.sources.textlog import build_vocab_df

    lines = read_log_lines(spark, log_file, source="app")
    vdf = build_vocab_df(lines)
    got = {r["word"]: r["id"] for r in vdf.collect()}
    # independent reference: pure-Python sorted distinct words (code-point
    # order == Spark/DuckDB binary UTF-8 order), NOT build_vocab, which
    # is now itself a collect of build_vocab_df
    words = set()
    for r in lines.collect():
        words.update(r["text"].split(" "))
    want = {w: i for i, w in enumerate(sorted(words))}
    assert got == want
    plan = vdf._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_multisplit_file_line_order(spark, tmp_path):
    """A file read as MULTIPLE scan splits must still number lines in
    true file order: ordering is (_metadata.file_block_start, _mid), not
    incidental partition-index order (round-2 ADVICE item)."""
    lines = [f"line {i:05d} " + "x" * 50 for i in range(2000)]
    p = tmp_path / "big.log"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    try:
        nsplits = spark.read.text(str(p)).rdd.getNumPartitions()
        assert nsplits > 1, "fixture must actually split for this test"
        got = [
            r["text"]
            for r in read_log_lines(spark, str(p), source="big")
            .orderBy("line_no")
            .collect()
        ]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert got == lines


def test_ingest_pipeline_matches_oracle_on_raw_lines(spark, log_file):
    """Ingested text log → LogPipeline → routed set equals the pure-Python
    oracle run over the scrubbed raw lines."""
    from txtlogparser_spark.plans.pipeline import LogPipeline

    ws = WorkspaceConfig(
        id=1,
        name="ingest-ws",
        filters=[
            FilterSpec(11, 0, "scan", caseSensitive=True, wholeWord=False, regex=False),
            FilterSpec(12, 1, "JOIN", caseSensitive=False, wholeWord=True, regex=False),
            FilterSpec(13, 2, "b(ig|atch)", caseSensitive=False, wholeWord=False, regex=True),
            FilterSpec(14, 3, "filter", caseSensitive=True, wholeWord=True, regex=False),
        ],
        searches=[
            SearchSpec(21, 0, "query", caseSensitive=False, wholeWord=False, regex=False)
        ],
    ).validate()

    seqs, vdf = ingest_log(spark, log_file, source="app")
    pipe = LogPipeline(spark, ws, _vocab_list(vdf))
    routed = (
        pipe.run(seqs, with_search=True)
        .select("doc_id", "text", assemble_spans("", kind="filter").alias("filter_spans"))
        .collect()
    )

    scrubbed = expected_scrubbed()
    recs = [
        LineRec(
            doc_id=f"app-{i:08d}", source="app", source_rank=0, line_no=i, text=t
        )
        for i, t in enumerate(scrubbed)
    ]
    oracle = run_pipeline(recs, ws)
    want = {ol.rec.doc_id: ol for ol in oracle.lines}

    assert {r["doc_id"] for r in routed} == set(want)
    for r in routed:
        ol = want[r["doc_id"]]
        assert r["text"] == ol.rec.text
        got_spans = [
            (s["start"], s["end"], s["filter_id"]) for s in r["filter_spans"]
        ]
        exp_spans = [(s.start, s.end, s.filter_id) for s in ol.filter_spans]
        assert got_spans == exp_spans, r["doc_id"]


def test_colliding_stems_stay_distinct_sources(spark, tmp_path):
    """app.log + app.err must NOT merge into one 'app' source — per-file
    line numbering plus a shared source key would interleave their
    lines in every (source, line_no) keyed stage downstream."""
    import os

    d = str(tmp_path / "logs")
    os.makedirs(d)
    with open(f"{d}/app.log", "w") as fh:
        fh.write("log zero\nlog one\n")
    with open(f"{d}/app.err", "w") as fh:
        fh.write("err zero\n")
    from txtlogparser_spark.sources.textlog import read_log_lines

    out = read_log_lines(spark, d).collect()
    srcs = {r["source"] for r in out}
    assert srcs == {"app.log", "app.err"}  # full basenames on collision
    by = {(r["source"], r["line_no"]): r["text"] for r in out}
    assert by[("app.log", 0)] == "log zero"
    assert by[("app.err", 0)] == "err zero"

    # unique stems keep the readable extension-stripped names
    d2 = str(tmp_path / "logs2")
    os.makedirs(d2)
    with open(f"{d2}/web.log", "w") as fh:
        fh.write("a\n")
    with open(f"{d2}/db.log", "w") as fh:
        fh.write("b\n")
    out2 = {r["source"] for r in read_log_lines(spark, d2).collect()}
    assert out2 == {"web", "db"}


def test_scrub_strips_exactly_one_trailing_cr(spark, tmp_path):
    """Review finding: Java's '$' also matches before a final line
    terminator, so '\\r$' stripped BOTH CRs of 'ab\\r\\r' while the
    reference strips one and spaces the rest ('ab ') — \\z anchors to
    the true end only."""
    p = tmp_path / "cr.log"
    p.write_bytes(b"ab\r\r\nplain\nend\r\n")
    rows = (
        read_log_lines(spark, str(p), source="cr")
        .orderBy("line_no")
        .collect()
    )
    got = [r["text"] for r in rows]
    want = [scrub_line(l) for l in ["ab\r\r\n", "plain\n", "end\r\n"]]
    assert got == want == ["ab ", "plain", "end"]


def test_explicit_source_multifile_global_line_no(spark, tmp_path):
    """source= over a multi-file glob must number lines GLOBALLY:
    per-file numbering minted duplicate (source, line_no) keys and
    doc_ids (review finding)."""
    d = tmp_path / "multi"
    d.mkdir()
    (d / "a.log").write_text("a0\na1\n")
    (d / "b.log").write_text("b0\nb1\nb2\n")
    out = read_log_lines(spark, str(d), source="app").orderBy("line_no").collect()
    assert [r["line_no"] for r in out] == list(range(5))
    # global order: path-lexicographic, then in-file order
    assert [r["text"] for r in out] == ["a0", "a1", "b0", "b1", "b2"]
    assert {r["source"] for r in out} == {"app"}


def test_same_basename_different_dirs_stay_distinct(spark, tmp_path):
    """dir1/app.log + dir2/app.log: the set-based listing used to
    collapse the basenames, leaving both files as ONE source with
    per-file line_no — duplicate (source, line_no)/doc_id keys. They
    must become distinct path-derived sources."""
    d1 = tmp_path / "dir1"
    d2 = tmp_path / "dir2"
    d1.mkdir()
    d2.mkdir()
    (d1 / "app.log").write_text("x0\nx1\n")
    (d2 / "app.log").write_text("y0\n")
    out = read_log_lines(
        spark, [str(d1 / "app.log"), str(d2 / "app.log")]
    ).collect()
    srcs = {r["source"] for r in out}
    assert len(srcs) == 2, f"sources must be distinct, got {srcs}"
    keys = [(r["source"], r["line_no"]) for r in out]
    assert len(keys) == len(set(keys)), "no duplicate (source, line_no)"
    # unrelated single files keep the friendly stem name
    (d1 / "other.log").write_text("z\n")
    out2 = read_log_lines(
        spark,
        [str(d1 / "app.log"), str(d2 / "app.log"), str(d1 / "other.log")],
    ).collect()
    assert "other" in {r["source"] for r in out2}
