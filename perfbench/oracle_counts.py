"""Expected counts from the pure-Python oracle (`oracle/pipeline.py::run_pipeline`).

The oracle runs at a few thousand rows per second per core, so the lines,
sorted into the reference's global order, are cut into contiguous chunks and
run in a spawn pool. Every expected figure is additive over chunks, and the
display page is the first survivors in chunk order.
"""

from __future__ import annotations

import hashlib
import multiprocessing
from multiprocessing import resource_tracker
import os
from typing import Dict, List, Tuple

import numpy as np

from txtlogparser_spark.config import WorkspaceConfig
from txtlogparser_spark.oracle import LineRec, run_pipeline
from txtlogparser_spark.sources.fixtures import (
    FixtureSpec,
    build_vocab,
    generate_sequences,
    generate_source_info,
)

PAGE_ROWS = 100

Row = Tuple[str, str, int, int, str]  # doc_id, source, source_rank, line_no, text


def _ordered_rows(spec: FixtureSpec) -> List[Row]:
    table = np.asarray(build_vocab(), dtype=object)
    rank = {
        r["source"]: r["source_rank"] for r in generate_source_info(spec).to_pylist()
    }
    seq = generate_sequences(spec)
    rows = [
        (d, s, rank[s], int(d.rsplit("-", 1)[1]), " ".join(table[np.asarray(t, dtype=np.int64)]))
        for d, s, t in zip(
            seq.column("doc_id").to_pylist(),
            seq.column("source").to_pylist(),
            seq.column("tokens").to_numpy(zero_copy_only=False),
        )
    ]
    rows.sort(key=lambda r: (r[2], r[3]))
    return rows


def _chunk_counts(rows: List[Row], workspaces: Dict[str, WorkspaceConfig]) -> dict:
    lines = [LineRec(*r) for r in rows]
    out = {}
    for key, ws in workspaces.items():
        res = run_pipeline(lines, ws)
        out[key] = {
            "rows_routed": len(res.lines),
            "filters": {
                str(i): [n, len(res.filter_line_map[i])]
                for i, n in res.filter_match_count.items()
            },
            "searches": {
                str(i): [n, len(res.search_line_map[i])]
                for i, n in res.search_match_count.items()
            },
            "page": [(ol.rec.doc_id, ol.rec.text) for ol in res.lines[:PAGE_ROWS]],
        }
    return out


def _merge(parts: List[dict]) -> dict:
    rows_routed = sum(p["rows_routed"] for p in parts)
    merged = {"rows_routed": rows_routed}
    for kind in ("filters", "searches"):
        acc: Dict[str, List[int]] = {}
        for p in parts:
            for k, (occ, lines) in p[kind].items():
                a = acc.setdefault(k, [0, 0])
                a[0] += occ
                a[1] += lines
        merged[kind] = acc
    page = [x for p in parts for x in p["page"]][:PAGE_ROWS]
    merged["page_doc_ids"] = [d for d, _ in page]
    merged["page_text_sha1"] = hashlib.sha1(
        "\n".join(t for _, t in page).encode()
    ).hexdigest()
    return merged


def oracle_expectations(spec: FixtureSpec, workspaces: Dict[str, WorkspaceConfig]) -> dict:
    """{workspace key: {rows_routed, filters, searches, page_doc_ids,
    page_text_sha1}} for the fixture generated from `spec`."""
    rows = _ordered_rows(spec)
    n_proc = max(1, min(4, os.cpu_count() or 1))
    step = -(-len(rows) // n_proc)
    chunks = [rows[i : i + step] for i in range(0, len(rows), step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(n_proc) as pool:
        futures = [pool.apply_async(_chunk_counts, (c, workspaces)) for c in chunks]
        parts = [f.get() for f in futures]
        pool.close()
        pool.join()
    # spawning started multiprocessing's resource tracker, which would
    # otherwise outlive this process by a moment
    resource_tracker._resource_tracker._stop()
    return {key: _merge([p[key] for p in parts]) for key in workspaces}
