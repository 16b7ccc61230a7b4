"""mapInArrow token-span extraction — the zero-copy batch path.

The pandas_udf token path (functions/token_spans.py) still pays per row:
pandas Series construction, one np.asarray per tokens cell, Python-list
span building, and pandas→Arrow conversion of list-of-list columns. This
variant works directly on Arrow RecordBatches, a whole batch at a time,
with no per-row Python:

- `tokens` is read once as (offsets, ids) (detokenize.token_ids: null
  rows → empty, out-of-range ids → <unk>);
- each word's claimed fragments sit in flat arrays indexed by per-word
  offsets, built once at plan time; `np.repeat` expands the
  claim-bearing tokens into their fragments, and the segmented cumsum of
  (word length + 1) gives every fragment its absolute start in its row;
- an unclaimed gap precedes a fragment when its start is past the
  previous fragment's end in the same row (0 at a row's first);
- per-row output counts come from `bincount`, offsets from `cumsum`;
  trailing gaps and the empty/null-row sentinel are one vector write
  each;
- span outputs are flat primitive buffers + list offsets wrapped with
  pa.ListArray.from_arrays; `text` is one vocab `take` plus
  `binary_join` (detokenize.join_tokens); passthrough columns are echoed
  by reference (zero copy).

Semantics are identical to token_spans (same word tables, same assembly
rules as spans_for_ids); tests/test_token_spans.py pins the mapper
against spans_for_ids and the generic extractor. `text` is the joined
line BEFORE the detokenizer's \\r scrub, and spans are offsets into it —
see plans/pipeline.py for how that differs from the non-fused path.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple, Sequence

import numpy as np
import pyarrow as pa

from txtlogparser_spark.config import FilterSpec, SearchSpec
from txtlogparser_spark.functions.detokenize import (
    join_tokens,
    token_ids,
    vocab_words,
)
from txtlogparser_spark.functions.token_spans import build_word_tables


class _FragTable(NamedTuple):
    """One span kind's claimed fragments, flattened once at plan time."""

    count: np.ndarray  # fragments per word id (<unk> included)
    first: np.ndarray  # index of each word's first fragment
    cols: np.ndarray  # (4, n_frags): word-relative start, end, id, row
    sentinel: np.ndarray  # (4, k): the empty-line spans, absolute


def _frag_table(frags: np.ndarray, id_slot: int, row_slot: int) -> _FragTable:
    """Flatten build_word_tables' per-word fragment tuples (last slot = the
    empty-line sentinel) into this mapper's 4-int layout."""

    def cols(spans) -> np.ndarray:
        return np.asarray(
            [(sp[0], sp[1], sp[id_slot], sp[row_slot]) for sp in spans],
            dtype=np.int64,
        ).reshape(-1, 4).T

    words = frags[:-1]
    count = np.fromiter((len(f) for f in words), np.int64, len(words))
    first = np.cumsum(count) - count
    return _FragTable(
        count, first, cols([sp for f in words for sp in f]), cols(frags[-1])
    )


def _span_columns(
    ft: _FragTable,
    ids: np.ndarray,
    hit: np.ndarray,
    hit_row: np.ndarray,
    hit_start: np.ndarray,
    line_len: np.ndarray,
    empty: np.ndarray,
) -> list:
    """One kind's four list<int32> columns for a batch. `hit` indexes the
    claim-bearing tokens (row order), `hit_row`/`hit_start` give each one's
    row and start offset in it; `line_len` is each row's text length and
    `empty` marks empty/null rows (they get the sentinel)."""
    nrows = len(empty)
    w = ids[hit]
    cnt = ft.count[w]
    # fragment table index of every fragment, hit tokens expanded in order
    g = np.repeat(ft.first[w] - (np.cumsum(cnt) - cnt), cnt) + np.arange(cnt.sum())
    tok = np.repeat(np.arange(len(hit)), cnt)
    row = hit_row[tok]
    start = hit_start[tok] + ft.cols[0, g]
    end = hit_start[tok] + ft.cols[1, g]

    nf = len(g)
    first_in_row = np.ones(nf, dtype=bool)
    first_in_row[1:] = row[1:] != row[:-1]
    last_in_row = np.ones(nf, dtype=bool)
    last_in_row[:-1] = first_in_row[1:]
    prev_end = np.zeros(nf, dtype=np.int64)
    prev_end[1:] = end[:-1]
    prev_end[first_in_row] = 0
    gap = start > prev_end
    last_end = np.zeros(nrows, dtype=np.int64)
    last_end[row[last_in_row]] = end[last_in_row]

    nfrag = np.bincount(row, minlength=nrows)
    events = nfrag + np.bincount(row[gap], minlength=nrows)
    trailing = ~empty & ((last_end < line_len) | (nfrag == 0))
    nsent = ft.sentinel.shape[1]
    count = np.where(empty, nsent, events + trailing)
    off = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(count, out=off[1:])

    out = np.empty((4, off[-1]), dtype=np.int64)
    # a fragment's slot: its row's offset + the events (gaps and
    # fragments) before it in that row + its own gap
    ev = np.cumsum(1 + gap)
    pos = off[row] + ev - 1 - (np.cumsum(events) - events)[row]
    out[:, pos] = (start, end, ft.cols[2, g], ft.cols[3, g])
    slots = pos[gap] - 1
    out[0, slots] = prev_end[gap]
    out[1, slots] = start[gap]
    out[2:, slots] = -1
    tr = np.flatnonzero(trailing)
    slots = off[tr + 1] - 1
    out[0, slots] = last_end[tr]
    out[1, slots] = line_len[tr]
    out[2:, slots] = -1
    if nsent:
        er = np.flatnonzero(empty)
        slots = (off[er][:, None] + np.arange(nsent)).ravel()
        out[:, slots] = np.tile(ft.sentinel, len(er))

    offsets = pa.array(off, type=pa.int32())
    return [
        pa.ListArray.from_arrays(offsets, pa.array(c.astype(np.int32)))
        for c in out
    ]


def make_arrow_span_mapper(
    vocab: Sequence[str],
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec] = (),
    *,
    include_search: bool = True,
    include_text: bool = False,
    tokens_col: str = "tokens",
):
    """Returns (fn, extra_fields) for DataFrame.mapInArrow: fn echoes the
    input schema and appends flat span columns (f_start/f_end/f_id/f_row
    [+ s_*] [+ text]), exactly the fields assemble_spans() re-zips."""
    words = vocab_words(vocab)
    nv = len(vocab)
    wlen, has_claim, ffrags, sfrags, _ = build_word_tables(
        vocab,
        [f for f in sorted(filters, key=lambda m: m.row) if f.enabled],
        [s for s in sorted(searches, key=lambda m: m.row) if s.enabled],
        want_search=include_search,
        want_combined=False,
    )
    kinds = [("f", _frag_table(ffrags, 2, 3))]
    if include_search:
        kinds.append(("s", _frag_table(sfrags, 4, 5)))
    i32 = pa.int32()
    extra_fields = [
        pa.field(f"{k}_{x}", pa.list_(i32), False)
        for k, _ in kinds
        for x in ("start", "end", "id", "row")
    ]
    if include_text:
        extra_fields.append(pa.field("text", pa.string(), False))
    names_added = [f.name for f in extra_fields]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            offs, ids = token_ids(batch.column(tokens_col), nv)
            empty = offs[1:] == offs[:-1]
            # word start offsets within each row: global cumsum of
            # (len+1) minus each row's base, vectorized across the batch
            gcum = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(wlen[ids] + 1, out=gcum[1:])
            line_len = gcum[offs[1:]] - gcum[offs[:-1]] - 1
            hit = np.flatnonzero(has_claim[ids])
            hit_row = np.searchsorted(offs, hit, side="right") - 1
            hit_start = gcum[hit] - gcum[offs[hit_row]]

            cols = list(batch.columns)
            for _, ft in kinds:
                cols += _span_columns(
                    ft, ids, hit, hit_row, hit_start, line_len, empty
                )
            if include_text:
                cols.append(join_tokens(words, offs, ids))
            yield pa.RecordBatch.from_arrays(
                cols, names=list(batch.schema.names) + names_added
            )

    return fn, extra_fields
