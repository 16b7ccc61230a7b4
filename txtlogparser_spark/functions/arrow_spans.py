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
  trailing gaps and the empty-line sentinel (rows whose text is "") are
  one vector write each;
- span outputs are flat primitive buffers + list offsets wrapped with
  pa.ListArray.from_arrays; `text` is one vocab `take` plus
  `binary_join` (detokenize.join_tokens); passthrough columns are echoed
  by reference (zero copy).

Row-level dispatch. A matcher that is not word-local
(token_spans.pattern_word_local), e.g. `ERROR.*timeout`, is a cross-word
matcher: the word tables cannot hold it. Every match of it holds each of
its top-level literal runs (spans._required_literals), and a run with no
space lies inside one word. So a row that lacks one such literal gives
that matcher no match in any segment; the matcher claims nothing, and a
matcher that claims nothing leaves a non-empty line's span list as it
was. Such a row's spans are therefore the word tables' result over the
word-local matchers alone, and the tables are built over those only.
Per span kind (filters, searches), at plan time:
- one boolean mask over word ids (<unk> included) per testable literal
  of each cross-word matcher (token_prefilter.mask_literals and
  literal_word_mask, the rule the token prefilter uses too: a
  case-insensitive matcher's masks are ASCII-folded and count every
  non-ASCII word as a hit, since re.IGNORECASE folds beyond ASCII);
- the kind's matchers from its first cross-word one on, compiled in
  `row` order.
Per batch, a `bincount` over the tokens' rows marks the rows holding
every literal of some cross-word matcher. Only those rows are joined to
text, and there the exact scanner's claim loop (spans.claim_spans) runs
the remaining matchers on the spans the word tables give for the
matchers before the first cross-word one — which is what the scanner
itself holds at that point, by word-locality. Their span lists replace
the kernel's by row index. Empty rows (text "") take the full
workspace's `extract_line_spans("")` as their sentinel. A cross-word
matcher with no usable literal selects every row; the pipeline keeps
such workspaces on the generic extractor instead (`span_kernel`).

Semantics are identical to token_spans (same word tables, same assembly
rules as spans_for_ids) and to the generic extractor;
tests/test_token_spans.py pins the mapper against both. `text` is the
joined line BEFORE the detokenizer's \\r scrub, and spans are offsets into
it — plans/pipeline.py documents this as the one deliberate divergence
from the reference.
"""

from __future__ import annotations

from itertools import repeat
from typing import Iterator, List, NamedTuple, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa

from txtlogparser_spark.config import FilterSpec, MatcherSpec, SearchSpec
from txtlogparser_spark.functions.detokenize import (
    UNK,
    join_tokens,
    token_ids,
    vocab_words,
)
from txtlogparser_spark.functions.spans import (
    _ASCII_LOWER,
    _matcher_table,
    claim_spans,
    extract_line_spans,
)
from txtlogparser_spark.functions.token_prefilter import (
    folds_case,
    literal_word_mask,
    mask_literals,
)
from txtlogparser_spark.functions.token_spans import (
    build_word_tables,
    pattern_word_local,
)


class SpanKernel(NamedTuple):
    """Which span kernel `LogPipeline.run` uses for a workspace, and why.

    kind: 'word_table' (every matcher word-local), 'dispatched' (word
    tables plus the exact scanner on the rows a cross-word matcher can
    touch) or 'generic' (the fused text scanner on every row).
    cross_word: (matcher id, its space-free required literals) per
    cross-word matcher. reason: why the kernel is generic."""

    kind: str
    cross_word: Tuple[Tuple[int, Tuple[str, ...]], ...] = ()
    reason: str = ""

    def record(self) -> dict:
        """JSON-ready form for run summaries."""
        return {
            "kind": self.kind,
            "cross_word": {str(i): list(lits) for i, lits in self.cross_word},
            "reason": self.reason,
        }


def span_kernel(
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec],
    dialect: str = "python",
) -> SpanKernel:
    """The span kernel for these enabled matchers (see SpanKernel)."""
    if dialect != "python":
        return SpanKernel(
            "generic",
            reason=f"{dialect} dialect: word tables and literals analyze "
            "Python `re` patterns",
        )
    cross = tuple(
        (m.id, mask_literals(m))
        for m in [*filters, *searches]
        if m.enabled and not pattern_word_local(m.pattern, m.regex)
    )
    if not cross:
        return SpanKernel("word_table")
    bare = [i for i, lits in cross if not lits]
    if bare:
        # the mapper is exact here too (it scans every row); this branch
        # only keeps such workspaces on the pandas generic extractor, a
        # choice no benchmark workload measures (ROADMAP item 3)
        return SpanKernel(
            "generic",
            cross,
            f"cross-word matchers {bare} have no space-free required literal",
        )
    return SpanKernel("dispatched", cross)


class _FragTable(NamedTuple):
    """One span kind's claimed fragments, flattened once at plan time."""

    count: np.ndarray  # fragments per word id (<unk> included)
    first: np.ndarray  # index of each word's first fragment
    cols: np.ndarray  # (4, n_frags): word-relative start, end, id, row
    sentinel: np.ndarray  # (4, k): the empty-line spans, absolute


def _span_cols(spans, id_slot: int, row_slot: int) -> np.ndarray:
    """6-int span tuples → (4, n) start, end, id, row."""
    six = np.asarray(spans, dtype=np.int64).reshape(-1, 6)
    return six[:, [0, 1, id_slot, row_slot]].T


def _frag_table(frags: np.ndarray, id_slot: int, row_slot: int) -> _FragTable:
    """Flatten build_word_tables' per-word fragment tuples (last slot = the
    empty-line sentinel) into this mapper's 4-int layout."""
    words = frags[:-1]
    count = np.fromiter((len(f) for f in words), np.int64, len(words))
    first = np.cumsum(count) - count
    return _FragTable(
        count,
        first,
        _span_cols([sp for f in words for sp in f], id_slot, row_slot),
        _span_cols(frags[-1], id_slot, row_slot),
    )


def _span_columns(
    ft: _FragTable,
    ids: np.ndarray,
    hit: np.ndarray,
    hit_row: np.ndarray,
    hit_start: np.ndarray,
    line_len: np.ndarray,
    empty: np.ndarray,
) -> Tuple[np.ndarray, np.ndarray]:
    """One kind's spans for a batch as (offsets, (4, n) start/end/id/row).
    `hit` indexes the claim-bearing tokens (row order), `hit_row`/
    `hit_start` give each one's row and start offset in it; `line_len` is
    each row's text length and `empty` marks rows whose text is "" (they
    get the sentinel)."""
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
    return off, out


def _list_columns(off: np.ndarray, out: np.ndarray) -> list:
    """(offsets, (4, n)) → four list<int32> Arrow columns."""
    offsets = pa.array(off, type=pa.int32())
    return [
        pa.ListArray.from_arrays(offsets, pa.array(c.astype(np.int32)))
        for c in out
    ]


# ---------------------------------------------------------------- dispatch


class _Dispatch(NamedTuple):
    """One span kind's plan-time dispatch state. From its first cross-word
    matcher on, a kind's matchers (`rest`) run on the rows the literal
    masks select, starting from the spans the word tables give for the
    word-local matchers before it."""

    masks: np.ndarray  # (n_literals, nv + 1): word id holds literal
    groups: List[List[int]]  # per cross-word matcher: its literals' rows
    rest: list  # compiled matchers from the first cross-word one, in order
    prefix: Optional[_FragTable]  # tables before it; None: the kind's own
    search: bool

    def rows(self, offs: np.ndarray, ids: np.ndarray, empty: np.ndarray) -> np.ndarray:
        """Ascending indices of the non-empty rows holding every literal of
        some cross-word matcher (all of them when a matcher has no
        literal). Empty rows already carry the full workspace's result."""
        nrows = len(offs) - 1
        tok_row = np.repeat(np.arange(nrows), np.diff(offs))
        held = [np.bincount(tok_row[m[ids]], minlength=nrows) > 0 for m in self.masks]
        need = np.zeros(nrows, dtype=bool)
        for g in self.groups:
            need |= np.logical_and.reduce([held[i] for i in g]) if g else True
        return np.flatnonzero(need & ~empty)


def _dispatch(
    vocab: Sequence[str], matchers: List[MatcherSpec], search: bool
) -> Optional[_Dispatch]:
    """The dispatch for one kind's enabled matchers in `row` order, or None
    when all are word-local."""
    local = [pattern_word_local(m.pattern, m.regex) for m in matchers]
    if all(local):
        return None
    first = local.index(False)
    words = list(vocab) + [UNK]
    masks, groups, index = [], [], {}
    for m, is_local in zip(matchers, local):
        if is_local:
            continue
        fold = folds_case(m)
        g = []
        for lit in mask_literals(m):
            if (lit, fold) not in index:
                index[lit, fold] = len(masks)
                masks.append(literal_word_mask(lit, words, fold))
            g.append(index[lit, fold])
        groups.append(g)
    prefix = None
    if any(local[first:]):
        # word-local matchers after the first cross-word one: the tables
        # of those before it give the state the rest continues from
        head = matchers[:first]
        _, _, ffrags, sfrags, _ = build_word_tables(
            vocab,
            [] if search else head,
            head if search else [],
            want_search=search,
            want_combined=False,
        )
        prefix = _frag_table(sfrags, 4, 5) if search else _frag_table(ffrags, 2, 3)
    return _Dispatch(
        np.asarray(masks, dtype=bool).reshape(-1, len(words)),
        groups,
        _matcher_table(matchers[first:]),
        prefix,
        search,
    )


def _ragged_take(off: np.ndarray, rows: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """(offsets, value indices) of the given rows of a ragged array."""
    lens = off[rows + 1] - off[rows]
    sub = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(lens, out=sub[1:])
    return sub, np.repeat(off[rows] - sub[:-1], lens) + np.arange(sub[-1])


def _rescanned(
    d: _Dispatch,
    texts: List[str],
    rows: np.ndarray,
    start: Tuple[np.ndarray, np.ndarray],
) -> Tuple[np.ndarray, np.ndarray]:
    """The rows' spans once `d.rest` has run on them, continuing from their
    spans in `start` (offsets, (4, n)), as (per-row counts, (4, n))."""
    sub, idx = _ragged_take(start[0], rows)
    a, b, c, r = start[1][:, idx].tolist()
    neg = repeat(-1)
    spans = list(zip(a, b, neg, neg, c, r) if d.search else zip(a, b, c, r, neg, neg))
    bounds = sub.tolist()
    out: list = []
    cnt = np.empty(len(rows), dtype=np.int64)
    for i, t in enumerate(texts):
        row = claim_spans(
            t,
            t.translate(_ASCII_LOWER),
            spans[bounds[i]:bounds[i + 1]],
            d.rest,
            d.search,
        )
        out += row
        cnt[i] = len(row)
    return cnt, _span_cols(out, 4, 5) if d.search else _span_cols(out, 2, 3)


def _stitch(
    off: np.ndarray,
    vals: np.ndarray,
    rows: np.ndarray,
    cnt: np.ndarray,
    row_vals: np.ndarray,
) -> Tuple[np.ndarray, np.ndarray]:
    """Ragged (off, vals) with the lists of the ascending `rows` replaced
    by lists of lengths `cnt` whose values, concatenated, are
    `row_vals`."""
    counts = np.diff(off)
    keep = np.ones(len(counts), dtype=bool)
    keep[rows] = False
    src = np.repeat(keep, counts)
    counts[rows] = cnt
    new_off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=new_off[1:])
    dst = np.repeat(keep, counts)
    out = np.empty((4, new_off[-1]), dtype=np.int64)
    out[:, dst] = vals[:, src]
    out[:, ~dst] = row_vals
    return new_off, out


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
    [+ s_*] [+ text]), exactly the fields assemble_spans() re-zips.
    Cross-word matchers are dispatched row by row (module docstring)."""
    words = vocab_words(vocab)
    nv = len(vocab)
    filters = sorted((f for f in filters if f.enabled), key=lambda m: m.row)
    searches = (
        sorted((s for s in searches if s.enabled), key=lambda m: m.row)
        if include_search
        else []
    )
    local = lambda ms: [m for m in ms if pattern_word_local(m.pattern, m.regex)]
    wlen, has_claim, ffrags, sfrags, _ = build_word_tables(
        vocab,
        local(filters),
        local(searches),
        want_search=include_search,
        want_combined=False,
    )
    fdisp = _dispatch(vocab, filters, search=False)
    sdisp = _dispatch(vocab, searches, search=True)
    if fdisp or sdisp:
        # empty lines get the full workspace's result: a cross-word
        # filter alone drops the empty line the word-local ones keep
        efs, ess, _ = extract_line_spans(
            "", _matcher_table(filters), _matcher_table(searches), False
        )
        ffrags[-1], sfrags[-1] = tuple(efs), tuple(ess)
    kinds = [("f", _frag_table(ffrags, 2, 3), fdisp)]
    if include_search:
        kinds.append(("s", _frag_table(sfrags, 4, 5), sdisp))
    i32 = pa.int32()
    extra_fields = [
        pa.field(f"{k}_{x}", pa.list_(i32), False)
        for k, _, _ in kinds
        for x in ("start", "end", "id", "row")
    ]
    if include_text:
        extra_fields.append(pa.field("text", pa.string(), False))
    names_added = [f.name for f in extra_fields]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            offs, ids = token_ids(batch.column(tokens_col), nv)
            # word start offsets within each row: global cumsum of
            # (len+1) minus each row's base, vectorized across the batch
            gcum = np.zeros(len(ids) + 1, dtype=np.int64)
            np.cumsum(wlen[ids] + 1, out=gcum[1:])
            line_len = gcum[offs[1:]] - gcum[offs[:-1]] - 1
            # -1 for a row with no tokens, 0 for one empty word
            empty = line_len <= 0
            hit = np.flatnonzero(has_claim[ids])
            hit_row = np.searchsorted(offs, hit, side="right") - 1
            hit_start = gcum[hit] - gcum[offs[hit_row]]
            text = join_tokens(words, offs, ids) if include_text else None

            cols = list(batch.columns)
            for _, ft, d in kinds:
                located = (ids, hit, hit_row, hit_start, line_len, empty)
                spans = _span_columns(ft, *located)
                rows = d.rows(offs, ids, empty) if d else ()
                if len(rows):
                    if text is not None:
                        texts = text.take(pa.array(rows))
                    else:
                        sub, idx = _ragged_take(offs, rows)
                        texts = join_tokens(words, sub, ids[idx])
                    start = spans if d.prefix is None else _span_columns(d.prefix, *located)
                    spans = _stitch(
                        *spans, rows, *_rescanned(d, texts.to_pylist(), rows, start)
                    )
                cols += _list_columns(*spans)
            if include_text:
                cols.append(text)
            yield pa.RecordBatch.from_arrays(
                cols, names=list(batch.schema.names) + names_added
            )

    return fn, extra_fields
