"""Token-table span extraction — the vocabulary-precompute fast path.

The generic extractor (functions/spans.py) scans every line's characters.
But the input is PRE-TOKENIZED over a finite vocabulary (BASELINE.json
input_hint), and when every matcher is *word-local* — its pattern can
never match a string containing the separator, and it uses no anchors or
lookarounds — matching decomposes per token:

- a candidate match always lies inside a single vocabulary word;
- the greedy non-overlapping scan (FilterData.cpp:110-159) never carries
  scan position across a separator: after a candidate at `pos`,
  `pos + len(pat)` still lies within the same word, so every word is
  entered "fresh";
- whole-word boundary checks at word edges see the separator (non-alnum,
  same as the isolated-segment edge, FilterData.cpp:126-128), and regex
  `\\b` sees a space — identical to the isolated-word result;
- first-match-wins claiming (OutputData.cpp:296-307) splits segments only
  inside words that contain claims, which the per-word precompute
  reproduces by running the full ordered matcher list on each word.

Therefore the whole line's span decomposition is the concatenation of
per-word precomputed decompositions (offset-shifted), with unclaimed
regions — word gaps plus separators — merged into single spans exactly as
the whole-line scan produces them.

Cost model at 10^12-sequence scale: the per-character work collapses to
ONE pass over the 4K-word vocabulary at plan-build time; per row there
remains a numpy gather (word lengths, claim masks) and a Python loop only
over the words that actually contain claims (typically a small fraction).
Equality with the whole-line extractor — and hence with the pure-Python
oracle port of the reference — is pinned by tests/test_token_spans.py
including hypothesis property tests over random workspaces and token
sequences.
"""

from __future__ import annotations

import re
from typing import List, Sequence, Tuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from txtlogparser_spark.config import FilterSpec, SearchSpec
from txtlogparser_spark.functions.detokenize import UNK
from txtlogparser_spark.functions.spans import (
    _matcher_table,
    extract_line_spans,
)

# ---------------------------------------------------------------- gating

# Word-locality is decided on the PARSED regex tree (sre_parse), not the
# pattern text: textual scans miss e.g. ranges spanning 0x20 ('[\x1f-\x21]')
# or the ' ' escape, silently enabling the fast path for matchers
# that can match the separator. The tree walk whitelists node kinds it
# understands and rejects everything else — the generic extractor is
# always correct, so false negatives only cost speed.


def _class_contains_space(items) -> bool:
    """Can this character class ([...] / \\d / \\S ...) match 0x20?
    Conservative: unknown constructs count as yes."""
    negate = any(str(op) == "NEGATE" for op, _ in items)
    positive = False
    for op, arg in items:
        k = str(op)
        if k == "NEGATE":
            continue
        if k == "LITERAL":
            positive = positive or arg == 0x20
        elif k == "RANGE":
            positive = positive or (arg[0] <= 0x20 <= arg[1])
        elif k == "CATEGORY":
            cat = str(arg)
            if cat in ("CATEGORY_WORD", "CATEGORY_DIGIT", "CATEGORY_NOT_SPACE"):
                pass  # cannot match 0x20
            elif cat in (
                "CATEGORY_SPACE",
                "CATEGORY_NOT_WORD",
                "CATEGORY_NOT_DIGIT",
            ):
                positive = True
            else:
                return True  # unknown category: conservative
        else:
            return True  # unknown class item: conservative
    return (not positive) if negate else positive


def _word_local_nodes(items) -> bool:
    """Walk a parsed subpattern: False if any construct could match the
    separator, see line-level context (anchors, lookarounds, dot,
    backrefs), or is unrecognized."""
    for op, arg in items:
        k = str(op)
        if k == "LITERAL":
            if arg == 0x20:
                return False
        elif k == "NOT_LITERAL":
            if arg != 0x20:
                return False  # matches every char but one ⇒ matches space
        elif k == "IN":
            if _class_contains_space(arg):
                return False
        elif k == "BRANCH":
            if not all(_word_local_nodes(br) for br in arg[1]):
                return False
        elif k == "SUBPATTERN":
            if not _word_local_nodes(arg[3]):
                return False
        elif k in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
            if not _word_local_nodes(arg[2]):
                return False
        elif k == "ATOMIC_GROUP":
            if not _word_local_nodes(arg):
                return False
        elif k == "AT":
            # \b/\B are word-local: the separator and the word edge are
            # both non-word, so boundary status inside one word is
            # identical whether the word is seen isolated or in the line.
            # Line anchors (^ $ \A \Z) are not.
            if str(arg) not in ("AT_BOUNDARY", "AT_NON_BOUNDARY"):
                return False
        else:
            # ASSERT/ASSERT_NOT (lookarounds), ANY (dot), GROUPREF
            # (backrefs), anything new: not word-local
            return False
    return True


def pattern_word_local(pattern: str, is_regex: bool) -> bool:
    """True when every possible match of `pattern` lies within one
    separator-delimited word and needs no context beyond it."""
    if not is_regex:
        return " " not in pattern
    try:
        creg = re.compile(pattern)
        # empty-length matches can be positioned AT a separator, which
        # belongs to no word; with anchors/lookarounds excluded the
        # pattern is context-free, so "can match empty anywhere" ⇔
        # fullmatch("")
        if creg.fullmatch(""):
            return False
        from re import _parser  # CPython internal, guarded

        items = _parser.parse(pattern)
    except Exception:
        return False  # invalid regex / no parser: never enable fast path
    return _word_local_nodes(items)


def matchers_word_local(
    filters: Sequence[FilterSpec], searches: Sequence[SearchSpec]
) -> bool:
    return all(
        pattern_word_local(m.pattern, m.regex) for m in [*filters, *searches]
    )


# ---------------------------------------------------------------- tables


def build_word_tables(
    vocab: Sequence[str],
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec],
    *,
    want_search: bool,
    want_combined: bool,
):
    """Run the exact per-line extractor once per vocabulary word.

    Returns (wlen, has_claim, ffrags, sfrags, cfrags) where wlen/has_claim
    are numpy arrays indexed by word id (second-to-last slot = <unk>) and
    *frags are object arrays of tuples of CLAIMED spans (word-relative
    offsets); unclaimed gaps are reconstructed during assembly.

    The LAST slot of every array is the EMPTY-LINE SENTINEL: ids never
    reference it (out-of-range ids map to the <unk> slot before it), and
    unlike the per-word slots its frag entries hold the FULL span lists
    of `extract_line_spans("")` (absolute 6-tuples, possibly empty —
    reference semantics: the empty line vanishes after the first
    non-claiming filter, FilterData.cpp:154-159/221-229, while a
    zero-width regex as the first filter claims it). spans_for_ids and
    the arrow mapper return it verbatim for rows whose text is "" (no
    tokens, or one empty vocab word) so the fast path agrees with the
    generic extractor on empty lines.
    """
    ftab = _matcher_table(filters)
    stab = _matcher_table(searches) if want_search else []

    words = list(vocab) + [UNK]
    nv = len(words)
    wlen = np.zeros(nv + 1, dtype=np.int64)
    has_claim = np.zeros(nv + 1, dtype=bool)
    ffrags = np.empty(nv + 1, dtype=object)
    sfrags = np.empty(nv + 1, dtype=object)
    cfrags = np.empty(nv + 1, dtype=object)

    efs, ess, ecs = extract_line_spans("", ftab, stab, want_combined)
    ffrags[nv] = tuple(efs)
    sfrags[nv] = tuple(ess)
    cfrags[nv] = tuple(ecs) if want_combined else ((0, 0, -1, -1, -1, -1),)

    for i, w in enumerate(words):
        wlen[i] = len(w)
        fs, ss, cs = extract_line_spans(w, ftab, stab, want_combined)
        fc = tuple(sp for sp in fs if sp[2] != -1)
        sc = tuple(sp for sp in ss if sp[4] != -1) if want_search else ()
        cc = (
            tuple(sp for sp in cs if sp[2] != -1 or sp[4] != -1)
            if want_combined
            else ()
        )
        ffrags[i] = fc
        sfrags[i] = sc
        cfrags[i] = cc
        if fc or sc or cc:
            has_claim[i] = True

    return wlen, has_claim, ffrags, sfrags, cfrags


# ---------------------------------------------------------------- assembly


def _assemble(
    hit_pos: np.ndarray,
    starts: np.ndarray,
    frags: np.ndarray,
    ids: np.ndarray,
    n: int,
    fill: Tuple[int, int, int, int],
) -> List[tuple]:
    """Concatenate claimed per-word fragments into the full line
    decomposition, emitting merged unclaimed gaps between claims —
    byte-identical to the whole-line scan's alternating span list."""
    out: List[tuple] = []
    unclaimed_from = 0
    for p in hit_pos:
        base = starts[p]
        for sp in frags[ids[p]]:
            s = base + sp[0]
            e = base + sp[1]
            if s > unclaimed_from:
                out.append((unclaimed_from, s) + fill)
            out.append((s, e) + sp[2:])
            unclaimed_from = e
    if unclaimed_from < n or not out:
        out.append((unclaimed_from, n) + fill)
    return out


_FILL = (-1, -1, -1, -1)

_EMPTY_SPAN = [(0, 0, -1, -1, -1, -1)]


def spans_for_ids(
    ids: np.ndarray,
    wlen: np.ndarray,
    has_claim: np.ndarray,
    ffrags: np.ndarray,
    sfrags: np.ndarray,
    cfrags: np.ndarray,
    *,
    want_search: bool,
    want_combined: bool,
):
    """Pure per-row computation: token ids (already mapped into table
    range) → (filter_spans, search_spans, combined_spans). Testable
    off-cluster against extract_line_spans on the joined text."""
    lens = wlen[ids]
    k = len(ids)
    n = int(lens.sum()) + (k - 1)
    if n <= 0:
        # empty line (no tokens, or one empty vocab word) → the
        # empty-line sentinel (last table slot): the precomputed
        # extract_line_spans("") result for this matcher set — an empty
        # list when a non-claiming filter exists (the reference drops the
        # empty subline), a claimed (0,0) span when a zero-width regex is
        # the first filter. NOT the old synthetic whole-line span.
        return list(ffrags[-1]), list(sfrags[-1]), list(cfrags[-1])
    hmask = has_claim[ids]
    if not hmask.any():
        whole = [(0, n, -1, -1, -1, -1)]
        return whole, whole, whole
    starts = np.empty(k, dtype=np.int64)
    starts[0] = 0
    np.cumsum(lens[:-1] + 1, out=starts[1:])
    hit_pos = np.nonzero(hmask)[0]
    fs = _assemble(hit_pos, starts, ffrags, ids, n, _FILL)
    ss = (
        _assemble(hit_pos, starts, sfrags, ids, n, _FILL)
        if want_search
        else _EMPTY_SPAN
    )
    cs = (
        _assemble(hit_pos, starts, cfrags, ids, n, _FILL)
        if want_combined
        else _EMPTY_SPAN
    )
    return fs, ss, cs


def make_token_fused_extractor(
    vocab: Sequence[str],
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec] = (),
    *,
    include_search: bool = True,
    include_combined: bool = False,
    include_text: bool = True,
    sep: str = " ",
):
    """Drop-in replacement for spans.make_fused_extractor (same output
    schema) using the vocabulary precompute. Caller must have checked
    matchers_word_local(); sep must be the single-space separator the
    word-locality argument relies on.

    `include_text=False` skips detokenized-string materialization
    entirely (span offsets derive from the word-length table, not the
    string): at 10^12-sequence scale the routed sink stores tokens +
    spans — the per-row invariant is token-array equality — and text is
    reconstructed only for the display page, mirroring the reference's
    render-on-demand window (OutputData.cpp:504-524)."""
    assert sep == " ", "token fast path assumes single-space separator"

    table = np.asarray(list(vocab) + [UNK], dtype=object)
    nv = len(vocab)
    wlen, has_claim, ffrags, sfrags, cfrags = build_word_tables(
        vocab,
        [f for f in sorted(filters, key=lambda m: m.row) if f.enabled],
        [s for s in sorted(searches, key=lambda m: m.row) if s.enabled],
        want_search=include_search,
        want_combined=include_combined,
    )
    # empty-line sentinel (see build_word_tables): reference semantics
    # for len(tokens)==0 rows, shared with the None-tokens branch
    empty_fs = list(ffrags[-1])
    empty_ss = list(sfrags[-1])
    empty_cs = list(cfrags[-1])

    arr = ArrayType(IntegerType(), False)
    fields = [StructField("text", StringType(), False)] if include_text else []
    fields += [StructField(f"f_{x}", arr, False) for x in ("start", "end", "id", "row")]
    if include_search:
        fields += [StructField(f"s_{x}", arr, False) for x in ("start", "end", "id", "row")]
    if include_combined:
        fields += [
            StructField(f"c_{x}", arr, False)
            for x in ("start", "end", "fid", "frow", "sid", "srow")
        ]
    out_type = StructType(fields)
    join = sep.join

    def _emit(ap, fs, ss, cs):
        ap["f_start"]([s[0] for s in fs])
        ap["f_end"]([s[1] for s in fs])
        ap["f_id"]([s[2] for s in fs])
        ap["f_row"]([s[3] for s in fs])
        if include_search:
            ap["s_start"]([s[0] for s in ss])
            ap["s_end"]([s[1] for s in ss])
            ap["s_id"]([s[4] for s in ss])
            ap["s_row"]([s[5] for s in ss])
        if include_combined:
            ap["c_start"]([s[0] for s in cs])
            ap["c_end"]([s[1] for s in cs])
            ap["c_fid"]([s[2] for s in cs])
            ap["c_frow"]([s[3] for s in cs])
            ap["c_sid"]([s[4] for s in cs])
            ap["c_srow"]([s[5] for s in cs])

    @F.pandas_udf(out_type)
    def token_fused_udf(tokens: pd.Series) -> pd.DataFrame:
        cols: dict = {f.name: [] for f in fields}
        ap = {k: v.append for k, v in cols.items()}
        for t in tokens:
            if t is None or len(t) == 0:
                if include_text:
                    ap["text"]("")
                _emit(ap, empty_fs, empty_ss, empty_cs)
                continue
            ids = np.asarray(t, dtype=np.int64)
            ids = np.where((ids >= 0) & (ids < nv), ids, nv)  # oob → <unk>
            if include_text:
                ap["text"](join(table[ids]))
            fs, ss, cs = spans_for_ids(
                ids,
                wlen,
                has_claim,
                ffrags,
                sfrags,
                cfrags,
                want_search=include_search,
                want_combined=include_combined,
            )
            _emit(ap, fs, ss, cs)
        return pd.DataFrame(cols)

    # optimizer fence as in make_fused_extractor: stop CollapseProject
    # from duplicating the UDF into each consumer projection
    return token_fused_udf.asNondeterministic()
