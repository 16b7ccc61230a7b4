"""Token-level survival prefilter — scan-side pruning WITHOUT detokenizing.

Key scale insight: the corpus is `" ".join(vocab[t])`, so a pattern that
contains no space can only ever match INSIDE a single token's surface
form. That makes the set of candidate token ids for each filter
computable at plan time by scanning the (small) vocabulary once:

    candidates(f) = { id : necessary_literal(f) ⊆ fold(vocab[id]) }

and the survival prefilter becomes a pure-JVM, token-column predicate

    OR_f  arrays_overlap(tokens, candidates(f))

which Catalyst evaluates on the scanned `tokens` column directly — rows
are pruned BEFORE the (Python) detokenize+span stage ever sees them, and
the `text` column never materializes for dropped rows. At 10^12-sequence
scale with selective filters this is the dominant saving.

Fallbacks (correctness first — the prefilter must be a NECESSARY
condition, never dropping a surviving row):
- the literal tested is the longest of `mask_literals(f)`: a filter's
  required literal runs (functions.spans._required_literals) that hold
  no space (a space can match across tokens); none → no token
  prefilter for that filter;
- case-insensitive matching (caseSensitive=False, or an inline (?i))
  compares ASCII-folded words and keeps every non-ASCII word as a
  candidate: re.IGNORECASE folds beyond ASCII (`literal_word_mask`);
  a case-folding regex tests ASCII literals only, for the same reason.
  The row dispatch of functions/arrow_spans.py uses the same two
  functions, so one rule decides what a word mask can test;
- any filter without a candidate set → the whole OR is indeterminate →
  prefilter disabled (a row might survive via that filter).

Reference: the predicate semantics being approximated are
FilterData.cpp:110-238; this stage only prunes, the exact span UDF still
decides survival.
"""

from __future__ import annotations

import re
from typing import List, Optional, Sequence, Tuple

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column

from txtlogparser_spark.config import FilterSpec, MatcherSpec
from txtlogparser_spark.functions.detokenize import UNK
from txtlogparser_spark.functions.spans import _ASCII_LOWER, _required_literals


def folds_case(m: MatcherSpec) -> bool:
    """Does matcher `m` compare case-insensitively? caseSensitive=False,
    or an inline (?i) in a regex pattern."""
    creg = m.compiled()
    return not m.caseSensitive or bool(creg is not None and creg.flags & re.IGNORECASE)


def literal_word_mask(lit: str, words: Sequence[str], fold: bool) -> np.ndarray:
    """Per word: can the word hold `lit`? A folded mask compares
    ASCII-lowered text and counts every non-ASCII word as a hit, since
    re.IGNORECASE folds beyond ASCII (Kelvin sign K ~ k, long s ~ s)."""
    if not fold:
        return np.fromiter((lit in w for w in words), bool, len(words))
    lit = lit.translate(_ASCII_LOWER)
    return np.fromiter(
        (not w.isascii() or lit in w.translate(_ASCII_LOWER) for w in words),
        bool,
        len(words),
    )


def mask_literals(m: MatcherSpec) -> Tuple[str, ...]:
    """The required literals of matcher `m` that a word mask
    (`literal_word_mask`) can test soundly, in pattern order: non-empty
    ones with no space (each occurrence then lies inside one word), and
    for a case-folding regex only ASCII ones (re.IGNORECASE folds a
    non-ASCII literal such as the long s onto ASCII words). Python
    dialect: regex literals come from the compiled `re` pattern."""
    if m.regex:
        lits = _required_literals(m.compiled().pattern)
        ascii_only = folds_case(m)
    else:
        lits, ascii_only = [m.pattern], False
    return tuple(
        dict.fromkeys(
            lit
            for lit in lits
            if lit and " " not in lit and (lit.isascii() or not ascii_only)
        )
    )


def candidate_token_ids(
    f: FilterSpec, vocab: Sequence[str], dialect: str = "python"
) -> Optional[List[int]]:
    """Token ids whose surface form could participate in a match of
    filter `f`, or None when no sound token-level necessary condition
    exists."""
    if f.regex and dialect != "python":
        # mask_literals parses with Python `re` semantics; under the
        # ecmascript emulation the same pattern can match different
        # strings (identity escapes, literal braces), so no sound
        # token-level condition is derivable here
        return None
    lit = max(mask_literals(f), key=len, default="")
    if not lit:
        return None
    mask = literal_word_mask(lit, list(vocab) + [UNK], folds_case(f))
    if mask[-1]:
        return None  # out-of-range ids render as UNK; can't prune soundly
    return np.flatnonzero(mask[:-1]).tolist()


def token_survival_prefilter(
    filters: Sequence[FilterSpec],
    vocab: Sequence[str],
    tokens_col: str = "tokens",
    dialect: str = "python",
) -> Optional[Column]:
    """JVM-only necessary condition for OR-survival over the tokens column,
    or None when any enabled filter lacks a sound candidate set."""
    enabled = [f for f in filters if f.enabled]
    if not enabled:
        return None
    conds = []
    for f in enabled:
        cands = candidate_token_ids(f, vocab, dialect)
        if cands is None:
            return None
        if not cands:
            # filter can never match any vocab word; it can still match
            # nothing — contributes FALSE to the OR
            conds.append(F.lit(False))
            continue
        conds.append(
            F.arrays_overlap(
                F.col(tokens_col),
                F.lit(cands).cast("array<int>"),
            )
        )
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out
