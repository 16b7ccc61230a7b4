"""Detokenization: tokens array<int32> → text, vectorized.

The input table stores pre-tokenized sequences (BASELINE.json input_hint);
the matchers operate on text, so the first pipeline stage reconstructs
`text = " ".join(vocab[t])` and applies the reference's line scrub
(OutputData.cpp:78-90: strip trailing \\r, interior \\r → ' ' — a no-op on
generator output by construction, reproduced for parity on arbitrary input).

Two implementations:

- `make_detokenizer(vocab)` — Arrow-batched pandas UDF. This is the scale
  path: the batch is flattened once (`token_ids`) and joined by
  `join_tokens` — one vocab `take` plus `pyarrow.compute.binary_join`,
  no per-row Python. The mapInArrow span kernel
  (functions/arrow_spans.py) builds its `text` column with the same two
  helpers, minus the \\r scrub.
- `detokenize_expr(vocab)` — pure-Catalyst variant via `transform()` +
  `array_join()` over an array literal; stays inside whole-stage codegen
  and is preferable for small vocabularies. For a 4K+ vocab, the literal
  bloats the plan, so the pandas UDF is the default.

Token ids outside [0, len(vocab)) map to the literal "<unk>" in both paths.
"""

from __future__ import annotations

from typing import Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import StringType

UNK = "<unk>"


def vocab_words(vocab: Sequence[str]) -> pa.Array:
    """The vocab as an Arrow string array with <unk> in the last slot, the
    slot `token_ids` maps out-of-range ids onto."""
    return pa.array(list(vocab) + [UNK], type=pa.string())


def has_carriage_return(vocab: Sequence[str]) -> bool:
    """True when some vocab word holds a \\r, i.e. when the detokenizer's
    line scrub can change the joined text."""
    return any("\r" in w for w in vocab if isinstance(w, str))


def token_ids(tokens: pa.Array, nv: int) -> Tuple[np.ndarray, np.ndarray]:
    """Flatten a list<int> array into (offsets, ids), whole-batch.

    offsets (int64, len(tokens) + 1) start at 0 even for a sliced array,
    whose first offset is not 0 and whose `.values` are not sliced. A null
    row becomes an empty row, whatever its offsets span. ids (int64) are
    mapped into [0, nv]: an id outside [0, nv), or a null element, becomes
    nv, the <unk> slot."""
    offs = tokens.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lo = int(offs[0])
    vals = tokens.values.slice(lo, int(offs[-1]) - lo)
    if vals.null_count:
        vals = vals.fill_null(-1)
    ids = vals.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(offs)
    if tokens.null_count:
        valid = tokens.is_valid().to_numpy(zero_copy_only=False)
        ids = ids[np.repeat(valid, lens)]
        lens = np.where(valid, lens, 0)
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    ids[(ids < 0) | (ids >= nv)] = nv
    return offs, ids


def join_tokens(
    words: pa.Array, offsets: np.ndarray, ids: np.ndarray, sep: str = " "
) -> pa.Array:
    """One string per row: the row's words joined by `sep`, an empty row
    giving "". `words` comes from `vocab_words`, (offsets, ids) from
    `token_ids`."""
    parts = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), words.take(pa.array(ids))
    )
    return pc.binary_join(parts, sep)


def make_detokenizer(vocab: Sequence[str], sep: str = " "):
    """Arrow-batched pandas UDF: array<int32> tokens → text."""
    words = vocab_words(vocab)
    n = len(vocab)
    # reference line scrub (OutputData.cpp:78-90); vocab words normally
    # contain no '\r', so it is decided once here and usually skipped
    scrub = has_carriage_return(vocab)

    @F.pandas_udf(StringType())
    def detok(tokens: pd.Series) -> pd.Series:
        # Spark's array<int32> cells arrive as int32 arrays: no cast
        arr = pa.array(tokens, type=pa.list_(pa.int32()))
        s = join_tokens(words, *token_ids(arr, n), sep).to_pandas()
        if scrub:
            s = s.str.replace("\r\n", "\n").str.rstrip("\r").str.replace("\r", " ")
        return s

    return detok


def detokenize_expr(vocab: Sequence[str], tokens_col: str = "tokens") -> Column:
    """Catalyst-only detokenizer: element_at over an array literal inside
    transform(); whole-stage-codegen friendly for small vocabularies."""
    vocab_lit = F.array(*[F.lit(w) for w in vocab])
    n = len(vocab)
    return F.array_join(
        F.transform(
            F.col(tokens_col),
            lambda t: F.when(
                (t >= 0) & (t < F.lit(n)), F.element_at(vocab_lit, t + F.lit(1))
            ).otherwise(F.lit(UNK)),
        ),
        " ",
    )
