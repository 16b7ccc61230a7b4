"""End-to-end pipeline assembly: scan → span stage → enrich → route → aggregate.

Declarative plan construction — every stage returns a lazy DataFrame so
Catalyst fuses the whole run into one optimized plan per action (the
reference's pause/resume recompute-coalescing, OutputData.cpp:233-255,
falls out of lazy evaluation for free).

`LogPipeline.run` is the one plan. The workspace session
(plans/session.py) and the stream (streaming/stream.py) run it too. It is
`route(scan(seqs))`, split where the plan stops depending on the
workspace:

  scan():  scan (source-pruned, column-pruned) # S2 IN predicate pushed down
           + line_no from doc_id
  route(): token survival prefilter (JVM)      # on token ids, before Python
    → ONE span stage (Arrow, the only Python stage), per span_kernel():
        word_table (every matcher word-local,  mapInArrow word-table kernel
          python dialect):                     (functions/arrow_spans.py)
        dispatched (each cross-word matcher    the same mapInArrow kernel;
          has a space-free required literal):  rows holding every literal
                                               of some cross-word matcher
                                               go to the exact text
                                               scanner in the same batch
        generic (otherwise, incl. ecmascript): fused detokenize + generic
                                               text scanner (spans.py)
    → exact survival filter (JVM exists())     # OR-semantics, on f_id
    → broadcast enrich (source_rank, payload)  # no fact-table shuffle
    → route tag (CASE over f_id)               # single pass, per-route sink
  sink: partitionBy(route)                     # one file per route per task
  aggregates over f_id / s_id                  # only (id, count) shuffles
  display page: top-N by (source_rank, line_no) # one TakeOrderedAndProject
                                               # when the sink stores text

Spans are carried in ONE shape everywhere: the flat int-list columns
f_start/f_end/f_id/f_row (and s_* when searches are on), one entry per
span, -1 for an unclaimed id. Both kernels emit them, the sink stores
them, and the aggregates read f_id/s_id alone. The reference's span
structs are a read-side view: `functions/spans.py::assemble_spans("",
kind=...)` rebuilds them from the flat columns of any routed frame or
sink.

One divergence from the reference, kept deliberately: its \\r line scrub
(OutputData.cpp:78-90). Spans are computed on, and `text` stores, the line
as joined from the vocab, before any scrub; `display_text` applies the
scrub when it renders a page. sources/textlog.py scrubs lines at ingest,
so only an externally supplied vocab can hold a \\r; on any other vocab
the two agree.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from txtlogparser_spark.config import WorkspaceConfig
from txtlogparser_spark.functions.arrow_spans import (
    SpanKernel,
    make_arrow_span_mapper,
    span_kernel,
)
from txtlogparser_spark.functions.detokenize import (
    has_carriage_return,
    make_detokenizer,
)
from txtlogparser_spark.functions.spans import make_fused_extractor
from txtlogparser_spark.functions.token_prefilter import token_survival_prefilter
from txtlogparser_spark.operators.aggregate import (
    filter_metrics_flat,
    search_metrics_flat,
)
from txtlogparser_spark.operators.enrich import (
    enrich_with_sources,
    selected_sources,
)
from txtlogparser_spark.operators.route import filter_predicate_flat, route_tag_flat


def scan(seqs: DataFrame, selected: Optional[Sequence[str]] = None) -> DataFrame:
    """The workspace-independent head of `LogPipeline.run`.

    S2 pruning comes first: keeping only the `selected` sources
    (operators/enrich.py::selected_sources) is a pushed-down IN predicate
    on the partition column, so it sits below the (opaque, push-blocking)
    Python span stage and unselected partitions are never scanned or
    span-extracted. line_no comes from doc_id ('{source}-{line_no:08d}',
    FIXTURES.md §1)."""
    if selected is not None:
        seqs = seqs.where(F.col("source").isin(selected))
    # long, not int: at the designed 10^12-sequence scale a source can
    # exceed 2^31 lines, and the non-ANSI string->int cast would silently
    # NULL line_no past that (breaking the total order)
    return seqs.withColumn(
        "line_no", F.substring_index("doc_id", "-", -1).cast("long")
    )


class LogPipeline:
    """One workspace config bound to a SparkSession — the run-config analog
    of WorkspaceData (WorkspaceData.h:21-106)."""

    def __init__(
        self,
        spark: SparkSession,
        workspace: WorkspaceConfig,
        vocab: Sequence[str],
        source_info: Optional[DataFrame] = None,
        *,
        invalid_regex: str = "reject",
    ) -> None:
        self.spark = spark
        # invalid_regex='match_nothing' admits reference workspaces whose
        # patterns this dialect rejects (they claim no spans at run time,
        # FilterData.cpp:234-237) instead of failing the load
        self.ws = workspace.validate(invalid_regex=invalid_regex)
        self.vocab = list(vocab)
        self.source_info = source_info
        self._detok = make_detokenizer(self.vocab)
        # stored text equals the detokenizer's output unless its \r
        # scrub can change it (see the module docstring)
        self._text_is_detokenized = not has_carriage_return(self.vocab)

    # ---- sources ----
    def load_sequences(self, path: str) -> DataFrame:
        """Read the sequences table. Parquet dataset partitioned by source
        (Iceberg-compatible layout); Catalyst prunes partitions when a
        source predicate is present."""
        return self.spark.read.parquet(path)

    # ---- aggregates (A1-A3) ----
    def filter_counts(self, routed: DataFrame) -> DataFrame:
        return filter_metrics_flat(routed)

    def search_counts(self, routed: DataFrame) -> DataFrame:
        return search_metrics_flat(routed)

    # ---- the plan ----
    def span_kernel(self, *, with_search: bool = True) -> SpanKernel:
        """The span kernel `run()` uses for this workspace, and why
        (functions/arrow_spans.py::SpanKernel)."""
        return span_kernel(
            self.ws.enabled_filters(),
            self.ws.enabled_searches() if with_search else [],
            self.ws.regex_dialect,
        )

    def run(
        self,
        seqs: DataFrame,
        *,
        with_search: bool = True,
        with_text: bool = True,
    ) -> DataFrame:
        """The full plan, `route(scan(seqs))` (see the module docstring)."""
        selected = (
            selected_sources(self.source_info)
            if self.source_info is not None
            else None
        )
        return self.route(
            scan(seqs, selected),
            selected=selected,
            with_search=with_search,
            with_text=with_text,
        )

    def route(
        self,
        scanned: DataFrame,
        *,
        with_search: bool = True,
        with_text: bool = True,
        selected: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """The workspace part of `run()`, over a frame `scan()` built with
        this pipeline's source_info. `selected` is the source list `scan()`
        kept; passing it spares the enrich a second collect of the dim.

        token-level JVM prefilter (no detokenize needed to prune)
          → ONE span stage (Arrow), the one `span_kernel()` names
          → JVM survival / enrich / route.

        The mapInArrow kernel (functions/arrow_spans.py) serves word_table
        and dispatched workspaces: per-word span decompositions of the
        word-local matchers are computed once per vocab word at plan build
        and assembled a whole batch at a time in numpy; only the rows
        holding every literal of some cross-word matcher go through the
        exact text scanner, in the same batch. A generic workspace runs
        the fused detokenize + text scanner UDF (functions/spans.py) on
        every row.

        Both kernels emit the same columns: the scanned ones, the flat
        f_*/s_* span lists and, unless `with_text=False`, `text`."""
        filters = self.ws.enabled_filters()
        searches = self.ws.enabled_searches() if with_search else []
        df = scanned
        tok_pre = token_survival_prefilter(
            filters, self.vocab, dialect=self.ws.regex_dialect
        )
        if tok_pre is not None:
            df = df.where(tok_pre)
        flat_cols = ["f_start", "f_end", "f_id", "f_row"]
        if with_search:
            flat_cols += ["s_start", "s_end", "s_id", "s_row"]
        if self.span_kernel(with_search=with_search).kind == "generic":
            fused_udf = make_fused_extractor(
                self.vocab, filters, searches, include_search=with_search,
                dialect=self.ws.regex_dialect,
            )
            out = flat_cols + (["text"] if with_text else [])
            df = df.withColumn("_flat", fused_udf(F.col("tokens")))
            df = df.select(
                "*", *[F.col(f"_flat.{c}").alias(c) for c in out]
            ).drop("_flat")
        else:
            # zero-copy batch path: flat span columns appended by mapInArrow
            fn, _ = make_arrow_span_mapper(
                self.vocab,
                filters,
                searches,
                include_search=with_search,
                include_text=with_text,
            )
            arr = ArrayType(IntegerType(), False)
            extra = [StructField(n, arr, False) for n in flat_cols]
            if with_text:
                extra.append(StructField("text", StringType(), False))
            df = df.mapInArrow(fn, StructType(list(df.schema.fields) + extra))
        if filters:
            df = df.where(filter_predicate_flat(F.col("f_id")))
        df = self._enriched(df, scanned, selected)
        if filters:
            df = df.withColumn("route", route_tag_flat(filters, F.col("f_id")))
        else:
            # no enabled filters ⇒ pass-through (OutputData.cpp:323-329)
            df = df.withColumn("route", F.lit(-1))
        return df

    def _enriched(
        self,
        df: DataFrame,
        scanned: DataFrame,
        selected: Optional[Sequence[str]],
    ) -> DataFrame:
        """Broadcast enrich with source_rank/payload."""
        if self.source_info is None:
            # degenerate no-dim mode: rank sources lexicographically from a
            # distributed K-row aggregate — no .collect() of the fact
            # table, no unpartitioned window. The enrich runs after
            # the survival filter, so the rank dim comes from the
            # pre-filter `scanned` frame: a source whose rows all fail the
            # filters still holds its rank slot.
            from txtlogparser_spark.operators.windowing import (
                ordered_partition_dim,
            )

            ranks = ordered_partition_dim(
                scanned.select("source"), "source"
            ).select("source", F.col("_rank").alias("source_rank"))
            return df.join(F.broadcast(ranks), "source", "inner")
        return enrich_with_sources(df, self.source_info, selected=selected)

    def display_text(self, df: DataFrame) -> DataFrame:
        """`text` for a (page-sized) slice — the render-on-demand analog
        of OutputData.cpp:504-524.

        A frame that already carries `text` (a sink written by `run()`
        with with_text=True) is returned unchanged when no vocab word
        holds a \\r: the stored text is then by construction the
        detokenizer's output, and a sorted page stays one JVM
        TakeOrderedAndProject with no Python stage. Otherwise — a sink
        written with with_text=False, or a vocab whose \\r the scrub can
        change — `text` is rebuilt from `tokens` by the detokenizer."""
        if "text" in df.columns and self._text_is_detokenized:
            return df
        return df.withColumn("text", self._detok(F.col("tokens")))

    def write_sinks(
        self, routed: DataFrame, out_dir: str, compact: bool = False
    ) -> None:
        """Fan-out: ONE pass writes every route's sink via partitioned write
        (no per-filter re-scan); per-row invariant columns ride along.

        The sink is partitioned by `route` alone, one `route=<id>`
        directory per route, and stores `run()`'s columns: the flat
        f_*/s_* span lists, not span structs. Nothing reads a sink by
        source (S2 source pruning acts on the input table), and a
        `(route, source)` layout multiplies the files a write opens and
        the counts re-read by the number of sources.

        compact=True routes the write through sources/compact.py
        (AQE REBALANCE keyed by route + doc_id sortWithinPartitions): at
        production partition counts the plain write sprays one file per
        task per route — compaction collapses that to advisory-sized
        files with selective row-group stats, at the cost of one extra
        exchange."""
        if compact:
            from txtlogparser_spark.sources.compact import write_compacted

            write_compacted(
                routed,
                f"{out_dir}/routed",
                partition_by=["route"],
                sort_within=["doc_id"],
            )
            return
        routed.write.mode("overwrite").partitionBy("route").parquet(
            f"{out_dir}/routed"
        )

    def write_sharded(
        self, routed: DataFrame, out_dir: str, n_shards: int
    ) -> None:
        """Trainer-facing sink: the routed sequences as `n_shards`
        token-balanced shard directories (operators/packing.py::
        shard_plan — shard totals within one max sequence length of
        ideal, each shard a contiguous slice of the deterministic hash
        order). One file per shard: repartition on the shard id +
        sortWithinPartitions(tok_before) so a reader walking shard 0..N
        replays the exact shuffled stream. The balance property is what
        a data-parallel loader needs — equal tokens per worker, not
        equal files — and it is deterministic across runs and cluster
        sizes (same argument as epoch_shuffle)."""
        from txtlogparser_spark.operators.packing import shard_plan

        planned = shard_plan(
            routed, n_shards, key="doc_id", len_col="n_tok"
        )
        (
            planned.repartition(int(n_shards), "shard")
            .sortWithinPartitions("tok_before")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(f"{out_dir}/shards")
        )
