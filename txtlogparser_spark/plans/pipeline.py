"""End-to-end pipeline assembly: parse → enrich → route → aggregate.

Declarative plan construction — every stage returns a lazy DataFrame so
Catalyst fuses the whole run into one optimized plan per action (the
reference's pause/resume recompute-coalescing, OutputData.cpp:233-255,
falls out of lazy evaluation for free).

Stage order of the launcher's plan, `run()` (fused, the default):

  scan (source-pruned, column-pruned)          # S2 IN predicate pushed down
    → token survival prefilter (JVM)           # on token ids, before Python
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
    → exact survival filter (JVM exists())     # OR-semantics
    → broadcast enrich (source_rank, payload)  # no fact-table shuffle
    → route tag (CASE)                         # single pass, per-sink writes
  aggregates (partial+final hash agg)          # only (id, count) shuffles
  display page: top-N by (source_rank, line_no) # one TakeOrderedAndProject
                                               # when the sink stores text

`run(fused=False)` (also the streaming and workspace-session chain) is
parsed → enriched → routed: detokenize (Arrow UDF) → coarse text
prefilter (Catalyst) → span UDF → the same survival / enrich / route.

Known divergence, kept deliberately: the detokenizer applies the
reference's \\r line scrub (OutputData.cpp:78-90), so `parsed()` scrubs the
text BEFORE spans are computed, while the fused span stage computes spans
on, and stores, the text as joined, before any scrub. The two paths agree
whenever no vocab word holds a \\r (every generated fixture). Only the
display page corrects for it: `display_text` re-detokenizes, scrub
included, when the vocab holds a \\r.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

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
from txtlogparser_spark.functions.spans import (
    assemble_spans,
    attach_spans,
    make_fused_extractor,
)
from txtlogparser_spark.functions.token_prefilter import token_survival_prefilter
from txtlogparser_spark.operators.aggregate import filter_metrics, search_metrics
from txtlogparser_spark.operators.enrich import (
    enrich_with_sources,
    selected_sources,
)
from txtlogparser_spark.operators.route import (
    filter_predicate,
    route_tag_column,
    survival_prefilter,
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
        salt_buckets: int = 0,
        invalid_regex: str = "reject",
    ) -> None:
        self.spark = spark
        # invalid_regex='match_nothing' admits reference workspaces whose
        # patterns this dialect rejects (they claim no spans at run time,
        # FilterData.cpp:234-237) instead of failing the load
        self.ws = workspace.validate(invalid_regex=invalid_regex)
        self.vocab = list(vocab)
        self.source_info = source_info
        # salted repartition width for hot-source skew (SURVEY.md §4 #2);
        # 0 = rely on AQE skew handling only
        self.salt_buckets = salt_buckets
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

    # ---- stages ----
    def _salted(self, df: DataFrame) -> DataFrame:
        """Explicit skew defusal: spread each hot source over N buckets
        before wide downstream stages while keeping source locality.
        Shared by the fused and non-fused paths so the strategy cannot
        drift between them."""
        if self.salt_buckets > 0:
            df = df.repartition(
                F.col("source"),
                F.pmod(F.xxhash64("doc_id"), F.lit(self.salt_buckets)),
            )
        return df

    def parsed(self, seqs: DataFrame) -> DataFrame:
        """Detokenize + derive line_no from doc_id ('{source}-{line_no:08d}',
        FIXTURES.md §1). Column-pruned: only needed cols pass on."""
        df = self._salted(seqs)
        # long, not int: at the designed 10^12-sequence scale a source
        # can exceed 2^31 lines, and the non-ANSI string->int cast would
        # silently NULL line_no past that (breaking the total order)
        return df.withColumn(
            "line_no",
            F.substring_index("doc_id", "-", -1).cast("long"),
        ).withColumn("text", self._detok(F.col("tokens")))

    def enriched(
        self,
        parsed: DataFrame,
        rank_basis: Optional[DataFrame] = None,
        selected: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Broadcast enrich with source_rank/payload; prune unselected
        sources (S2) before anything expensive.

        `rank_basis` (degenerate no-dim mode only): frame whose sources
        define the rank dim. The fused path enriches AFTER the survival
        filter, so it must pass its PRE-filter frame here — otherwise a
        source whose rows all fail the filters would shift every later
        source's rank and diverge from the non-fused path."""
        if self.source_info is None:
            # degenerate no-dim mode: rank sources lexicographically from a
            # distributed K-row aggregate — no driver-side .collect() on the
            # fact table, no unpartitioned window (windowing.ordered_partition_dim)
            from txtlogparser_spark.operators.windowing import (
                ordered_partition_dim,
            )

            basis = rank_basis if rank_basis is not None else parsed
            ranks = ordered_partition_dim(
                basis.select("source"), "source"
            ).select("source", F.col("_rank").alias("source_rank"))
            return parsed.join(F.broadcast(ranks), "source", "inner")
        return enrich_with_sources(parsed, self.source_info, selected=selected)

    def routed(self, enriched: DataFrame, *, with_search: bool = True) -> DataFrame:
        """Coarse prefilter → span UDF → exact OR-survival → route tag."""
        filters = self.ws.enabled_filters()
        searches = self.ws.enabled_searches() if with_search else []
        pre = survival_prefilter(
            filters, F.col("text"), self.spark, dialect=self.ws.regex_dialect
        )
        df = enriched.where(pre)
        # rlike-based prefilter stays a sound necessary condition under
        # the ecmascript dialect: Java regex semantics are a superset of
        # the emulated ECMA semantics for every translated construct,
        # and Java-invalid patterns fall back to lit(True)
        df = attach_spans(
            df, "text", filters, searches, include_search=with_search,
            dialect=self.ws.regex_dialect,
        )
        if filters:
            df = df.where(filter_predicate(F.col("filter_spans")))
            df = df.withColumn(
                "route", route_tag_column(filters, F.col("filter_spans"))
            )
        else:
            # no enabled filters ⇒ pass-through (OutputData.cpp:323-329)
            df = df.withColumn("route", F.lit(-1))
        return df

    # ---- aggregates (A1-A3) ----
    def filter_counts(self, routed: DataFrame) -> DataFrame:
        return filter_metrics(routed)

    def search_counts(self, routed: DataFrame) -> DataFrame:
        return search_metrics(routed)

    # ---- one-call plan ----
    def span_kernel(self, *, with_search: bool = True) -> SpanKernel:
        """The span kernel `run()` uses for this workspace with its
        default flags, and why (functions/arrow_spans.py::SpanKernel)."""
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
        fused: bool = True,
        token_tables: Optional[bool] = None,
        with_text: bool = True,
        arrow_path: Optional[bool] = None,
        assembled: bool = True,
    ) -> DataFrame:
        """Full plan. `fused=True` (default) uses the scale path:

        token-level JVM prefilter (no detokenize needed to prune)
          → ONE span stage (Arrow)
          → JVM survival / enrich / route.

        The span stage is the one `span_kernel()` names. For a
        dispatchable workspace (python dialect, and every cross-word
        matcher has a space-free required literal) it is the mapInArrow
        kernel (functions/arrow_spans.py): per-word span decompositions of
        the word-local matchers are computed once per vocab word at plan
        build and assembled a whole batch at a time in numpy; only the
        rows holding every literal of some cross-word matcher go through
        the exact text scanner, in the same batch. Any other workspace
        runs the fused detokenize + generic text scanner UDF
        (functions/spans.py) on every row. `token_tables` forces (True) or
        disables (False) the word-table path; None = auto-detect.
        `arrow_path=False` keeps the pandas UDFs: the word-table UDF for an
        all-word-local workspace, else the generic extractor, so
        `token_tables=True` with it raises ValueError on a workspace with
        a cross-word matcher. `arrow_path=True`, `assembled=False` and
        `with_text=False` need a dispatchable workspace with the
        word-table path not disabled, and raise ValueError otherwise. All paths
        produce identical results (tests/test_pipeline_e2e.py vs the
        oracle; test_token_spans.py pins token-table == generic)."""
        if not fused:
            return self.routed(
                self.enriched(self.parsed(seqs)), with_search=with_search
            )
        filters = self.ws.enabled_filters()
        searches = self.ws.enabled_searches() if with_search else []

        df = seqs
        # S2 pruning FIRST: the unselected-source filter is a pushed-down
        # IN predicate on the partition column — it must sit below the
        # salt repartition and the (opaque, push-blocking) Python span
        # stage, or unselected partitions get scanned, shuffled, and
        # span-extracted only to be dropped by the enrich join at the end
        _sel = (
            selected_sources(self.source_info)
            if self.source_info is not None
            else None
        )
        if _sel is not None:
            df = df.where(F.col("source").isin(_sel))
        df = self._salted(df)
        # rank basis for degenerate mode = every parsed row, BEFORE any
        # survival filtering (parity with the non-fused path)
        _rank_basis = df
        tok_pre = token_survival_prefilter(
            filters, self.vocab, dialect=self.ws.regex_dialect
        )
        if tok_pre is not None:
            df = df.where(tok_pre)
        df = df.withColumn(
            "line_no", F.substring_index("doc_id", "-", -1).cast("long")
        )
        from txtlogparser_spark.functions.token_spans import (
            make_token_fused_extractor,
        )

        kernel = self.span_kernel(with_search=with_search)
        if self.ws.regex_dialect != "python" and token_tables:
            # the word-locality gate and per-word span tables analyze
            # Python `re` sre trees; under the ecmascript emulation the
            # generic fused extractor (which compiles via compile_ecma)
            # is the correct path
            raise ValueError(
                "token_tables=True is python-dialect only (the "
                "word-locality gate analyzes Python `re` ASTs); "
                f"workspace dialect is {self.ws.regex_dialect!r}"
            )
        use_tokens = (
            kernel.kind != "generic" if token_tables is None else token_tables
        )
        # why the word-table path cannot run, for the errors below
        why = (
            f"the workspace is not dispatchable ({kernel.reason})"
            if kernel.kind == "generic"
            else "token_tables=False"
            if token_tables is False
            else "arrow_path=False"
        )
        if arrow_path and not use_tokens:
            # loud like token_tables=True / with_text=False: silently
            # falling back to the generic pandas path when the caller
            # FORCED the zero-copy path would hide the reason the
            # request cannot be honored
            raise ValueError(
                "arrow_path=True requires a dispatchable workspace (python "
                "dialect, every cross-word matcher with a space-free "
                f"required literal) and token_tables not disabled; here: "
                f"{why} — drop arrow_path or fix the matchers"
            )
        use_arrow = use_tokens if arrow_path is None else (arrow_path and use_tokens)
        if token_tables and not use_arrow and kernel.kind != "word_table":
            # the pandas word-table UDF has no row dispatch, so it serves
            # only all-word-local workspaces; running the generic
            # extractor instead would ignore the forced flag
            raise ValueError(
                "token_tables=True with arrow_path=False requires every "
                "matcher to be word-local (the pandas word-table UDF has no "
                f"row dispatch); here the span kernel is {kernel.kind!r}"
            )
        if not use_arrow and not assembled:
            # flat f_*/s_* sink columns exist only on the mapInArrow path;
            # silently assembling instead would break flat-sink consumers
            # (e.g. filter_metrics_flat) with a missing-column error later
            raise ValueError(
                "assembled=False requires the mapInArrow path: a "
                "dispatchable workspace, with token_tables and arrow_path "
                f"not disabled; here: {why}"
            )
        if use_arrow:
            # zero-copy batch path: flat span columns appended by
            # mapInArrow, structs assembled JVM-side from top level
            from pyspark.sql.types import (
                ArrayType,
                IntegerType,
                StringType,
                StructField,
                StructType,
            )

            fn, _ = make_arrow_span_mapper(
                self.vocab,
                filters,
                searches,
                include_search=with_search,
                include_text=with_text,
            )
            arr = ArrayType(IntegerType(), False)
            extra = [
                StructField(n, arr, False)
                for n in ("f_start", "f_end", "f_id", "f_row")
            ]
            if with_search:
                extra += [
                    StructField(n, arr, False)
                    for n in ("s_start", "s_end", "s_id", "s_row")
                ]
            if with_text:
                extra.append(StructField("text", StringType(), False))
            out_schema = StructType(list(df.schema.fields) + extra)
            df = df.mapInArrow(fn, out_schema)
            if assembled:
                df = df.withColumn(
                    "filter_spans", assemble_spans("", kind="filter")
                )
                drop = ["f_start", "f_end", "f_id", "f_row"]
                if with_search:
                    df = df.withColumn(
                        "search_spans", assemble_spans("", kind="search")
                    )
                    drop += ["s_start", "s_end", "s_id", "s_row"]
                df = df.drop(*drop)
        else:
            # the pandas token-table UDF has no row dispatch: a
            # dispatched workspace under arrow_path=False takes the
            # generic extractor here
            if use_tokens and kernel.kind == "word_table":
                fused_udf = make_token_fused_extractor(
                    self.vocab,
                    filters,
                    searches,
                    include_search=with_search,
                    # text skippable only on the token path: span offsets
                    # come from the word-length table, no string needed
                    include_text=with_text,
                )
            else:
                if not with_text:
                    # the generic extractor materializes text by nature;
                    # honoring with_text=False silently would change the
                    # sink schema depending on matcher shape
                    raise ValueError(
                        "with_text=False requires the word-table path: a "
                        "dispatchable workspace, with token_tables and "
                        f"arrow_path not disabled; here: {why} — the "
                        "generic extractor always materializes text"
                    )
                fused_udf = make_fused_extractor(
                    self.vocab, filters, searches, include_search=with_search,
                    dialect=self.ws.regex_dialect,
                )
            df = df.withColumn("_flat", fused_udf(F.col("tokens")))
            if with_text:
                df = df.withColumn("text", F.col("_flat.text"))
            df = df.withColumn(
                "filter_spans", assemble_spans("_flat", kind="filter")
            )
            if with_search:
                df = df.withColumn(
                    "search_spans", assemble_spans("_flat", kind="search")
                )
            df = df.drop("_flat")
        flat = use_arrow and not assembled
        if flat:
            from txtlogparser_spark.operators.route import (
                filter_predicate_flat,
                route_tag_flat,
            )
        if filters:
            df = df.where(
                filter_predicate_flat(F.col("f_id"))
                if flat
                else filter_predicate(F.col("filter_spans"))
            )
        df = self.enriched(df, rank_basis=_rank_basis, selected=_sel)
        if filters:
            df = df.withColumn(
                "route",
                route_tag_flat(filters, F.col("f_id"))
                if flat
                else route_tag_column(filters, F.col("filter_spans")),
            )
        else:
            df = df.withColumn("route", F.lit(-1))
        return df

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

        compact=True routes the write through sources/compact.py
        (AQE REBALANCE keyed by the sink partitions + doc_id
        sortWithinPartitions): at production partition counts the plain
        write sprays one file per task per (route, source) — compaction
        collapses that to advisory-sized files with selective row-group
        stats, at the cost of one extra exchange."""
        if compact:
            from txtlogparser_spark.sources.compact import write_compacted

            write_compacted(
                routed,
                f"{out_dir}/routed",
                partition_by=["route", "source"],
                sort_within=["doc_id"],
            )
            return
        (
            routed.write.mode("overwrite")
            .partitionBy("route", "source")
            .parquet(f"{out_dir}/routed")
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
