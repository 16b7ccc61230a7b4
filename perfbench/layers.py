"""Tracing and per-layer probes for the traced run.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions: name, start, end and parent, kept in memory and
written once at exit. A layer's self time is its span minus its child spans.

Probes that import an internal entry point (`make_arrow_span_mapper`,
`make_fused_extractor`, ...) record their metric as absent, with the reason,
when the entry point is gone, so a design change that deletes one does not
break the end-to-end metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from typing import Callable, Dict, Iterator, List

# Spark's default spark.sql.execution.arrow.maxRecordsPerBatch: the probes
# feed the kernels batches of the size they get inside a Spark task.
ARROW_BATCH_ROWS = 10_000
SLICE_ROWS = 20_000
PROBE_REPS = 3


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self.notes: Dict[str, List[float]] = {}
        self._stack: List[int] = []

    def span(self, name: str):
        return self._record(name) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def _record(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        root = self.spans[parent]["root"] if parent is not None else idx
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "root": root}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def note(self, name: str, value: float) -> None:
        """A count recorded at a layer boundary."""
        if self.enabled:
            self.notes.setdefault(name, []).append(value)

    def per_root(self, root_name: str, name: str, *, self_time: bool) -> List[float]:
        """For each root span called `root_name`, the summed (self) time of
        its descendant spans called `name`."""
        child_time: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out = []
        for i, r in enumerate(self.spans):
            if r["parent"] is not None or r["name"] != root_name:
                continue
            total = 0.0
            for j, s in enumerate(self.spans):
                if s["root"] == i and s["name"] == name:
                    d = s["end"] - s["start"]
                    total += d - child_time.get(j, 0.0) if self_time else d
            out.append(total)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "notes": self.notes, **extra}, fh)


class Probes:
    """Collects per-layer metrics; an entry point that no longer exists
    marks its metric absent with the reason."""

    def __init__(self) -> None:
        self.metrics: Dict[str, tuple] = {}
        self.absent: Dict[str, str] = {}

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def attempt(self, names: List[str], fn: Callable[[], None]) -> None:
        try:
            fn()
        except ImportError as e:
            for n in names:
                self.absent[n] = f"entry point gone: {type(e).__name__}: {e}"


def _median_time(fn: Callable[[], object], reps: int = PROBE_REPS) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _last(fn: Callable[[], object], sink: list) -> Callable[[], None]:
    """`fn` wrapped to keep its latest result in `sink[0]`."""

    def run() -> None:
        sink[:] = [fn()]

    return run


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spark_layer_probes(spark, fx, ws, vocab, probes: Probes) -> None:
    """sources / token_prefilter / span-stage probes over the workload input."""
    import pyspark.sql.functions as F

    from txtlogparser_spark.plans.pipeline import LogPipeline

    info = spark.read.parquet(fx.source_info)
    pipe = LogPipeline(spark, ws, vocab, source_info=info)
    seqs = pipe.load_sequences(fx.sequences)

    probes.put("sources.scan_s", _median_time(lambda: _noop(seqs.select("tokens")), 2), "s")
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(fx.sequences)
        for f in files
        if f.endswith(".parquet")
    )
    probes.put("sources.input_mb", size / 1e6, "MB")

    def prefilter() -> None:
        from txtlogparser_spark.functions.token_prefilter import (
            token_survival_prefilter,
        )

        pre = token_survival_prefilter(ws.enabled_filters(), vocab)
        kept = seqs if pre is None else seqs.where(pre)
        probes.put(
            "token_prefilter.s", _median_time(lambda: _noop(kept.select("tokens")), 2), "s"
        )
        counts = seqs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(pre if pre is not None else F.lit(True), 1).otherwise(0)).alias("k"),
        ).first()
        probes.put("token_prefilter.keep_ratio", counts["k"] / counts["n"], "ratio")

    probes.attempt(["token_prefilter.s", "token_prefilter.keep_ratio"], prefilter)
    probes.put(
        "pipeline.span_stage_s", _median_time(lambda: _noop(pipe.run(seqs)), 2), "s"
    )


def kernel_probes(spec, vocab, launcher_ws, generic_ws, session_wss, probes: Probes) -> None:
    """Spark-free probes: each kernel over a fixed slice of the workload
    input, cut into Arrow batches of Spark's default size, in one process."""
    import numpy as np
    import pandas as pd

    from txtlogparser_spark.sources.fixtures import generate_sequences

    table = generate_sequences(spec).slice(0, SLICE_ROWS)
    rows = table.num_rows
    batches = table.to_batches(max_chunksize=ARROW_BATCH_ROWS)
    token_series = [b.column("tokens").to_pandas() for b in batches]
    words = np.asarray(vocab, dtype=object)
    text_series = [pd.Series([" ".join(words[t]) for t in s]) for s in token_series]

    def arrow() -> None:
        from txtlogparser_spark.functions.arrow_spans import make_arrow_span_mapper

        # the launcher's run() defaults: searches and text on
        fn, _ = make_arrow_span_mapper(
            vocab, launcher_ws.enabled_filters(), launcher_ws.enabled_searches(),
            include_search=True, include_text=True,
        )
        out: list = []
        t = _median_time(_last(lambda: list(fn(iter(batches))), out))
        probes.put("arrow_spans.rows_per_s", rows / t, "1/s")
        claims = sum(
            int((b.column(c).flatten().to_numpy() != -1).sum())
            for b in out[0]
            for c in ("f_id", "s_id")
        )
        probes.put("arrow_spans.claims_per_row", claims / rows, "count")

    def fused() -> None:
        from txtlogparser_spark.functions.spans import make_fused_extractor

        udf = make_fused_extractor(
            vocab, generic_ws.enabled_filters(), generic_ws.enabled_searches()
        )
        t = _median_time(lambda: [udf.func(s) for s in token_series])
        probes.put("spans.fused_rows_per_s", rows / t, "1/s")

    def detok() -> None:
        from txtlogparser_spark.functions.detokenize import make_detokenizer

        udf = make_detokenizer(vocab)
        t = _median_time(lambda: [udf.func(s) for s in token_series])
        probes.put("detokenize.rows_per_s", rows / t, "1/s")

    def text_spans() -> None:
        from txtlogparser_spark.functions.spans import make_span_extractor

        udfs = [
            make_span_extractor(w.enabled_filters(), w.enabled_searches())
            for w in session_wss
        ]
        t = _median_time(lambda: [u.func(s) for u in udfs for s in text_series])
        probes.put("spans.text_rows_per_s", rows * len(udfs) / t, "1/s")

    probes.attempt(["arrow_spans.rows_per_s", "arrow_spans.claims_per_row"], arrow)
    probes.attempt(["spans.fused_rows_per_s"], fused)
    probes.attempt(["detokenize.rows_per_s"], detok)
    probes.attempt(["spans.text_rows_per_s"], text_spans)


def sink_stats(sink_dir: str, probes: Probes) -> None:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(sink_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    probes.put("pipeline.sink_files", len(files), "count")
    probes.put("pipeline.sink_mb", sum(os.path.getsize(f) for f in files) / 1e6, "MB")
