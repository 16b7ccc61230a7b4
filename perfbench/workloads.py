"""Workload inputs, passes and correctness checks for the log-pipeline benchmark.

Every pass goes through the public facade only (`LogPipeline`,
`WorkspaceSession`) with the arguments `tools/run_job.py` uses, so the
benchmark measures what the launcher runs. Inputs are generated here from
benchmark-owned specs and a seed; the program under test only sees the
written tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, replace
from typing import Callable, Dict, List, Optional, Tuple

from oracle_counts import PAGE_ROWS, oracle_expectations
from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
from txtlogparser_spark.sources.fixtures import (
    FixtureSpec,
    build_vocab,
    default_workspace,
    write_fixture_tables,
)

VOCAB = build_vocab()

# 16 sources with one hot source holding half the rows, as in the ROADMAP
# bench fixture. Row counts are sized so that a run, with its three cold
# set-ups, fits the benchmark's time budget (see README.md).
BATCH_SPEC = FixtureSpec(n_rows=20_000, n_sources=16, hot_fraction=0.5)
SESSION_SPEC = FixtureSpec(n_rows=10_000, n_sources=16, hot_fraction=0.5)


def launcher_workspace() -> WorkspaceConfig:
    """The workspace `tools/run_job.py` runs without --workspace. All its
    matchers are word-local, so the arrow word-table kernel runs."""
    return default_workspace()


def generic_workspace() -> WorkspaceConfig:
    """The launcher workspace plus one regex that crosses word boundaries:
    the word-local gate fails and the generic text scanner runs."""
    ws = default_workspace()
    return replace(
        ws,
        id=2,
        name="generic-regex",
        filters=list(ws.filters)
        + [FilterSpec(206, 5, "ERROR.*timeout", regex=True, color="#37B027")],
    ).validate()


def single_workspace(pattern: str = "timeout") -> WorkspaceConfig:
    return WorkspaceConfig(
        id=3,
        name="single-filter",
        filters=[FilterSpec(401, 0, pattern, caseSensitive=False, color="#187DCA")],
    ).validate()


def edited_single_workspace() -> WorkspaceConfig:
    """The session cycle's filter edit: the single filter's pattern changes."""
    return single_workspace("retry")


# The session's fixed cycle: (step name, workspace id, edited workspace or None)
SESSION_STEPS: List[Tuple[str, int, Optional[Callable[[], WorkspaceConfig]]]] = [
    ("view", 1, None),
    ("switch_generic", 2, None),
    ("switch_single", 3, None),
    ("edit", 3, edited_single_workspace),
    ("back", 1, None),
]


def session_workspaces() -> List[WorkspaceConfig]:
    return [launcher_workspace(), generic_workspace(), single_workspace()]


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "session"
    spec: FixtureSpec
    # workspaces the oracle must cover, keyed by the name the checks use
    oracle_workspaces: Callable[[], Dict[str, WorkspaceConfig]]


WORKLOADS: Dict[str, Workload] = {
    "batch_hot_wordlocal": Workload(
        "batch_hot_wordlocal",
        "batch",
        BATCH_SPEC,
        lambda: {"batch": launcher_workspace()},
    ),
    "batch_generic_regex": Workload(
        "batch_generic_regex",
        "batch",
        BATCH_SPEC,
        lambda: {"batch": generic_workspace()},
    ),
    # runnable, and run inside every traced batch run, but not listed in
    # BENCHMARK.json: one cycle per run is too noisy (see README.md)
    "session_reroute": Workload(
        "session_reroute",
        "session",
        SESSION_SPEC,
        lambda: {
            **{f"ws{w.id}": w for w in session_workspaces()},
            "ws3_edit": edited_single_workspace(),
        },
    ),
}


# ---- inputs: fixture tables + oracle expectations, cached by (spec, seed) ----


@dataclass(frozen=True)
class Fixture:
    dir: str
    spec: FixtureSpec

    @property
    def sequences(self) -> str:
        return os.path.join(self.dir, "sequences")

    @property
    def source_info(self) -> str:
        return os.path.join(self.dir, "source_info.parquet")


def fixture_for(cache_root: str, spec: FixtureSpec, seed: int) -> Fixture:
    """Generate (once) the tables for `spec` at `seed` under `cache_root`."""
    spec = replace(spec, seed=seed)
    key = hashlib.sha1(json.dumps(asdict(spec), sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(cache_root, f"fx-{spec.n_rows}-seed{seed}-{key}")
    done = os.path.join(d, "_COMPLETE")
    if not os.path.exists(done):
        write_fixture_tables(d, spec)
        open(done, "w").close()
    return Fixture(d, spec)


def expectations_for(workload: Workload, fx: Fixture) -> dict:
    """Oracle expectations beside the fixture, computed once per
    (workload, seed) with the pure-Python oracle, outside every timed region."""
    path = os.path.join(fx.dir, f"expect-{workload.name}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    exp = oracle_expectations(fx.spec, workload.oracle_workspaces())
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(exp, fh)
    os.replace(tmp, path)
    return exp


# ---- passes ----


def _counts(rows, id_col: str) -> Dict[str, List[int]]:
    return {
        str(r[id_col]): [int(r["occurrence_count"]), int(r["line_count"])]
        for r in rows
    }


def _check_counts(want: dict, fc, sc) -> List[str]:
    errs = []
    got_f, got_s = _counts(fc, "filter_id"), _counts(sc, "search_id")
    if got_f != want["filters"]:
        errs.append(f"filter counts {got_f} != oracle {want['filters']}")
    if got_s != want["searches"]:
        errs.append(f"search counts {got_s} != oracle {want['searches']}")
    return errs


class BatchPass:
    """One launcher pass: run → write_sinks → filter/search counts collected
    → top-100 display page collected."""

    def __init__(self, workload: Workload, fx: Fixture, expect: dict, out_dir: str):
        self.ws = workload.oracle_workspaces()["batch"]
        self.fx = fx
        self.want = expect["batch"]
        self.out_dir = out_dir

    def __call__(self, spark, tr) -> dict:
        from txtlogparser_spark.plans.pipeline import LogPipeline

        t0 = time.perf_counter()
        with tr.span("batch_pass"):
            with tr.span("pipeline.plan"):
                info = spark.read.parquet(self.fx.source_info)
                pipe = LogPipeline(spark, self.ws, VOCAB, source_info=info)
                routed = pipe.run(pipe.load_sequences(self.fx.sequences))
            with tr.span("pipeline.write_sinks"):
                pipe.write_sinks(routed, self.out_dir)
            with tr.span("aggregate.counts"):
                sink = spark.read.parquet(self.sink_dir)
                fc = pipe.filter_counts(sink).collect()
                sc = pipe.search_counts(sink).collect()
            t_first = time.perf_counter()
            with tr.span("pipeline.display"):
                page = (
                    pipe.display_text(
                        sink.orderBy("source_rank", "line_no").limit(PAGE_ROWS)
                    )
                    .select("doc_id", "text")
                    .collect()
                )
        t_end = time.perf_counter()
        # untimed: the routed-row count is read back after the clock stops
        errs = _check_counts(self.want, fc, sc)
        n = spark.read.parquet(self.sink_dir).count()
        tr.note("pipeline.rows_routed", n)
        if n != self.want["rows_routed"]:
            errs.append(f"rows_routed {n} != oracle {self.want['rows_routed']}")
        if [r["doc_id"] for r in page] != self.want["page_doc_ids"]:
            errs.append("display page rows differ from the oracle's first 100")
        elif _sha1("\n".join(r["text"] for r in page)) != self.want["page_text_sha1"]:
            errs.append("display page text differs from the oracle")
        return {
            "e2e_s": t_end - t0,
            "first_view_s": t_first - t0,
            "reroute_s": t_end - t_first,
            "errors": errs,
        }

    @property
    def sink_dir(self) -> str:
        return os.path.join(self.out_dir, "routed")


class SessionCycle:
    """Open a WorkspaceSession over three workspaces and run the fixed
    view → switch → switch → edit → back cycle, collecting filter and
    search counts after each step. No sink is written."""

    def __init__(self, fx: Fixture, expect: dict):
        self.fx = fx
        self.want = expect

    def __call__(self, spark, tr) -> dict:
        from txtlogparser_spark.plans.session import WorkspaceSession

        t0 = time.perf_counter()
        seen = []
        with tr.span("session_cycle"):
            with tr.span("session.open"):
                info = spark.read.parquet(self.fx.source_info)
                seqs = spark.read.parquet(self.fx.sequences)
                sess = WorkspaceSession(
                    spark, VOCAB, seqs, session_workspaces(), source_info=info
                )
            if tr.enabled:
                # traced passes only: materialize the parse cache on its own
                # so its cost is separable from the first route
                with tr.span("session.parse_cache"):
                    sess.parsed().count()
                tr.note("session.cache_mb", _cached_mb(spark))
            t_first = None
            for name, ws_id, edited in SESSION_STEPS:
                with tr.span(f"session.step.{name}"):
                    if edited is not None:
                        sess.update_workspace(edited())
                    pipe = sess.set_active(ws_id)
                    routed = sess.routed()
                    with tr.span("aggregate.counts"):
                        fc = pipe.filter_counts(routed).collect()
                        sc = pipe.search_counts(routed).collect()
                if t_first is None:
                    t_first = time.perf_counter()
                want = self.want["ws3_edit" if edited is not None else f"ws{ws_id}"]
                seen.append((name, want, fc, sc))
            with tr.span("session.close"):
                sess.close()
        t_end = time.perf_counter()
        return {
            "e2e_s": t_end - t0,
            "first_view_s": t_first - t0,
            "reroute_s": t_end - t_first,
            "errors": [
                f"{name}: {e}"
                for name, want, fc, sc in seen
                for e in _check_counts(want, fc, sc)
            ],
        }


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _sha1(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()
