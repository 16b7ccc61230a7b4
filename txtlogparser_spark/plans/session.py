"""Multi-workspace lifecycle: the WorkspaceManager analog.

Reference semantics (WorkspaceManager.cpp:192-213 setActiveWorkspace):
workspaces keyed by id, exactly one active; switching deactivates the
previous one, activates the new one, and persists the store. The
reference additionally loads each workspace's file list lazily on
activation.

Spark re-expression of "switching/filter mutation is cheap": the
workspace-independent head of the plan, `plans.pipeline.scan` (the
source-pruned token scan plus line_no), is computed ONCE and
`persist()`ed. Each step runs the rest of `LogPipeline.run`,
`LogPipeline.route` (token prefilter → span stage → survival → enrich →
route), on that cached token frame, so a filter-only change (SURVEY.md
§3.2) re-runs only the workspace's own stages, never the scan. This is
the cached-intermediate analog of the reference keeping loaded lines in
memory across filter mutations (OutputData.cpp:98-110 recompute).

At 100 TB the cache level is `MEMORY_AND_DISK` spill-safe storage; for
truly table-scale inputs, persist the scanned stage as a parquet/Iceberg
intermediate instead (write_sequences) and point sessions at it — the
API is the same either way.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from txtlogparser_spark.config import (
    WorkspaceConfig,
    save_workspaces,
)
from txtlogparser_spark.operators.enrich import selected_sources
from txtlogparser_spark.plans.pipeline import LogPipeline, scan


class WorkspaceSession:
    """Holds N workspaces over ONE input; switching re-routes the cached
    scanned stage instead of re-scanning."""

    def __init__(
        self,
        spark: SparkSession,
        vocab: Sequence[str],
        seqs: DataFrame,
        workspaces: Sequence[WorkspaceConfig],
        *,
        source_info: Optional[DataFrame] = None,
        store_path: Optional[str] = None,
        invalid_regex: str = "reject",
    ) -> None:
        if not workspaces:
            raise ValueError("WorkspaceSession needs at least one workspace")
        ids = [w.id for w in workspaces]
        if len(ids) != len(set(ids)):
            raise ValueError(f"duplicate workspace ids {ids}")
        self.spark = spark
        self.vocab = list(vocab)
        self.seqs = seqs
        self.source_info = source_info
        self.store_path = store_path
        # invalid_regex plumbs through to every validate/pipeline so a
        # session can host reference-compat workspaces loaded with
        # 'match_nothing' (an earlier version always re-validated with
        # the default 'reject', making compat workspaces unusable here)
        self.invalid_regex = invalid_regex
        self.workspaces: Dict[int, WorkspaceConfig] = {
            w.id: w.validate(invalid_regex=invalid_regex) for w in workspaces
        }
        self.active_id: int = -1
        self._parsed: Optional[DataFrame] = None
        self._selected: Optional[list] = None
        self._pipelines: Dict[int, LogPipeline] = {}

    # ---- cached workspace-independent scan stage ----
    def parsed(self) -> DataFrame:
        """`plans.pipeline.scan` of the input, computed once per session
        (persisted; spill-safe). Every workspace's step routes it."""
        if self._parsed is None:
            if self.source_info is not None:
                self._selected = selected_sources(self.source_info)
            self._parsed = scan(self.seqs, self._selected).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        return self._parsed

    # ---- lifecycle (WorkspaceManager.cpp:192-213) ----
    def set_active(self, ws_id: int) -> LogPipeline:
        """Activate `ws_id` (no-op when already active), persist the store
        when configured (the reference saves on every switch), and return
        the workspace's pipeline; `routed()` runs it on the shared
        cached scan."""
        if ws_id not in self.workspaces:
            raise KeyError(f"unknown workspace id {ws_id}")
        if ws_id != self.active_id:
            self.active_id = ws_id
            if self.store_path:
                self.save()
        return self.pipeline(ws_id)

    def active(self) -> Optional[WorkspaceConfig]:
        return self.workspaces.get(self.active_id)

    def pipeline(self, ws_id: int) -> LogPipeline:
        if ws_id not in self._pipelines:
            self._pipelines[ws_id] = LogPipeline(
                self.spark,
                self.workspaces[ws_id],
                self.vocab,
                source_info=self.source_info,
                invalid_regex=self.invalid_regex,
            )
        return self._pipelines[ws_id]

    def routed(self, *, with_search: bool = True) -> DataFrame:
        """Route the CACHED scanned rows under the active workspace: the
        rest of `LogPipeline.run`, so a step runs the same plan as a batch
        run, with no re-scan."""
        if self.active_id == -1:
            raise RuntimeError("no active workspace (call set_active)")
        scanned = self.parsed()
        return self.pipeline(self.active_id).route(
            scanned, with_search=with_search, selected=self._selected
        )

    def update_workspace(self, ws: WorkspaceConfig) -> None:
        """Replace a workspace config (filter mutation); the scan cache
        is untouched — only the routed plan changes. Saves the store on
        ANY workspace mutation (reference save-on-mutation,
        WorkspaceManager.cpp:25-76 — the store holds every workspace, so
        an inactive-workspace edit must persist too or it is lost if the
        process exits before the next switch)."""
        self.workspaces[ws.id] = ws.validate(invalid_regex=self.invalid_regex)
        self._pipelines.pop(ws.id, None)
        if self.store_path:
            self.save()

    def save(self) -> None:
        if not self.store_path:
            raise RuntimeError("session has no store_path")
        save_workspaces(self.store_path, list(self.workspaces.values()))

    def close(self) -> None:
        if self._parsed is not None:
            self._parsed.unpersist()
            self._parsed = None
