"""Workspace configuration model.

Mirrors the reference's serialized workspace format (field names identical to
FilterData.cpp:40-64 / SearchData.cpp serialization / WorkspaceData.cpp:53-94)
so reference-era workspace.json fixtures load unchanged, but validated up
front: the reference silently emits no spans for an invalid regex at match
time (FilterData.cpp:234-237) and asserts on empty search patterns
(SearchData.cpp:100); we reject both at config-load time (documented
divergence, SURVEY.md §2.3 #6/#7).
"""

from __future__ import annotations

import json
import logging
import re
from dataclasses import dataclass, field, asdict
from typing import Iterable

_log = logging.getLogger(__name__)

FORMAT_VERSION = 1

# Id counter bases, matching WorkspaceData.h:93,96,100.
FILE_ID_BASE = 101
FILTER_ID_BASE = 201
SEARCH_ID_BASE = 301

# Deterministic 20-color pool (ColorData.cpp:10-31). Colors are config-time
# metadata only — they ride along to sink metadata, never into the data path.
COLOR_POOL = [
    "#F44336", "#DFEE15", "#37B027", "#187DCA", "#CA692D",
    "#B827BF", "#16BBC6", "#D68A8A", "#7A36C9", "#149A77",
    "#C02160", "#7A9704", "#C99836", "#2195F3", "#03F4D8",
    "#FF5722", "#607D8B", "#795548", "#9E9E9E", "#3F51B5",
]


class ConfigError(ValueError):
    """Raised for invalid workspace configuration."""


# ---- color validation (ColorData.cpp:65-88) ----

def relative_luminance(r: int, g: int, b: int) -> float:
    """WCAG 2.0 relative luminance (ColorData::calculateLuminance,
    ColorData.cpp:77-88): sRGB channels linearized then weighted."""
    def lin(c: float) -> float:
        c = c / 255.0
        return c / 12.92 if c <= 0.03928 else ((c + 0.055) / 1.055) ** 2.4

    return 0.2126 * lin(r) + 0.7152 * lin(g) + 0.0722 * lin(b)


def is_color_valid(hex_color: str) -> bool:
    """ColorData::isColorValid (ColorData.cpp:65-75): '#RRGGBB' or
    'RRGGBB' shape, and WCAG relative luminance within [0.2, 0.8]
    (readable against both light and dark backgrounds)."""
    h = hex_color
    if not h:
        return False
    if h[0] == "#":
        if len(h) != 7:
            return False
        h = h[1:]
    elif len(h) != 6:
        return False
    # strict hex-digit check: int(h, 16) would also accept '+', '-',
    # '_' and whitespace, letting malformed strings (e.g. '+0FF00')
    # through a shape check the reference (ColorData.cpp:65-75) rejects
    if any(c not in "0123456789abcdefABCDEF" for c in h):
        return False
    color = int(h, 16)
    r, g, b = (color >> 16) & 0xFF, (color >> 8) & 0xFF, color & 0xFF
    return 0.2 <= relative_luminance(r, g, b) <= 0.8


@dataclass(frozen=True)
class MatcherSpec:
    """Shared shape of filters and searches (FilterData.h:68-76 /
    SearchData.h:67-75 carry the identical field set)."""

    id: int
    row: int
    pattern: str
    caseSensitive: bool = True
    wholeWord: bool = False
    regex: bool = False
    enabled: bool = True
    color: str = ""

    def validate(
        self, invalid_regex: str = "reject", dialect: str = "python"
    ) -> None:
        """invalid_regex: 'reject' (default — fail fast at config load) or
        'match_nothing' (reference compatibility: FilterData.cpp:234-237
        logs the regex_error at match time and emits no spans, so an
        invalid-regex filter claims nothing and, filter-first, drops every
        row it alone would route).

        dialect: 'python' (default) validates against Python `re`;
        'ecmascript' validates against the reference's std::regex
        ECMAScript grammar (functions/regex_dialect.py), so a pattern the
        reference would reject is rejected here too even if Python
        accepts it (e.g. lookbehind)."""
        if not self.pattern:
            raise ConfigError(f"matcher id={self.id}: empty pattern")
        if self.regex and invalid_regex == "reject":
            try:
                if dialect == "ecmascript":
                    from txtlogparser_spark.functions.regex_dialect import (
                        compile_ecma,
                    )

                    compile_ecma(self.pattern, ignore_case=not self.caseSensitive)
                else:
                    re.compile(self.pattern)
            except (re.error, ValueError) as e:
                raise ConfigError(
                    f"matcher id={self.id}: invalid regex {self.pattern!r}: {e}"
                ) from e

    def compiled(self, dialect: str = "python") -> re.Pattern | None:
        """Compiled pattern for regex mode, reproducing the reference's
        flag handling (FilterData.cpp:161-238): icase when not caseSensitive,
        wholeWord wraps the pattern in \\b...\\b.

        An invalid pattern (only reachable under validate(invalid_regex=
        'match_nothing')) compiles to the never-matching '(?!)' — span-for-
        span the reference's catch-and-log behavior (FilterData.cpp:234-237:
        no sublines emitted).

        dialect='python' (default): the engine's standard Python `re`
        semantics; the ECMAScript deltas are documented in
        tests/test_regex_dialect.py. dialect='ecmascript': emulate the
        reference's std::regex ECMAScript grammar via
        functions/regex_dialect.py — constructs std::regex rejects
        compile to '(?!)' (the reference's regex_error catch), and
        \\w/\\b/$/empty-class semantics are rewritten to match.
        """
        if not self.regex:
            return None
        pat = self.pattern
        if self.wholeWord:
            pat = r"\b" + pat + r"\b"  # FilterData.cpp:167
        if dialect == "ecmascript":
            from txtlogparser_spark.functions.regex_dialect import compile_ecma

            try:
                return compile_ecma(pat, ignore_case=not self.caseSensitive)
            except (re.error, ValueError):
                return re.compile(r"(?!)")  # regex_error → no spans
        flags = 0 if self.caseSensitive else re.IGNORECASE
        try:
            return re.compile(pat, flags)
        except re.error:
            return re.compile(r"(?!)")  # matches nothing, ever


@dataclass(frozen=True)
class FilterSpec(MatcherSpec):
    """Routing predicate — rows survive iff ≥1 enabled filter claims a span
    (OR-semantics, OutputData.cpp:308-329)."""


@dataclass(frozen=True)
class SearchSpec(MatcherSpec):
    """Annotation predicate — adds match spans over routed rows, never drops
    rows (OutputData.cpp:335-387)."""


@dataclass
class SourceSpec:
    """File analog (FileData.h:66-73): `source` partition of the input table.

    source_rank ↔ fileRow display order; the global output total order is
    (source_rank, line_no) (OutputData.cpp:274-284).
    """

    source: str
    source_rank: int
    selected: bool = True


@dataclass
class WorkspaceConfig:
    id: int = 1
    name: str = "workspace"
    filters: list[FilterSpec] = field(default_factory=list)
    searches: list[SearchSpec] = field(default_factory=list)
    sources: list[SourceSpec] = field(default_factory=list)
    # 'python' (engine standard) or 'ecmascript' (reference std::regex
    # emulation, functions/regex_dialect.py). Applies to every regex
    # matcher in the workspace — the span extractors AND the pure-Python
    # oracle both read it from here, so parity tests exercise the same
    # dialect on both sides.
    regex_dialect: str = "python"

    def validate(
        self,
        invalid_regex: str = "reject",
        require_valid_colors: bool = False,
        source_dups: str = "reject",
    ) -> "WorkspaceConfig":
        if invalid_regex not in ("reject", "match_nothing"):
            raise ConfigError(f"invalid_regex mode {invalid_regex!r}")
        if source_dups not in ("reject", "keep_first"):
            raise ConfigError(f"source_dups mode {source_dups!r}")
        if self.regex_dialect not in ("python", "ecmascript"):
            raise ConfigError(f"regex_dialect {self.regex_dialect!r}")
        seen: set[int] = set()
        for m in [*self.filters, *self.searches]:
            m.validate(invalid_regex=invalid_regex, dialect=self.regex_dialect)
            if m.id in seen:
                raise ConfigError(f"duplicate matcher id {m.id}")
            seen.add(m.id)
            if require_valid_colors and m.color and not is_color_valid(m.color):
                raise ConfigError(
                    f"matcher id={m.id}: color {m.color!r} fails shape/WCAG-"
                    "luminance validation (ColorData.cpp:65-75)"
                )
        for coll, kind in ((self.filters, "filter"), (self.searches, "search")):
            rows = [m.row for m in coll]
            if len(rows) != len(set(rows)):
                raise ConfigError(f"duplicate {kind} row values {rows}")
        # sources get the same uniqueness discipline as filter/search
        # rows: the global total order is (source_rank, line_no), so a
        # duplicated rank makes it ambiguous (orderBy ties resolve
        # nondeterministically) and a duplicated source name silently
        # doubles selection. Reference-era stores CAN carry the same
        # path twice (WorkspaceData keys files by fileId, not path —
        # WorkspaceData.h:94, addFile never checks the path), so the
        # load path gets a compat escape hatch like invalid_regex:
        # source_dups='keep_first' drops later duplicate-name entries
        # (our source model reads each path once — keep-first is the
        # closest expressible semantics) instead of refusing to load.
        names = [s.source for s in self.sources]
        if len(names) != len(set(names)):
            if source_dups == "reject":
                raise ConfigError(f"duplicate source names {names}")
            seen_names: set[str] = set()
            kept = []
            for s in self.sources:
                if s.source not in seen_names:
                    seen_names.add(s.source)
                    kept.append(s)
                else:
                    _log.warning(
                        "workspace id=%s: dropped duplicate source %r "
                        "(source_rank=%s); keeping its first entry",
                        self.id, s.source, s.source_rank,
                    )
            self.sources[:] = kept
        ranks = [s.source_rank for s in self.sources]
        if len(ranks) != len(set(ranks)):
            raise ConfigError(f"duplicate source_rank values {ranks}")
        return self

    # ---- application order (std::map keyed by row, OutputData.h:106,113) ----
    def enabled_filters(self) -> list[FilterSpec]:
        return sorted((f for f in self.filters if f.enabled), key=lambda f: f.row)

    def enabled_searches(self) -> list[SearchSpec]:
        return sorted((s for s in self.searches if s.enabled), key=lambda s: s.row)

    def selected_sources(self) -> list[str]:
        return [s.source for s in self.sources if s.selected]

    # ---- (de)serialization, reference-compatible field names ----
    @classmethod
    def from_dict(
        cls,
        d: dict,
        invalid_regex: str = "reject",
        source_dups: str = "reject",
    ) -> "WorkspaceConfig":
        return cls(
            id=d.get("id", 1),
            name=d.get("name", "workspace"),
            filters=[_matcher_from_dict(FilterSpec, f) for f in d.get("filters", [])],
            searches=[_matcher_from_dict(SearchSpec, s) for s in d.get("searches", [])],
            sources=[
                SourceSpec(
                    source=s["source"],
                    source_rank=s.get("source_rank", i),
                    selected=s.get("selected", True),
                )
                for i, s in enumerate(d.get("sources", []))
            ],
            regex_dialect=d.get("regex_dialect", "python"),
        ).validate(invalid_regex=invalid_regex, source_dups=source_dups)

    def to_dict(self) -> dict:
        out = {
            "id": self.id,
            "name": self.name,
            "filters": [asdict(f) for f in self.filters],
            "searches": [asdict(s) for s in self.searches],
            "sources": [asdict(s) for s in self.sources],
        }
        # non-default only: keeps digests of existing persisted
        # workspaces (and their resume manifests) stable
        if self.regex_dialect != "python":
            out["regex_dialect"] = self.regex_dialect
        return out

    def digest(self) -> str:
        """Stable content digest of the config — keyed into run manifests
        so a resume can refuse to continue under a changed workspace
        (the pipeline is only deterministic per (config, input))."""
        import hashlib
        import json as _json

        return hashlib.md5(
            _json.dumps(self.to_dict(), sort_keys=True).encode()
        ).hexdigest()


def _matcher_from_dict(cls, d: dict):
    # Defaulted-field load semantics as in FilterData.cpp:53-64.
    return cls(
        id=int(d["id"]),
        row=int(d["row"]),
        pattern=str(d["pattern"]),
        caseSensitive=bool(d.get("caseSensitive", True)),
        wholeWord=bool(d.get("wholeWord", False)),
        regex=bool(d.get("regex", False)),
        enabled=bool(d.get("enabled", True)),
        color=str(d.get("color", "")),
    )


def load_workspaces(
    path: str, invalid_regex: str = "reject"
) -> list[WorkspaceConfig]:
    """Load a workspaces.json (WorkspaceManager.cpp:78-143): version-check the
    root `formatVersion`, refuse incompatible files. invalid_regex=
    'match_nothing' loads reference-era fixtures byte-for-byte even when
    they contain invalid regex patterns (see MatcherSpec.validate)."""
    with open(path) as fh:
        doc = json.load(fh)
    version = doc.get("formatVersion")
    if version != FORMAT_VERSION:
        raise ConfigError(f"unsupported formatVersion {version!r}")
    # the same compat mode that tolerates reference-era invalid regexes
    # also tolerates their duplicate file paths (keep-first, each dropped
    # path logged by WorkspaceConfig.validate)
    source_dups = "keep_first" if invalid_regex == "match_nothing" else "reject"
    return [
        WorkspaceConfig.from_dict(
            w, invalid_regex=invalid_regex, source_dups=source_dups
        )
        for w in doc.get("workspaces", [])
    ]


def save_workspaces(
    path: str,
    workspaces: Iterable[WorkspaceConfig],
    active_id: int | None = None,
) -> None:
    """Persist the versioned store. The reference envelope also carries
    the ACTIVE workspace id (WorkspaceManager.cpp:44-47) which its
    loader restores (:127-133) — pass `active_id` to round-trip it;
    consumers (tools/run_job.py) select that workspace, falling back to
    the first with a warning when absent/unknown, exactly like the
    reference logs and keeps its previous active id."""
    doc = {
        "formatVersion": FORMAT_VERSION,
        "workspaces": [w.to_dict() for w in workspaces],
    }
    if active_id is not None:
        doc["activeWorkspaceId"] = active_id
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=2)


class ColorManager:
    """Deterministic color assignment (FilterSearchColorManager.cpp:9-67):
    getNextColor = smallest-index pool color not currently in use."""

    def __init__(self) -> None:
        self._used: dict[str, int] = {}

    def next_color(self) -> str:
        for c in COLOR_POOL:
            if not self._used.get(c):
                self._used[c] = 1
                return c
        # Pool exhausted: reference reuses pool[0] (wrap).
        self._used[COLOR_POOL[0]] = self._used.get(COLOR_POOL[0], 0) + 1
        return COLOR_POOL[0]

    def push(self, color: str) -> None:
        self._used[color] = self._used.get(color, 0) + 1

    def pop(self, color: str) -> None:
        if self._used.get(color, 0) > 0:
            self._used[color] -= 1
