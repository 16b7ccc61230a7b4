"""Config-layer parity items: WCAG color validation (ColorData.cpp:65-88)
and the invalid-regex compatibility mode (FilterData.cpp:234-237). Pure
Python — no Spark session."""

from __future__ import annotations

import pytest

from txtlogparser_spark.config import (
    ConfigError,
    FilterSpec,
    WorkspaceConfig,
    is_color_valid,
    load_workspaces,
    relative_luminance,
    save_workspaces,
)
from txtlogparser_spark.oracle import LineRec, run_pipeline


class TestColorValidation:
    def test_shape(self):
        assert not is_color_valid("")
        assert not is_color_valid("#FFF")
        assert not is_color_valid("12345")
        assert not is_color_valid("#GGGGGG")
        assert not is_color_valid("#1234567")

    def test_luminance_formula(self):
        # hand-checked WCAG 2.0 values
        assert relative_luminance(0, 0, 0) == 0.0
        assert abs(relative_luminance(255, 255, 255) - 1.0) < 1e-9
        # mid gray #808080: linearized 0.2158..., weights sum to 1
        assert abs(relative_luminance(128, 128, 128) - 0.21586) < 1e-4

    def test_range_gate(self):
        assert not is_color_valid("#000000")  # L=0 < 0.2
        assert not is_color_valid("#FFFFFF")  # L=1 > 0.8
        assert is_color_valid("#808080")  # L≈0.216 within [0.2, 0.8]
        assert is_color_valid("2195F3")  # bare 6-hex accepted like the reference

    def test_workspace_color_gate_optin(self):
        ws = WorkspaceConfig(
            filters=[FilterSpec(201, 0, "x", color="#000000")]
        )
        ws.validate()  # colors not enforced by default (fixture parity)
        with pytest.raises(ConfigError):
            ws.validate(require_valid_colors=True)


class TestInvalidRegexCompat:
    BAD = "foo[unclosed"

    def test_reject_default(self):
        ws = WorkspaceConfig(filters=[FilterSpec(201, 0, self.BAD, regex=True)])
        with pytest.raises(ConfigError):
            ws.validate()

    def test_match_nothing_mode_loads_and_never_matches(self):
        spec = FilterSpec(201, 0, self.BAD, regex=True)
        spec.validate(invalid_regex="match_nothing")
        creg = spec.compiled()
        assert creg is not None
        assert creg.search("foo[unclosed and anything else") is None
        assert creg.search("") is None

    def test_reference_semantics_filter_first_drops_all(self):
        """Invalid regex filter claims no spans → with it as the ONLY
        filter, every row is dropped (FilterData.cpp:234-237 + OR-survival
        OutputData.cpp:308-329); alongside a valid filter, routing follows
        the valid one."""
        ws_only_bad = WorkspaceConfig(
            filters=[FilterSpec(201, 0, self.BAD, regex=True)]
        ).validate(invalid_regex="match_nothing")
        ws_mixed = WorkspaceConfig(
            filters=[
                FilterSpec(201, 0, self.BAD, regex=True),
                FilterSpec(202, 1, "scan"),
            ]
        ).validate(invalid_regex="match_nothing")
        recs = [
            LineRec("s-0", "s", 0, 0, "a scan happened"),
            LineRec("s-1", "s", 0, 1, "nothing here"),
        ]
        assert run_pipeline(recs, ws_only_bad).lines == []
        mixed = run_pipeline(recs, ws_mixed)
        assert [ol.rec.doc_id for ol in mixed.lines] == ["s-0"]
        assert {s.filter_id for s in mixed.lines[0].filter_spans if s.filter_id != -1} == {202}

    def test_fixture_roundtrip_with_flag(self, tmp_path):
        p = str(tmp_path / "ws.json")
        ws = WorkspaceConfig(
            id=7,
            filters=[FilterSpec(201, 0, self.BAD, regex=True)],
        )
        save_workspaces(p, [ws])  # save does not validate
        with pytest.raises(ConfigError):
            load_workspaces(p)
        loaded = load_workspaces(p, invalid_regex="match_nothing")
        assert loaded[0].filters[0].pattern == self.BAD


class TestSourceUniqueness:
    def test_duplicate_source_rank_rejected(self):
        from txtlogparser_spark.config import (
            ConfigError,
            SourceSpec,
            WorkspaceConfig,
        )
        import pytest as _pytest

        ws = WorkspaceConfig(
            sources=[SourceSpec("a", 1), SourceSpec("b", 1)]
        )
        with _pytest.raises(ConfigError, match="source_rank"):
            ws.validate()

    def test_duplicate_source_name_rejected(self):
        from txtlogparser_spark.config import (
            ConfigError,
            SourceSpec,
            WorkspaceConfig,
        )
        import pytest as _pytest

        ws = WorkspaceConfig(
            sources=[SourceSpec("a", 0), SourceSpec("a", 1)]
        )
        with _pytest.raises(ConfigError, match="source names"):
            ws.validate()

    def test_distinct_sources_pass(self):
        from txtlogparser_spark.config import SourceSpec, WorkspaceConfig

        WorkspaceConfig(
            sources=[SourceSpec("a", 0), SourceSpec("b", 1)]
        ).validate()


class TestLoadCompatAndActiveWorkspace:
    def test_duplicate_source_name_keep_first_compat(self):
        """Reference stores key files by fileId, not path (WorkspaceData.h:94),
        so a persisted store can carry the same path twice — the
        match_nothing load-compat mode must keep loading (keep-first)."""
        from txtlogparser_spark.config import SourceSpec, WorkspaceConfig

        ws = WorkspaceConfig(
            sources=[
                SourceSpec("a", 0),
                SourceSpec("a", 1),
                SourceSpec("b", 2),
            ]
        ).validate(source_dups="keep_first")
        assert [(s.source, s.source_rank) for s in ws.sources] == [
            ("a", 0), ("b", 2),
        ]

    def test_load_workspaces_compat_mode_tolerates_dup_sources(self, tmp_path):
        import json

        from txtlogparser_spark.config import (
            ConfigError,
            FORMAT_VERSION,
            load_workspaces,
        )
        import pytest as _pytest

        doc = {
            "formatVersion": FORMAT_VERSION,
            "workspaces": [
                {
                    "id": 1,
                    "name": "w",
                    "filters": [],
                    "searches": [],
                    "sources": [
                        {"source": "x", "source_rank": 0},
                        {"source": "x", "source_rank": 1},
                    ],
                }
            ],
        }
        p = str(tmp_path / "store.json")
        with open(p, "w") as fh:
            json.dump(doc, fh)
        with _pytest.raises(ConfigError, match="source names"):
            load_workspaces(p)  # strict default still rejects
        (ws,) = load_workspaces(p, invalid_regex="match_nothing")
        assert [s.source for s in ws.sources] == ["x"]

    def test_load_workspaces_logs_dropped_duplicate_sources(
        self, tmp_path, caplog
    ):
        """Under the regex compat mode duplicate sources are dropped
        keep-first, and every dropped duplicate path is logged; strict
        loading still rejects them."""
        import json
        import logging

        from txtlogparser_spark.config import (
            ConfigError,
            FORMAT_VERSION,
            load_workspaces,
        )
        import pytest as _pytest

        doc = {
            "formatVersion": FORMAT_VERSION,
            "workspaces": [
                {
                    "id": 7,
                    "sources": [
                        {"source": "x", "source_rank": 0},
                        {"source": "y", "source_rank": 1},
                        {"source": "x", "source_rank": 2},
                        {"source": "y", "source_rank": 3},
                    ],
                }
            ],
        }
        p = str(tmp_path / "store.json")
        with open(p, "w") as fh:
            json.dump(doc, fh)
        with caplog.at_level(logging.WARNING, logger="txtlogparser_spark.config"):
            (ws,) = load_workspaces(p, invalid_regex="match_nothing")
        assert [(s.source, s.source_rank) for s in ws.sources] == [("x", 0), ("y", 1)]
        dropped = [r.getMessage() for r in caplog.records]
        assert len(dropped) == 2, dropped
        assert "'x'" in dropped[0] and "source_rank=2" in dropped[0]
        assert "'y'" in dropped[1] and "source_rank=3" in dropped[1]
        with _pytest.raises(ConfigError, match="source names"):
            load_workspaces(p)

    def test_save_workspaces_roundtrips_active_id(self, tmp_path):
        import json

        from txtlogparser_spark.config import (
            FilterSpec,
            WorkspaceConfig,
            load_workspaces,
            save_workspaces,
        )

        wss = [
            WorkspaceConfig(id=1, name="first"),
            WorkspaceConfig(
                id=2,
                name="second",
                filters=[FilterSpec(201, 0, "ERROR")],
            ),
        ]
        p = str(tmp_path / "store.json")
        save_workspaces(p, wss, active_id=2)
        with open(p) as fh:
            doc = json.load(fh)
        assert doc["activeWorkspaceId"] == 2
        loaded = load_workspaces(p)
        assert [w.id for w in loaded] == [1, 2]
