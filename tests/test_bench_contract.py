"""The bench harness's output contract.

The round harness records only the LAST 2000 characters of bench.py's
stdout and tries to parse the final line as JSON. Rounds 2-4 each
printed a full ~5 KB result line and produced an unparseable truncated
tail — the fix prints a compact line (short query keys, headline
figures) and writes the full document to BENCH_FULL.json. This module
pins that contract so the line can never silently outgrow the window
again as the registry grows.
"""

import json

import pytest


@pytest.fixture()
def bench_mod(tmp_path, monkeypatch):
    import bench

    # point the sidecar write at a temp dir, not the repo root
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "_PRINTED", False)
    monkeypatch.setattr(bench, "RESULT", {})
    return bench


def _fat_result(n_queries):
    return {
        "metric": "headline_queries_total",
        "value": 34.5678,
        "unit": "sec",
        "sf": 0.1,
        "queries": {
            f"q{i:02d}_some_operator_with_a_long_name": 1.2345
            for i in range(1, n_queries + 1)
        },
        "derived": {
            "query_qps_vs_baseline": {
                "point_lookup": 64.6, "range_query": 77.0,
                "field_filter": 57.2, "complex_query": 66.0,
            },
            "query_qps_concurrent16": {
                "point_lookup": 257.0, "range_query": 250.0,
                "field_filter": 156.0, "complex_query": 255.0,
            },
            "bulk_ingest_pts_per_sec": 93100.0,
            "dml_roundtrip_sec": 2.41,
            "calibration": {"spark_action_floor_ms": 13.5},
            "floor_note": "x" * 400,
            "scaling": {"throughput_ops": {f"qq{i}": {"sec": 1.0}
                                           for i in range(12)}},
        },
    }


def test_emit_line_fits_harness_window(bench_mod, tmp_path, capsys):
    bench_mod.RESULT.update(_fat_result(91))
    bench_mod._emit()
    line = capsys.readouterr().out.strip()
    assert "\n" not in line                       # ONE line
    assert len(line) <= 2000                      # fits the tail window
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total"
    assert d["value"] == 34.5678 and d["sf"] == 0.1
    assert len(d["queries"]) == 91                # every query, short key
    assert d["n_queries_shown"] == 91             # set when nothing dropped
    assert d["queries"]["q91"] == 1.234
    assert d["qps"]["range_query"] == 77.0
    # the full document (long names, scaling, floor_note) is on disk
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert "q91_some_operator_with_a_long_name" in full["queries"]
    assert full["derived"]["floor_note"].startswith("x")


def test_emit_degrades_gracefully_if_registry_triples(bench_mod, capsys):
    bench_mod.RESULT.update(_fat_result(300))
    bench_mod._emit()
    line = capsys.readouterr().out.strip()
    assert len(line) <= 2000
    d = json.loads(line)
    # headline figures survive even when the query block must drop
    assert d["value"] == 34.5678
    assert d["ingest_pts_s"] == 93100.0


def test_emit_fits_when_fixed_fields_alone_overflow(bench_mod, capsys):
    # Draining `queries` is not enough when the remaining figures alone
    # outgrow the window (here a DML figure that grew into a per-step
    # block): the optional figures go next, the headline stays, and
    # n_queries_shown says how many query timings made it.
    bench_mod.RESULT.update(_fat_result(5))
    bench_mod.RESULT["derived"]["dml_roundtrip_sec"] = {
        f"step_{i:03d}": 1.2345 for i in range(150)
    }
    bench_mod._emit()
    line = capsys.readouterr().out.strip()
    assert len(line) <= 2000
    d = json.loads(line)
    assert d["value"] == 34.5678 and d["sf"] == 0.1
    assert d["queries"] == {} and d["n_queries_shown"] == 0
    assert "dml_s" not in d


def test_emit_marks_partial_and_errors(bench_mod, capsys):
    bench_mod.RESULT.update(_fat_result(5))
    bench_mod.RESULT["partial"] = True
    bench_mod.RESULT["errors"] = {"q01": "boom", "q02": "bang"}
    bench_mod._emit()
    d = json.loads(capsys.readouterr().out.strip())
    assert d["partial"] is True
    assert d["n_errors"] == 2
    # second emit is a no-op (signal handler + normal exit can race)
    bench_mod._emit()
    assert capsys.readouterr().out == ""
