"""The bench writer contract: summary line and detail file are stamped
with ONE shared run id and the detail file is written atomically, so
BENCH_r*.json and its BENCH_DETAIL_<run_id>.json can never describe
different executions (the round-3 artifacts did), and no run overwrites
another run's detail file. Round 5 adds the kill-proof
delivery contract (round 4's driver artifact was rc=124/parsed:null):
a summary line is flushed after EVERY completed section, SIGTERM/SIGINT
flush before exiting, and the scaling hunt respects a total-run
deadline."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap

import bench


class TestEmitArtifacts:
    def test_shared_run_id_and_atomic_detail(self, tmp_path):
        summary = {"metric": "m", "value": 1.0}
        detail = {"metric": "m", "value": 1.0, "queries": {"q": 0.5}}
        line = bench._emit_artifacts(summary, detail, str(tmp_path))
        parsed = json.loads(line)
        assert parsed["detail_file"] == f"BENCH_DETAIL_{parsed['run_id']}.json"
        detail_path = str(tmp_path / parsed["detail_file"])
        on_disk = json.load(open(detail_path))
        assert parsed["run_id"] == on_disk["run_id"]
        assert parsed["run_id"].startswith("run-")
        # atomic: no tmp residue next to the final file
        assert not os.path.exists(detail_path + ".tmp")

    def test_preserves_caller_run_id(self, tmp_path):
        line = bench._emit_artifacts(
            {"run_id": "run-fixed"}, {}, str(tmp_path)
        )
        assert json.loads(line)["run_id"] == "run-fixed"
        detail = json.load(open(tmp_path / "BENCH_DETAIL_run-fixed.json"))
        assert detail["run_id"] == "run-fixed"

    def test_each_run_id_writes_its_own_detail_file(self, tmp_path):
        for run_id in ("run-1", "run-2"):
            bench._emit_artifacts({"run_id": run_id}, {"value": run_id}, str(tmp_path))
        assert sorted(os.listdir(tmp_path)) == [
            "BENCH_DETAIL_run-1.json", "BENCH_DETAIL_run-2.json"
        ]
        assert json.load(open(tmp_path / "BENCH_DETAIL_run-1.json"))["value"] == "run-1"

    def test_per_section_flush_is_parseable_and_marked_partial(
        self, tmp_path, capsys
    ):
        """Every completed section prints a full summary line with
        partial=true; the final flush drops the flag. A consumer taking
        the LAST parseable stdout line always sees the latest state."""
        state = {
            "run_id": "run-flush-test",
            "sf": 0.1,
            "sections_done": ["headline"],
            "timings": {"q": 1.5},
            "steady": {"q": 0.5},
            "ext_timings": {},
            "ext_steady": {},
            "query_errors": {},
            "section_probes": {"before_headline_gbps": 19.0},
        }
        line1 = bench._flush_state(state, str(tmp_path))
        p1 = json.loads(line1)
        assert p1["partial"] is True
        assert p1["sections_done"] == ["headline"]
        assert p1["value"] == 1.5 and p1["run_id"] == "run-flush-test"
        # a later section appears in the next flush; final drops partial
        state["sections_done"].append("extensions")
        state["ext_timings"]["seq_pack"] = 0.6
        p2 = json.loads(bench._flush_state(state, str(tmp_path), final=True))
        assert "partial" not in p2
        assert p2["extensions"] == {"seq_pack": 0.6}
        # detail file matches the last flush
        on_disk = json.load(open(tmp_path / p2["detail_file"]))
        assert on_disk["run_id"] == "run-flush-test"
        assert on_disk["extensions"] == {"seq_pack": 0.6}

    def test_sigterm_flushes_summary_before_exit(self, tmp_path):
        """The driver kills the bench with `timeout` (SIGTERM). The trap
        must flush a parseable summary line recording the signal, then
        exit 128+15 — round 4's artifact died without one."""
        script = textwrap.dedent(f"""
            import json, os, sys, time
            sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
            import bench
            state = {{
                "run_id": "run-sig-test", "sf": 0.1,
                "sections_done": ["headline"],
                "timings": {{"q": 2.0}}, "steady": {{}},
                "ext_timings": {{}}, "ext_steady": {{}},
                "query_errors": {{}}, "section_probes": {{}},
            }}
            bench._install_signal_flush(state, {str(tmp_path)!r})
            print("READY", flush=True)
            time.sleep(60)
        """)
        proc = subprocess.Popen(
            [sys.executable, "-c", script],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        assert proc.stdout.readline().strip() == "READY"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=30)
        assert proc.returncode == 128 + signal.SIGTERM
        lines = [l for l in out.strip().splitlines() if l.startswith("{")]
        assert lines, f"no JSON line flushed, got: {out!r}"
        parsed = json.loads(lines[-1])
        assert parsed["run_id"] == "run-sig-test"
        assert parsed["partial"] is True
        assert parsed["sections_done"] == ["headline"]
        # the kill is reported on its own, not as a query error
        assert parsed["errors_count"] == 0
        assert parsed["signal"].startswith("killed by signal 15")
        detail = json.load(open(tmp_path / "BENCH_DETAIL_run-sig-test.json"))
        assert detail["errors"]["__signal__"].startswith(
            "killed by signal 15"
        )

    def test_total_deadline_math(self, monkeypatch):
        """TOTAL_BUDGET bounds the scaling hunt: the section deadline and
        the hunt deadline must stay ahead of the driver's outer kill."""
        monkeypatch.setattr(bench, "TOTAL_BUDGET", 100)
        monkeypatch.setattr(bench, "_RUN_T0", 1000.0)
        assert bench._total_deadline() == 1100.0
        monkeypatch.setattr(bench, "TOTAL_BUDGET", 0)
        assert bench._total_deadline() == float("inf")

    def test_line_cap_drops_cold_timings_before_evidence(self, tmp_path):
        big = {f"q{i}": 1.234 for i in range(400)}
        summary = {
            "queries": dict(big),
            "extensions": dict(big),
            "extensions_steady": {"e": 1.0},
            "skew": {"join_salted_speedup": 3.2},
            "sf1": {"pipeline_seq_per_sec": 1.0},
        }
        line = bench._emit_artifacts(summary, dict(summary), str(tmp_path),
                                     max_line=2000)
        parsed = json.loads(line)
        assert len(line) <= 2000
        # evidence sections survive; bulky cold timings are dropped first
        assert "skew" in parsed and "sf1" in parsed
        assert "queries" not in parsed
        # the detail file keeps EVERYTHING regardless of the line cap
        assert "queries" in json.load(open(tmp_path / parsed["detail_file"]))

    def test_full_summary_line_fits_1500_bytes(self, tmp_path, capsys):
        """The flushed summary line of a run with EVERY section done stays
        within 1,500 B — inside a 2,000-byte stdout tail capture with
        room to spare. Per-query maps are dropped first; totals, the
        pipeline rates and the scaling block survive."""
        names = [f"query_name_{i:02d}" for i in range(19)]
        state = {
            "run_id": "run-cap-test", "sf": 0.1,
            "sections_done": ["headline", "extensions", "pipeline", "skew",
                              "sf1", "scaling"],
            "timings": {n: 1.234 for n in names[:15]},
            "steady": {n: 0.567 for n in names[:15]},
            "ext_timings": {n: 1.234 for n in names},
            "ext_steady": {n: 0.567 for n in names},
            "query_errors": {"query_name_03": "x" * 150},
            "section_probes": {"before_headline_gbps": 19.1,
                               "between_gbps": 18.2,
                               "after_extensions_gbps": 18.3},
            "pipeline": {"rows": 1000000, "seconds": 5.4,
                         "sequences_per_sec": 185000.0,
                         "increment": {"sequences_per_sec": 90000.0},
                         "pack": {"rows_per_sec": 400000.0},
                         "sequences": {"tokens_per_sec": 29000000.0}},
            "skew": {"rows": 2000000,
                     "agg": {"speedup": 1.1, "skew_neutral_by_plan": True,
                             "results_match": True},
                     "join": {"speedup": 4.2, "results_match": True}},
            "sf1": {"rows_tokens": 5000000,
                    "pipeline": {"sequences_per_sec": 210000.0},
                    "increment": {"sequences_per_sec": 100000.0},
                    "per_row_rate_ratio": {n: 1.02 for n in names[:8]}},
            "scaling": {"rows": 4000000, "scaling_efficiency": 0.863,
                        "counts_match": True, "phase": "clean",
                        "hw_pair_efficiency": 0.91, "job_vs_hw_ceiling": 0.95,
                        "bandwidth_capped": False,
                        "pairs": {"1v4": {"scaling_efficiency": 0.86},
                                  "8v32": {"scaling_efficiency": 0.71}},
                        "errors": []},
        }
        line = bench._flush_state(state, str(tmp_path), final=True)
        assert len(line.encode()) <= 1500
        parsed = json.loads(line)
        assert "queries" not in parsed and "extensions" not in parsed
        assert parsed["scaling"]["scaling_efficiency"] == 0.863
        assert parsed["pipeline"]["sequences_per_sec"] == 185000.0
        assert parsed["errors_count"] == 1 and parsed["value"] > 0
        # the detail file keeps every per-query map
        assert "queries" in json.load(open(tmp_path / parsed["detail_file"]))

