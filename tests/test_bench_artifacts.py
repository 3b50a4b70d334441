"""The bench writer contract: summary line and detail file are stamped
with ONE shared run id and the detail file is written atomically, so
BENCH_r*.json and its BENCH_DETAIL_<run_id>.json can never describe
different executions (the round-3 artifacts did), and no run overwrites
another run's detail file. Round 5 adds the kill-proof
delivery contract (round 4's driver artifact was rc=124/parsed:null):
a summary line is flushed after EVERY completed section, SIGTERM/SIGINT
flush before exiting, and the scaling section keeps a total-run
deadline. The scaling loop itself is checked on a fake clock, and the
scaling worker's one-line contract in a real subprocess."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import textwrap

import pytest

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
        """TOTAL_BUDGET is the scaling section's only deadline: it must
        stay ahead of an outer kill."""
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
                        "counts_match": True,
                        "hw_pair_efficiency": 0.91, "job_vs_hw_ceiling": 0.95,
                        "errors": []},
            "section_s": {"setup": 41.2, "headline": 30.5, "extensions": 88.1,
                          "skew": 120.4, "pipeline": 210.7, "sf1": 1020.3,
                          "scaling": 1403.9},
        }
        line = bench._flush_state(state, str(tmp_path), final=True)
        assert len(line.encode()) <= 1500
        parsed = json.loads(line)
        assert "queries" not in parsed and "extensions" not in parsed
        assert parsed["scaling"]["scaling_efficiency"] == 0.863
        assert parsed["scaling"]["rep_errors"] == 0
        assert parsed["section_s"]["scaling"] == 1403.9
        assert parsed["pipeline"]["sequences_per_sec"] == 185000.0
        assert parsed["errors_count"] == 1 and parsed["value"] > 0
        # the detail file keeps every per-query map
        assert "queries" in json.load(open(tmp_path / parsed["detail_file"]))


class _Clock:
    """Stands in for ``bench.time``: ``time()`` reads a settable now."""

    def __init__(self, now: float):
        self.now = now

    def time(self) -> float:
        return self.now


T0 = 1000.0
PROBE_S = 5.0


@pytest.fixture
def fake_scaling(monkeypatch):
    """``run(durations, budget, probes)`` runs ``bench._run_scaling`` on a
    fake clock starting at T0 with a total budget of ``budget`` seconds.
    The stubbed rep at ``cores`` takes the next of ``durations[cores]``
    seconds (None: the worker crashes; longer than its timeout: it times
    out, as ``_one_rep`` reports both); each stubbed probe takes PROBE_S
    and returns the next hardware efficiency of ``probes`` (a negative
    one is implausible). Returns (block, calls), one call per rep
    started: (cores, start, timeout)."""
    clock = _Clock(T0)
    monkeypatch.setattr(bench, "time", clock)
    monkeypatch.setattr(bench, "_log", lambda msg: None)

    def run(durations, budget, probes=(0.9, 0.9)):
        clock.now = T0
        durations = {c: list(d) for c, d in durations.items()}
        probes = list(probes)
        calls = []
        monkeypatch.setattr(bench, "_total_deadline", lambda: T0 + budget)

        def one_rep(cores, rows, input_path, timeout, errors, tag):
            calls.append((cores, clock.now, timeout))
            d = durations[cores].pop(0)
            if d is None:
                clock.now += 1
                errors.append(f"{tag} rc=1: crashed")
                return None
            if timeout is not None and d > timeout:
                clock.now += timeout
                errors.append(f"{tag} timed out after {int(timeout)}s")
                return None
            clock.now += d
            return {"cores": cores, "rows": rows, "seconds": d,
                    "sequences_per_sec": round(rows / d, 1),
                    "per_sink_counts": {"sink-0": rows - 1, "sink-1": 1}}

        def pair_probe(p_lo, p_hi):
            assert (p_lo, p_hi) == (bench.LO, bench.HI)
            clock.now += PROBE_S
            eff = probes.pop(0)
            return {"lo_gbps": 5.0, "hi_gbps": 18.0, "hw_eff": abs(eff),
                    "plausible": eff > 0}

        monkeypatch.setattr(bench, "_one_rep", one_rep)
        monkeypatch.setattr(bench, "_pair_probe", pair_probe)
        return bench._run_scaling("/in", 1000), calls

    return run


class TestRunScaling:
    def test_pairs_interleave_hi_then_lo(self, fake_scaling):
        out, calls = fake_scaling({4: [10] * 3, 1: [40] * 3}, budget=10_000)
        assert [c for c, _, _ in calls] == [4, 1, 4, 1, 4, 1]
        assert bench.MAX_PAIRS == 3
        assert out["errors"] == [] and len(out["probes"]) == 2
        assert out["rep_seconds"] == {"local[4]": [10] * 3, "local[1]": [40] * 3}

    def test_no_rep_starts_that_the_deadline_cannot_hold(self, fake_scaling):
        # reps end at T0 + budget - flush margin - the first probe's cost
        # (the closing probe must fit). 140 s of reps: two 50 s pairs
        # leave 40 s, which holds no third pair; no rep is cut off.
        budget = bench.FLUSH_MARGIN_S + PROBE_S + 140
        end = T0 + budget - bench.FLUSH_MARGIN_S - PROBE_S
        out, calls = fake_scaling({4: [10] * 3, 1: [40] * 3}, budget=budget)
        assert [c for c, _, _ in calls] == [4, 1, 4, 1]
        assert all(start + timeout == end for _, start, timeout in calls)
        assert out["errors"] == []
        assert len(out["probes"]) == 2  # the closing probe still ran
        # first pair, nothing observed yet: the hi rep leaves fewer than
        # MIN_REP_S seconds, so the lo rep never starts
        budget = bench.FLUSH_MARGIN_S + PROBE_S + bench.MIN_REP_S + 5
        out, calls = fake_scaling({4: [10], 1: [40]}, budget=budget)
        assert [c for c, _, _ in calls] == [4]
        assert out["scaling_efficiency"] is None
        # no time for even one rep: nothing starts
        out, calls = fake_scaling({4: [10], 1: [40]}, budget=bench.FLUSH_MARGIN_S)
        assert calls == [] and out["runs"] == {}

    def test_no_budget_runs_three_unfenced_pairs(self, fake_scaling):
        # QSVSPARK_BENCH_TOTAL_BUDGET=0 makes the deadline +inf: all
        # MAX_PAIRS pairs run, each rep without a timeout
        out, calls = fake_scaling({4: [10] * 3, 1: [40] * 3},
                                  budget=float("inf"))
        assert [c for c, _, _ in calls] == [4, 1, 4, 1, 4, 1]
        assert all(timeout is None for _, _, timeout in calls)
        assert out["errors"] == [] and len(out["probes"]) == 2
        assert out["scaling_efficiency"] == 1.0

    def test_failed_rep_lands_in_errors_and_block_returns(self, fake_scaling):
        out, calls = fake_scaling({4: [10, 10, 10], 1: [40, None, 38]},
                                  budget=10_000)
        assert len(calls) == 6
        assert out["errors"] == ["local[1] pair 2 rc=1: crashed"]
        assert out["scaling_efficiency"] == round((38 / 10) / 4, 3)
        assert out["counts_match"] is True
        # a rep that outlives its timeout (the time left) is recorded and
        # the block still comes back, without an efficiency
        budget = bench.FLUSH_MARGIN_S + PROBE_S + 100
        out, calls = fake_scaling({4: [10], 1: [400]}, budget=budget)
        assert [c for c, _, _ in calls] == [4, 1]
        assert out["errors"] == ["local[1] pair 1 timed out after 85s"]
        assert out["scaling_efficiency"] is None
        assert out["runs"]["local[4]"]["seconds"] == 10

    def test_efficiency_is_ratio_of_per_level_minima(self, fake_scaling):
        out, _ = fake_scaling({4: [12, 10, 11], 1: [38, 41, 36]},
                              budget=10_000, probes=(0.8, -9.0))
        assert out["runs"]["local[1]"]["seconds"] == 36
        assert out["runs"]["local[4]"]["seconds"] == 10
        assert out["scaling_efficiency"] == round((36 / 10) / 4, 3) == 0.9
        # the implausible closing probe stays in the detail, not the number
        assert len(out["probes"]) == 2
        assert out["hw_pair_efficiency"] == 0.8
        assert out["job_vs_hw_ceiling"] == round(0.9 / 0.8, 3)
        summary, _ = bench._assemble({
            "run_id": "run-x", "sf": 0.01, "scaling": out,
        })
        assert summary["scaling"] == {
            "rows": 1000, "scaling_efficiency": 0.9, "counts_match": True,
            "hw_pair_efficiency": 0.8, "job_vs_hw_ceiling": 1.125,
            "rep_errors": 0,
        }


class TestScalingWorker:
    def test_worker_prints_one_result_line(self, spark, tmp_path):
        """``bench.py --scaling-worker 1 <rows> <path>``, pinned to one
        core, reads the whole input and prints ONE JSON line whose
        per-sink counts cover every input row."""
        import shutil

        from qsvspark.pipeline import synth_tokens

        rows = 400
        path = str(tmp_path / "tokens")
        synth_tokens(spark, rows, num_partitions=3).write.parquet(path)
        cmd = bench._worker_cmd(1, rows, path)
        if shutil.which("taskset"):
            assert cmd[:3] == ["taskset", "-c", "0-0"]
        assert cmd[-4:] == ["--scaling-worker", "1", str(rows), path]
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              env=bench._worker_env(1), timeout=600)
        assert proc.returncode == 0, proc.stderr[-2000:]
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        assert len(lines) == 1, proc.stdout
        out = json.loads(lines[0])
        assert {"cores", "rows", "seconds", "sequences_per_sec",
                "per_sink_counts"} <= out.keys()
        assert out["cores"] == 1 and out["rows"] == rows and out["seconds"] > 0
        assert sum(out["per_sink_counts"].values()) == rows
