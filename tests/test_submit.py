"""Ship-and-run smoke test for the north-rule deployment surface:
`spark-submit --py-files dist/qsvspark.zip jobs/pipeline.py`.

The job script is copied into a bare temp directory (no qsvspark checkout
next to it) and submitted from there, so neither the driver nor its Python
workers can import the engine from anywhere but the shipped zip — this
proves the artifact tools/package.py builds is self-sufficient. It also
pins that spark-submit keeps Spark's own worker daemon: get_spark names
qsvspark.workerd only for the local sessions it starts itself, because a
daemon starts before the --py-files zip is on its sys.path.
A second identical submit must resume from the committed snapshots instead
of recomputing (kill-and-restart safety across PROCESS boundaries, not just
within a session like tests/test_pipeline.py covers)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from qsvspark.pipeline.tokens import synth_tokens

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")

N = 2_000


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
class TestSparkSubmitShipping:
    @pytest.fixture(scope="class")
    def shipped(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("submit")
        inp = str(root / "tokens_in")
        synth_tokens(spark, N, seed=11).write.parquet(inp)

        sys.path.insert(0, os.path.join(REPO, "tools"))
        try:
            from package import build  # tools/package.py
        finally:
            sys.path.pop(0)
        zip_path = build(str(root / "qsvspark.zip"))

        # bare job dir: nothing importable except via --py-files
        jobdir = root / "jobdir"
        jobdir.mkdir()
        shutil.copy(os.path.join(REPO, "jobs", "pipeline.py"), jobdir / "job.py")
        return {"root": root, "inp": inp, "zip": zip_path,
                "job": str(jobdir / "job.py"), "wh": str(root / "wh")}

    def _submit(self, s, *extra):
        cmd = [
            SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "2g",
            "--py-files", s["zip"], s["job"],
            "--input", s["inp"], "--warehouse", s["wh"],
            "--fingerprint", "ship-test", "--shuffle-partitions", "4",
            *extra,
        ]
        env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
                   PYSPARK_DRIVER_PYTHON=sys.executable)
        env.pop("PYTHONPATH", None)  # nothing but the zip may reach qsvspark
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=600, env=env,
                              cwd=os.path.dirname(s["job"]))
        assert proc.returncode == 0, proc.stderr[-4000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    def _sequence_snaps(self, s):
        return sorted(os.listdir(os.path.join(s["wh"], "sequences")))

    def test_submit_runs_and_resumes(self, spark, shipped):
        pack = ("--pack-sinks", "256", "--materialize-sequences")
        m1 = self._submit(shipped, *pack)
        assert m1["rows"] == N
        # materialize commits sequences only: the layout is in their parts
        assert m1["sequences"]["rows"] > 0
        assert not os.path.exists(os.path.join(shipped["wh"], "packed"))
        snaps = self._sequence_snaps(shipped)
        assert m1["resumed"] == []
        assert sum(m1["per_sink_counts"].values()) == N
        # committed-snapshot counts must equal a direct in-process compute
        # on the same synthetic input (process-boundary determinism)
        from qsvspark.pipeline.northstar import enrich_stage, parse_stage
        from qsvspark.pipeline.tokens import source_dim
        direct = (
            enrich_stage(parse_stage(spark.read.parquet(shipped["inp"])),
                         source_dim(spark))
            .groupBy("sink").count().collect()
        )
        assert {r["sink"]: r["count"] for r in direct} == {
            k: v for k, v in m1["per_sink_counts"].items()
        }

        m2 = self._submit(shipped, *pack)
        assert sorted(m2["resumed"]) == ["aggregate", "route"]
        assert m2["per_sink_counts"] == m1["per_sink_counts"]
        assert m2["sequences"] == "already-packed"
        assert self._sequence_snaps(shipped) == snaps
