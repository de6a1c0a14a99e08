"""North-rule deployment shape: the pipeline job ships as
`spark-submit --py-files ilogtail_spark.zip` and runs from a directory
that does NOT contain the package — proving the zip carries everything.
Also re-submits with the same --run-id to pin checkpoint idempotency
across driver processes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest


REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_package(dst: str) -> str:
    pkg_root = os.path.join(REPO_ROOT, "ilogtail_spark")
    zpath = os.path.join(dst, "ilogtail_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_root):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO_ROOT))
    return zpath


class TestSparkSubmit:
    def test_py_files_batch_job_idempotent(self, spark, tmp_path):
        # input: a small transcript parquet written by the live session
        from ilogtail_spark.sources.transcripts import transcripts_df

        in_path = str(tmp_path / "transcripts")
        transcripts_df(spark, "/root/testdata/sf0.001").write.parquet(in_path)
        n_in = spark.read.parquet(in_path).count()

        workdir = str(tmp_path / "clean_cwd")
        os.makedirs(workdir)
        zpath = _zip_package(workdir)
        runner = os.path.join(workdir, "job.py")
        with open(runner, "w") as f:
            f.write(
                "from ilogtail_spark.plans.submit import main\n"
                "import sys\nmain(sys.argv[1:])\n"
            )
        out_dir = str(tmp_path / "out")
        submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
        cmd = [
            submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--py-files", zpath,
            runner,
            "--input", in_path, "--out", out_dir, "--run-id", "submit-e2e",
        ]
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["PYSPARK_PYTHON"] = sys.executable

        def run():
            r = subprocess.run(
                cmd, cwd=workdir, env=env, capture_output=True, text=True,
                timeout=480,
            )
            assert r.returncode == 0, r.stderr[-3000:]
            line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
            return json.loads(line)

        first = run()
        counts = first["sink_counts"] if "sink_counts" in first else first
        vals = {k: v for k, v in counts.items() if isinstance(v, int)}
        assert sum(vals.values()) == n_in, (counts, n_in)
        assert any(k.startswith("sink_") for k in vals)

        # idempotent re-submit: same run-id, separate driver process —
        # committed stages are skipped and counts are identical
        second = run()
        assert second == first


def test_package_imported_from_this_checkout():
    # conftest puts its own checkout first on sys.path: a test run in a
    # copy of the repository must test that copy's package
    import ilogtail_spark
    from conftest import REPO_ROOT

    pkg = os.path.realpath(ilogtail_spark.__file__)
    assert pkg.startswith(os.path.join(os.path.realpath(REPO_ROOT), ""))


def test_streaming_rejects_shard_keys(capsys):
    # a stream run has no pre-write shard step: the flag is an error,
    # not silently dropped
    from ilogtail_spark.plans.submit import main

    with pytest.raises(SystemExit) as exc:
        main(["--input", "in", "--out", "out", "--streaming", "--shard-keys", "conv_id"])
    assert exc.value.code == 2
    assert "--shard-keys" in capsys.readouterr().err
