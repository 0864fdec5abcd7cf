"""Deployment-contract test (north rule: 'runs via spark-submit --py-files on
multi-executor clusters'): the pipeline driver program runs under spark-submit
with the engine delivered ONLY through the --py-files zip — cwd is a neutral
temp dir, so nothing imports from the repo checkout."""

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from conftest import SF_SMALL  # noqa: E402

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_spark_submit_pyfiles_pipeline(tmp_path):
    from scripts.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "sss_spark.zip"))
    out_root = str(tmp_path / "out")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    # the default data dir of a zip-imported package: the cwd's data/
    env.pop("SSS_SPARK_DATA_DIR", None)
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", "submit_pipeline.py"),
        "--sf-dir", SF_SMALL,
        "--out-root", out_root,
    ]
    res = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600
    )
    assert res.returncode == 0, res.stderr[-3000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    out = json.loads(line)
    assert out["triples"] > 0
    assert out["rows_written"]["triples"] == out["triples"]
    assert os.path.exists(os.path.join(out_root, "triples", "_manifest.json"))
    assert os.path.isdir(os.path.join(str(tmp_path), "data", "interleaved"))

    # re-submit with the same out_root: checkpoint resume, identical result
    res2 = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600
    )
    assert res2.returncode == 0, res2.stderr[-3000:]
    out2 = json.loads([ln for ln in res2.stdout.splitlines() if ln.startswith("{")][-1])
    assert out2["triples"] == out["triples"]
