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
    """The pipeline runs and resumes under spark-submit, and its driver
    budget is ``DRIVER_HEAP_SHARE`` of the heap ``--driver-memory`` gave
    the JVM: get_spark(master=None) leaves the heap to spark-submit."""
    from scripts.make_pyfiles_zip import build
    from semantic_search_system_spark.session import DRIVER_HEAP_SHARE

    zip_path = build(str(tmp_path / "sss_spark.zip"))
    out_root = str(tmp_path / "out")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    # the default data dir of a zip-imported package: the cwd's data/
    env.pop("SSS_SPARK_DATA_DIR", None)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--driver-memory", "1g",
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
    # the JVM reports -Xmx rounded to its heap layout as its maximum heap
    budget = 2**30 * DRIVER_HEAP_SHARE
    assert 0.9 * budget <= out["driver_budget"] <= 1.01 * budget

    # re-submit with the same out_root: checkpoint resume, identical result
    res2 = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=600
    )
    assert res2.returncode == 0, res2.stderr[-3000:]
    out2 = json.loads([ln for ln in res2.stdout.splitlines() if ln.startswith("{")][-1])
    assert out2["triples"] == out["triples"]


def test_local_driver_heap_from_box(spark):
    """In local mode get_spark sizes the driver heap at half the box's
    physical memory (unless SPARK_GRAFT_DRIVER_MEM sets it), and the driver
    budget is ``DRIVER_HEAP_SHARE`` of the heap the JVM reports."""
    import pytest

    from semantic_search_system_spark.session import DRIVER_HEAP_SHARE, driver_budget

    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert driver_budget(spark) == int(heap * DRIVER_HEAP_SHARE)
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("the heap is set by SPARK_GRAFT_DRIVER_MEM")
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2
    assert 0.9 * half <= heap <= 1.01 * half
