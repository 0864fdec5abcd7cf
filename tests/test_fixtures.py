import os
import shutil
import subprocess
import sys
import tempfile

import pandas as pd

from conftest import SF_SMALL

from semantic_search_system_spark import spec
from semantic_search_system_spark.fixtures.golden import golden_canonicalize, golden_triples
from semantic_search_system_spark.fixtures.interleave import build_interleaved, spans_for_text


def test_spans_spec():
    spans = spans_for_text("1", " ".join(f"w{i}" for i in range(40)), hot=False)
    # 40 tokens / 8 per span = 5 text spans; media after every 3rd text span → 1 media
    kinds = [s["kind"] for s in spans]
    assert kinds == ["text", "text", "text", "image", "text", "text"]
    assert [s["offset"] for s in spans] == list(range(len(spans)))
    media = [s for s in spans if s["kind"] != "text"]
    assert all(s["media_ref"] == spec.media_ref("1", s["offset"]) for s in media)
    assert all(s["text"] is None for s in media)


def test_hot_docs_get_skew_token():
    spans = spans_for_text("0", "a b", hot=True)
    text = " ".join(s["text"] for s in spans if s["kind"] == "text")
    assert "hotterm" in text


def test_data_dir_defaults_to_checkout_data(tmp_path):
    """Without ``SSS_SPARK_DATA_DIR`` the data dir is ``<checkout>/data``,
    derived from where the package lives: a copy of the package in another
    directory defaults to that directory's ``data/``."""
    checkout = tmp_path / "checkout"
    pkg = "semantic_search_system_spark"
    src = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), pkg)
    shutil.copytree(src, checkout / pkg, ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "SSS_SPARK_DATA_DIR"}
    code = f"from {pkg}.fixtures import interleave; print(interleave.REPO_DATA)"
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=checkout, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.splitlines()[-1] == str(checkout / "data")
    assert not (checkout / "data").exists()


def test_data_dir_defaults_to_cwd_data_from_zip(tmp_path):
    """Imported from the --py-files zip (no checkout directory) and without
    ``SSS_SPARK_DATA_DIR``, the data dir is the working directory's ``data/``."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "sss_spark.zip"))
    env = {k: v for k, v in os.environ.items() if k not in ("SSS_SPARK_DATA_DIR", "PYTHONPATH")}
    env["PYTHONPATH"] = zip_path
    code = "from semantic_search_system_spark.fixtures import interleave; print(interleave.REPO_DATA)"
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert res.stdout.splitlines()[-1] == str(tmp_path / "data")


def test_build_deterministic():
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        p1 = build_interleaved(SF_SMALL, out_dir=d1)
        p2 = build_interleaved(SF_SMALL, out_dir=d2)
        df1 = pd.read_parquet(p1)
        df2 = pd.read_parquet(p2)
        assert df1.equals(df2)
        assert len(df1) == 500


def test_build_idempotent_cache():
    p = build_interleaved(SF_SMALL)
    mtime = os.path.getmtime(p)
    assert build_interleaved(SF_SMALL) == p
    assert os.path.getmtime(p) == mtime


def test_golden_triples_shape():
    inter = pd.read_parquet(build_interleaved(SF_SMALL)).head(50)
    gt = golden_triples(inter)
    assert set(gt["pred"]) == {spec.PRED_MENTIONS, spec.PRED_HAS_TOPIC, spec.PRED_RELATES}
    assert not gt.duplicated().any()


def test_golden_canonicalize_merges_similar():
    # identical phrases normalize together; disjoint-block phrases stay apart
    labels = golden_canonicalize(["spark join", "Spark Join", "zebra walk"])
    assert labels["spark join"] == labels["spark join"]
    assert labels["zebra walk"] != labels["spark join"]


def test_oracle_replica_catches_hugeint_promotion(spark):
    """Guard the guard (round-1 blind spot): an uncast DuckDB integer sum()
    (HUGEINT -> Decimal through the Arrow fetch) must FAIL the replica's
    type-tagged compare against a Spark LONG, and pass once cast."""
    from oracle_utils import compare, duck_con

    con = duck_con(SF_SMALL)
    sdf = spark.createDataFrame([(6,)], "s long")
    bad = compare(sdf, "SELECT sum(x) AS s FROM (VALUES (1), (2), (3)) t(x)", con)
    assert not bad["values_match"]  # HUGEINT/Decimal 6 != LONG 6
    good = compare(sdf, "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (1), (2), (3)) t(x)", con)
    assert good["values_match"] and good["schema_match"]
