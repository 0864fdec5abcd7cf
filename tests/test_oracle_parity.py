"""The DuckDB oracle gate, run locally: every query with an oracle must match
on row count, schema (sorted column names) and order-insensitive values —
exactly what the driver records in CORRECTNESS_r{N}.json."""

import json
import os
import subprocess
import sys

import pytest

from oracle_utils import compare, duck_con

import __spark_entry__ as entry_mod
from semantic_search_system_spark.fixtures.interleave import build_interleaved

from conftest import SF_MED

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    build_interleaved(SF_MED)
    c = duck_con(SF_MED)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(name, spark, con):
    df = _QUERIES[name](spark, SF_MED)
    res = compare(df, _ORACLES[name], con)
    assert res["rows_match"], (res["n_spark"], res["n_duck"])
    assert res["schema_match"], (res["spark_cols"], res["duck_cols"])
    assert res["values_match"], res["sample_diff"]


def test_oracle_sql_needs_no_derived_tables(tmp_path):
    """``oracle_sql()`` is complete on an empty data dir: no oracle reads a
    derived table to be generated (the doc-IVF twins size the index in SQL),
    so a fresh checkout can list and run every oracle row."""
    data = tmp_path / "data"
    data.mkdir()
    code = "import json, __spark_entry__ as e; print(json.dumps(sorted(e.oracle_sql())))"
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, env=dict(os.environ, SSS_SPARK_DATA_DIR=str(data)),
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert json.loads(res.stdout.splitlines()[-1]) == sorted(_ORACLES)
    assert not (data / "out").exists()


def test_import_writes_nothing(tmp_path):
    """Importing the driver contract and listing its queries builds no
    corpus: only ``oracle_sql()`` (and the queries themselves) write."""
    data = tmp_path / "data"
    data.mkdir()
    code = "import __spark_entry__ as e; print(len(e.queries()))"
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, env=dict(os.environ, SSS_SPARK_DATA_DIR=str(data)),
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert int(res.stdout.splitlines()[-1]) == len(_QUERIES)
    assert list(data.iterdir()) == []
