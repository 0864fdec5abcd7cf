from __future__ import annotations

import shutil
import tempfile

import pytest

from semantic_search_system_spark.session import _DEF_CPUS, get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sss-tests", master=f"local[{_DEF_CPUS}]")
    yield s


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="sss_cat_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
