from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pytest

# Every table the suite derives (interleaved corpora, pipeline outputs,
# indexes, stores) lands in one session temp root, never in the checkout:
# set before the package is imported, because fixtures.interleave reads it
# at import time.
DATA_ROOT = tempfile.mkdtemp(prefix="sss_data_")
os.environ["SSS_SPARK_DATA_DIR"] = DATA_ROOT
atexit.register(shutil.rmtree, DATA_ROOT, True)

from semantic_search_system_spark.session import _DEF_CPUS, get_spark  # noqa: E402

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


def with_job_count(spark, fn):
    """(fn(), number of Spark jobs fn submitted) — the delta of the
    statusTracker's job ids."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None)) - before)
