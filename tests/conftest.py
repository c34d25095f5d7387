import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
REFERENCE = "/root/reference"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep every job in the status store: tests that count jobs through
        # the status tracker would otherwise race its batched eviction of old
        # jobs (default cap 1000) once the session has run that many
        .config("spark.ui.retainedJobs", "1000000")
        .appName("scbf-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    if not os.path.isdir(SF_SMALL):
        pytest.skip(f"testdata missing: {SF_SMALL}")
    return SF_SMALL
