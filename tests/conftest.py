import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# Set at import time, BEFORE any Spark JVM starts: Python workers inherit
# PYTHONPATH, and need the repo root on it to import the package whatever
# the working directory of the test run.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)

from ph_ee_nats_importer_rdbms_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = build_session(app_name="phee-tests", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
