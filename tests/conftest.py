import glob
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_pipeline_from_mongo_json_to_postgre_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.oracle_compare import duckdb_conn

    return duckdb_conn(sf_dir)


@pytest.fixture(scope="session", autouse=True)
def _remove_tmp_path_stages(tmp_path_factory):
    """At the end of the session, remove every fixture stage
    (``sources._stage``) named after a pytest tmp path: the file-source
    tests stage tables under their tmp_path, and nothing else removes
    those stages. Stages of the testdata tables stay cached."""
    yield
    from etl_pipeline_from_mongo_json_to_postgre_spark.sources._stage import (
        STAGE_ROOT,
        stage_prefix,
    )

    tmp_root = stage_prefix(str(tmp_path_factory.getbasetemp().parent))
    for stage in glob.glob(os.path.join(STAGE_ROOT.format(fmt="*"), glob.escape(tmp_root) + "*")):
        shutil.rmtree(stage, ignore_errors=True)
