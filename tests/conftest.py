import pathlib
import shutil
import sys
import uuid

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from etl_api_bigquery_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_table_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp(f"lake_{uuid.uuid4().hex[:6]}")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)
