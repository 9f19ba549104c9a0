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


# merge_cdc_batch keyword arguments of the two fold presets, keyed by their
# CdcStreamRunner.mode name. cow is the function's defaults: bucket-pure L0
# and an inline fold of every bucket at read amplification 1. raw leaves
# unclustered L0 deltas to fold at read amplification 16.
PRESETS = {"cow": {}, "raw": {"auto_compact_deltas": 16, "l0_groups": 1}}


@pytest.fixture(params=list(PRESETS))
def preset(request):
    """One fold preset's merge_cdc_batch kwargs (test id: its name)."""
    return PRESETS[request.param]


@pytest.fixture(params=list(PRESETS))
def preset_mode(request):
    """One fold preset's name, as CdcStreamRunner.mode takes it."""
    return request.param
