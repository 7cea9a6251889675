import sys
from pathlib import Path

import pytest

# the checkout this conftest lives in, so any copy of the repo tests itself
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from migrate_blob_data_from_rdbms_to_amazon_s3_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
