import pytest

from iceberg_core_spark.session import get_spark
from iceberg_core_spark.table.manifest import Manifest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("iceberg-core-spark-tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(params=["inline", "spark-sidecar"])
def regime(request, monkeypatch):
    """Both manifest regimes: at the default inline_max small tables
    keep their file list as inline JSON; inline_max=0 lands every
    non-empty commit as a driver-written single-file sidecar. The
    ``spark-sidecar`` ID is kept so test IDs stay stable."""
    if request.param == "spark-sidecar":
        monkeypatch.setattr(Manifest, "inline_max", 0)
    return request.param
