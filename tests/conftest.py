import os
import shutil

import pytest

from spark_sql_hbase_spark.sources.storage_io import LocalPosixIO

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from spark_sql_hbase_spark.session import build_spark

    spark = build_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


class CopyCarryIO(LocalPosixIO):
    """``LocalPosixIO`` on a filesystem without hardlinks: every
    generation carry is a byte copy, the path ``link_or_copy`` falls
    back to when ``os.link`` fails (cross-device warehouses, and the
    copy answer of the HDFS/object-store mapping in ``storage_io``)."""

    def link_or_copy(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)


@pytest.fixture(scope="module", params=["posix", "manifest"])
def store_io(request):
    """Storage IO of the keyed-store suites, which must hold under both
    carries: ``posix`` hardlinks carried files, ``manifest`` copies
    them.  The second id is the one these suites' cases had when it
    selected the store's manifests-as-listing mode, the earlier answer
    for backends without hardlinks."""
    return LocalPosixIO() if request.param == "posix" else CopyCarryIO()

