import os

import pytest

from fraudcrawler_spark.datagen import write_corpus
from fraudcrawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # session.py's default heap (48g) lets the test JVM grow until a
    # machine with less memory kills it mid-suite; the suite needs far less
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark(app_name="fc_tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    write_corpus(d, n_pages=2000)
    return d


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
