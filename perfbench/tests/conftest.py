import os
import sys

import pytest

# the benchmark's modules import each other by bare name (run.py puts
# their directory on sys.path); the program is imported from the
# repository root
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark")))
        .getOrCreate()
    )
    yield s
    s.stop()
