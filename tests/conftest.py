from __future__ import annotations

import os

import pytest

# Seed the JVM heap BEFORE the JVM launches (same idiom as
# perfbench/run.py and tools/scale_proof.py): the in-process default is
# 1 GiB, which leaves a 32-task local stage only ~30 MB of headroom per
# task -- the heavier suites OOM intermittently at that margin. Respect
# an operator-provided value.
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS",
    f"--driver-memory {os.environ.get('SPARK_DRIVER_MEMORY', '8g')} "
    "pyspark-shell",
)

from sec_xbrl_finwarehouse_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s
