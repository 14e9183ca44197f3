"""Shared Spark session for the test suite (one JVM for the whole run)."""

from __future__ import annotations

import os
import sys

import pytest

# bare `pytest` puts only tests/ on sys.path; bootstrap the repo root like
# every other entry point so the suite loads under any invocation
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pdf_extractor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[4,2]: 4 threads, maxFailures=2 — task RETRIES are enabled so
    # the suite can exercise retry/speculation safety (WARC sink commit
    # protocol, exactly-once lineage); plain local[4] makes any task
    # failure job-fatal, hiding that whole defect class
    # minPartitionSize floors the extraction write's split size (and AQE's
    # coalescing). Spark's 1 MB default sits below a production run's fair
    # share per write task; test runs are KBs, so the suite scales it down
    # with them, or no bucket in a test could ever split
    s = get_spark(
        app_name="pdf_extractor_spark_tests",
        master="local[4,2]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "6g",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8k",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
