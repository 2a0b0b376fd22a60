from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_etl_project2_fiap_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    spark = build_session(
        app_name="tests",
        # local[4], pinned (r13, VERDICT r12 #1): the suite is thousands
        # of tiny-data jobs, and 32 scheduler threads spend more time
        # launching 32-task stages than 4 threads spend computing them —
        # measured −28% wall on the versioned-IO-heavy files, nothing
        # slower. Pinning (instead of inheriting $SPARK_GRAFT_CPUS) also
        # makes file-layout-sensitive assertions machine-independent.
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-warehouse-")
        },
    )
    yield spark
    spark.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns ``(result, number of Spark jobs fn started)``."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
