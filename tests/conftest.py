from __future__ import annotations

import os
import uuid

import pytest

from docling_jobkit_spark.corpus import generate_pages, write_pages_parquet
from docling_jobkit_spark.session import get_spark

CORPUS_N = 400
CORPUS_SEED = 42


@pytest.fixture(scope="session")
def spark():
    s = get_spark("docling-jobkit-spark-tests", cores=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def corpus_rows():
    return generate_pages(CORPUS_N, CORPUS_SEED)


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory):
    path = os.path.join(str(tmp_path_factory.mktemp("corpus")), "pages.parquet")
    write_pages_parquet(path, CORPUS_N, CORPUS_SEED)
    return path


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# the SparkContext local properties a job group is made of
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn, *args, **kwargs) -> (fn's result, n_jobs)``: the
    Spark jobs ``fn`` runs, counted under a job group of their own
    (``statusTracker``). The caller's job group is restored afterwards."""
    sc = spark.sparkContext

    def run(fn, *args, **kwargs):
        saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
        group = f"count_jobs_{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, "job count")
        try:
            out = fn(*args, **kwargs)
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
