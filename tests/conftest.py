import pytest


@pytest.fixture(scope="session")
def spark():
    from cuckoofilter_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(call)``: the number of Spark jobs ``call()`` launches,
    counted under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def jobs_of(call) -> int:
        group = f"cfs-jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return jobs_of
