import pytest


@pytest.fixture(scope="session")
def spark():
    from parquet4seastar_spark.engine.session import get_spark

    spark = get_spark(app_name="p4s-tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture
def jobs_launched(spark):
    """``run(fn) -> (fn(), number of Spark jobs fn launched)``, counted in
    a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count the jobs of one call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
