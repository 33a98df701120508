import pytest

from featuregenerator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fg-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from featuregenerator_spark.sources.transcripts import synth_transcripts

    df = synth_transcripts(spark, n_convs=40, max_turns=30, seed=42)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)``: the number of Spark jobs ``fn()`` started,
    counted through a job group and the status tracker."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
