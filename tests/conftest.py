import pytest


@pytest.fixture(scope="session")
def spark():
    from uckg_spark.session import build_session

    s = build_session(
        app_name="uckg-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "4",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_pages():
    from uckg_spark.fixtures.pages import generate_pages

    return generate_pages(80)


@pytest.fixture(scope="session")
def oracle_dicts():
    from uckg_spark.oracle.kg_oracle import OracleDictionaries

    return OracleDictionaries()


@pytest.fixture(scope="session")
def kg_dims(spark):
    from uckg_spark.plans.kg_pipeline import KgDims

    return KgDims(spark)
