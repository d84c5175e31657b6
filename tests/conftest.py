import pytest


@pytest.fixture(scope="session")
def spark():
    from mongo_analyser_spark import get_spark

    s = get_spark("mongo_analyser_spark_tests", cpus=8)
    yield s


@pytest.fixture
def optimized_plan():
    """The optimized logical plan of a DataFrame as text with expression
    ids and lambda-variable counters stripped, so two builds of one query
    compare equal and the two sides of a gate compare different."""
    import re

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?|(?<=lambda [a-z])_\d+", "", text)

    return plan
