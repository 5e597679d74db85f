import pytest


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: a long end-to-end case (deselect with "
        "'-m \"not slow\"')")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master("local[4]")
             .appName("geojson-vt-spark-tests")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.default.parallelism", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.scheduler.mode", "FAIR")
             .getOrCreate())
    yield spark
    spark.stop()
