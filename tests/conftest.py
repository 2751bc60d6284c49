import os

import pytest


@pytest.fixture(scope="session", autouse=True)
def _hermetic_index_dir(tmp_path_factory):
    """Point persisted-index artifacts (IVF quantizer/corpus) at a
    per-run temp dir: tests must exercise the BUILD path every run —
    a stale repo-level index would mask regressions in cell assignment
    or training. The round-trip test overrides this locally."""
    prev = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = str(
        tmp_path_factory.mktemp("quebic_index")
    )
    yield
    if prev is None:
        os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)
    else:
        os.environ["SPARK_GRAFT_INDEX_DIR"] = prev


@pytest.fixture(scope="session")
def spark():
    from quebic_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(
        app_name="quebic_spark_tests",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck(sf_dir):
    """The oracle side: a DuckDB connection with one view per testdata
    table."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{f}')"
            )
    yield con
    con.close()
