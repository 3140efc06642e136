from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from apache_iceberg_spark.session import get_spark

    # Isolated warehouse: managed-table tests must not collide with stale
    # directories from previous sessions (in-memory catalog forgets tables;
    # their directories would otherwise persist in ./spark-warehouse).
    s = get_spark(
        "tests",
        cpus=8,
        shuffle_partitions=8,
        warehouse=str(tmp_path_factory.mktemp("spark_wh")),
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
