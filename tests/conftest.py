import sys
from pathlib import Path

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "integration: needs a live Postgres (DBSINK_PG_DSN; "
        "docker compose -f docker-compose.integration.yml up -d)",
    )
    config.addinivalue_line(
        "markers",
        "kafka: needs a live Kafka broker (DBSINK_KAFKA_BROKERS) "
        "plus the spark-sql-kafka package on the classpath",
    )

FIXTURES = "/root/reference/tests"  # read-only golden inputs
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from dbsink_spark.session import get_spark

    import tempfile

    spark = get_spark(
        "dbsink-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="dbsink-wh-")},
    )
    yield spark


def fixture_path(name: str) -> str:
    return f"{FIXTURES}/{name}"


def float_messages(n: int = 4) -> list[dict]:
    """``n`` GenericFloat messages with distinct upsert keys. ``gid`` is
    omitted, so the mapping's declared default ('') applies."""
    return [
        {"uid": f"u{i}", "time": f"2020-01-01T0{i}:00:00Z", "lat": 10.0 + i,
         "lon": -70.0 - i, "z": 0.5, "values": {"temp": 4.0 + i}}
        for i in range(n)
    ]


def write_datafile(path, messages: list[dict]) -> str:
    """Write ``messages`` as a JSON-array datafile (the ``--datafile``
    and ``replay_source`` input format); returns the path."""
    import json

    with open(path, "w") as f:
        json.dump(messages, f)
    return str(path)
