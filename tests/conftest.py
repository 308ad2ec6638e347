import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from squirreling_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """Session for the whole run. Catalog tables land in a per-run
    warehouse dir, not ``spark-warehouse/`` under the working directory,
    where a killed run's leftovers make the next run's CREATE TABLE fail
    with LOCATION_ALREADY_EXISTS. The warehouse dir is a static conf and
    ``get_spark`` reuses an existing session, so the fixture checks that
    the setting took effect."""
    warehouse = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "squirreling-tests", cpus=8,
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    got = s.conf.get("spark.sql.warehouse.dir")
    assert got.removeprefix("file:").rstrip("/") == str(warehouse), got
    yield s


@pytest.fixture(autouse=True, scope="module")
def _drop_leaked_temp_views():
    """Cross-module temp-view hygiene: engine.execute_sql registers its
    ``tables=`` fixtures as session-global temp views and returns a LAZY
    result, so callers can't drop them. The r6 verdict's
    INVALID_INDEX_OF_ZERO order dependence (a bare column resolved
    against a view another module left behind) is closed by scoping:
    execute_sql resolves columns against its own table map only. The
    cleanup stays so that views left behind cannot satisfy a later
    module's table lookup; every module registers its own fixtures, so
    dropping all temporary views at module teardown is safe."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    from squirreling_spark.functions.sqldialect import session_temp_views

    try:
        for name in session_temp_views(s):
            try:
                s.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001 — hygiene is best-effort
                pass
    except Exception:  # noqa: BLE001
        pass


@pytest.fixture(scope="session")
def sf001():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01():
    # Default parity scale; override (e.g. /root/testdata/sf0.1 for the
    # once-per-round full-inventory run catching scale-dependent
    # semantics) via SPARK_GRAFT_PARITY_SF.
    import os

    return os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
