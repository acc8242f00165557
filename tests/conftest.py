from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from batchprocessingetl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def _maybe_enable_postgres() -> None:
    """When a PostgreSQL server is reachable on the standard port and
    the stock public JDBC driver jar exists on the box, expose the jar
    to the session factory (must happen BEFORE the JVM starts) so the
    Postgres-dialect JDBC tests can run; they capability-gate on the
    same probe and skip cleanly anywhere else."""
    import glob
    import hashlib
    import os
    import socket

    if os.environ.get("SPARK_GRAFT_EXTRA_JARS"):
        return
    # Trusted locations first (system java dir, then a repo-local
    # drop). The copy living in the reference checkout is a LAST
    # resort and only accepted if it is byte-identical to the stock
    # org.postgresql:postgresql:42.7.4 Maven Central artifact
    # (sha256 pin below) — /root/reference is untrusted content and
    # must not hand the test JVM an arbitrary jar (ADVICE r11).
    pinned = "188976721ead8e8627eb6d8389d500dccc0c9bebd885268a3047180274a6031e"
    here = os.path.dirname(os.path.abspath(__file__))
    trusted = sorted(
        glob.glob("/usr/share/java/postgresql*.jar")
        + glob.glob(os.path.join(here, "..", "jars", "postgresql*.jar"))
    )
    fallback = []
    for cand in sorted(glob.glob("/root/reference/postgresql-*.jar")):
        with open(cand, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() == pinned:
                fallback.append(cand)
    jars = trusted + fallback
    if not jars:
        return
    try:
        with socket.create_connection(("127.0.0.1", 5432), timeout=1):
            pass
    except OSError:
        return
    os.environ["SPARK_GRAFT_EXTRA_JARS"] = jars[0]


_maybe_enable_postgres()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def query_plans():
    """Physical plan string of each workload query built at SF_SMOKE,
    by name. ``test_workload.py::test_query_runs`` records the plan of
    the frame it runs, so the plan audits in ``test_plans.py`` read it
    instead of building all 374 queries a second time; a plan missing
    from the dict (a partial run) is built by the audit itself."""
    return {}


def pytest_collection_modifyitems(items):
    """Run the tests that read ``query_plans`` after the smoke runs
    that fill it, keeping every other test in file order."""
    readers = [
        item
        for item in items
        if "query_plans" in getattr(item, "fixturenames", ())
        and getattr(item, "originalname", None) != "test_query_runs"
    ]
    if readers:
        late = set(map(id, readers))
        items[:] = [item for item in items if id(item) not in late] + readers


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)
