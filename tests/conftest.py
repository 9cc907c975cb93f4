import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydin_spark import get_session, register_tables  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Pins spark.sql.shuffle.partitions but not
    # spark.sql.adaptive.coalescePartitions.initialPartitionNum, which
    # get_session sizes to 8 x SPARK_GRAFT_CPUS (256 when unset). AQE
    # shuffles start at that width, so a plan-shape assertion (a skew
    # split, a partition count) must hold at any width.
    import tempfile
    warehouse = tempfile.mkdtemp(prefix="pydin_wh_")
    session = get_session("pydin-spark-tests", master="local[4]",
                          extra_conf={"spark.sql.shuffle.partitions": "4",
                                      "spark.driver.memory": "4g",
                                      "spark.sql.warehouse.dir": warehouse})
    yield session


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def views(spark, sf_dir):
    register_tables(spark, sf_dir)
    return sf_dir


_DERBY_SEQ = None  # lazy itertools.count


@pytest.fixture(params=["sqlite", "derby"])
def history_backend(request):
    """Parametrize a control-plane suite over BOTH metadata-DB
    backends (VERDICT r8 #3): ``None`` means the stdlib sqlite3
    default; otherwise a factory with the ``History(path)`` signature
    that routes every construction to an embedded-Derby database over
    the Spark driver JVM (a fresh in-memory DB per bare ``History()``,
    a path-stable one per explicit path, mirroring sqlite semantics).
    Subprocess-lifecycle tests import History locally and stay on
    sqlite by design: embedded Derby admits one JVM per database —
    cross-process sharing is what the SAME JDBC backend pointed at a
    server RDBMS URL is for."""
    if request.param == "sqlite":
        return None
    import hashlib
    import itertools

    global _DERBY_SEQ
    if _DERBY_SEQ is None:
        _DERBY_SEQ = itertools.count()
    spark = request.getfixturevalue("spark")
    from pydin_spark.scheduler.history import History as _History

    def factory(path=":memory:", url=None, **kw):
        if url is None and not str(path).startswith("jdbc:"):
            name = (f"mem{next(_DERBY_SEQ)}" if path == ":memory:"
                    else "p" + hashlib.md5(
                        str(path).encode()).hexdigest()[:12])
            url = f"jdbc:derby:memory:{name};create=true"
        return _History(url=url or path, spark=spark, **kw)

    return factory
