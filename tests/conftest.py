from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from flink_parameter_server_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    s = get_spark("fps-tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_scratch():
    """Free every scratch-pinned frame a test leaves behind, whether it
    passed or failed, so a later test's job-count and storage pins start
    from an empty scratch. Module-scoped fixtures hold paths, collected
    rows or plain frames, never scratch-pinned ones."""
    yield
    from flink_parameter_server_spark import scratch

    scratch.release()


@pytest.fixture()
def checkpointed_plans(monkeypatch) -> list[str]:
    """The executed plan of every frame a kernel push hands to
    ``kernel.scoped_checkpoint``, in call order: the params themselves
    are checkpoint scans, so the fold and the merge are only in view on
    their way into the cut. Wraps the name the kernel calls, as the
    traced benchmark does."""
    from flink_parameter_server_spark.ps import kernel

    plans: list[str] = []
    real = kernel.scoped_checkpoint

    def recording(df, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *a, **kw)

    monkeypatch.setattr(kernel, "scoped_checkpoint", recording)
    return plans


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    from flink_parameter_server_spark.sources import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
