from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter for unit tests

from oracle_to_snowflake_etl_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def force_df_path(monkeypatch):
    """Pin the prefix-filter dedups' document-frequency path: ``force(True)``
    takes the partial-agg path, ``force(False)`` the window path, and
    ``force(None)`` restores the sampled decision (dedup._auto_scale_safe)
    — how path-equality and plan tests reach both paths on one corpus."""
    from oracle_to_snowflake_etl_spark.operators import dedup

    real = dedup._auto_scale_safe

    def force(path):
        monkeypatch.setattr(dedup, "_auto_scale_safe",
                            real if path is None
                            else (lambda *a, **kw: path))

    return force
