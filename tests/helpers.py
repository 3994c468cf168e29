"""Shared test helpers (imported as a plain module — tests/ is on
sys.path via conftest)."""

from __future__ import annotations

import os

import pytest

FIXTURE_ROOT = os.path.join(os.path.dirname(__file__), "fixtures", "logs")


def _fixture_files(dt_dir: str) -> list[tuple[str, str]]:
    d = os.path.join(FIXTURE_ROOT, dt_dir)
    return sorted(
        (f[:-4], os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".xml")
    )


def reference_date_runner():
    """``reference_oracle.run_reference_date``, or skip the calling
    test when the upstream reference parser (its ``scrape`` module) is
    not installed on this host: reference parity can only run where
    the reference does.  Everything else in the parser and ETL tests
    runs everywhere."""
    try:
        from .reference_oracle import run_reference_date
    except ModuleNotFoundError as e:
        if e.name != "scrape":
            raise
        pytest.skip(
            "reference parity: the upstream reference parser (scrape) is "
            "not installed, so there is nothing to compare against"
        )
    return run_reference_date


def canon(df):
    """Order-insensitive stringly canonical form of a DataFrame —
    columns sorted by name, rows sorted, every cell stringified.  One
    implementation so parity tests cannot drift apart (r6 review)."""
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row) for row in df.select(*cols).collect())
