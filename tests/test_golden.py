"""Frozen-golden regression guard for the 12 non-SQL-derivable queries.

Each golden in tests/golden/ was computed at sf0.01, checked
bit-identical across local[8] vs local[32] (scripts/freeze_goldens.py),
and is independently derived elsewhere in the suite (networkx parity,
reference-transcription mirrors, numpy-NB mirrors, ANN recall). This
test recomputes each query at sf0.01 and asserts the normalized output
still equals the frozen golden — the same comparison the driver gate
makes through the VALUES-literal oracles in pke_spark/golden.py, so a
regression fails here before it fails there.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from pke_spark import golden  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", golden.golden_names())
def test_golden(spark, name):
    g = golden.load_golden(name)
    assert g["sf_dir"] == SF_DIR
    pdf = entry.queries()[name](spark, SF_DIR).toPandas()
    norm, dtypes = golden.normalize(pdf)
    assert list(norm.columns) == g["columns"]
    assert dtypes == g["dtypes"]
    assert len(norm) == g["n_rows"]
    rows = json.loads(norm.to_json(orient="values"))
    if rows != g["rows"]:
        n_diff = sum(1 for a, b in zip(rows, g["rows"]) if a != b)
        pytest.fail(f"{name}: {n_diff}/{len(rows)} rows differ from golden")


def test_golden_oracle_roundtrip():
    """The VALUES-literal SQL must reproduce the golden in DuckDB with
    gate-compatible dtypes (BIGINT/DOUBLE/VARCHAR)."""
    import duckdb
    con = duckdb.connect()
    for name in golden.golden_names():
        g = golden.load_golden(name)
        odf = con.execute(golden.golden_oracle_sql(name)).fetchdf()
        norm, dtypes = golden.normalize(odf)
        assert list(norm.columns) == g["columns"], name
        assert dtypes == g["dtypes"], name
        assert json.loads(norm.to_json(orient="values")) == g["rows"], name


def test_goldens_cover_all_rows_only_queries():
    """Every queries() entry has either a real SQL oracle or a frozen
    golden — the driver gate should never read `no_oracle` again."""
    qs = set(entry.queries())
    oracles = set(entry.oracle_sql())
    assert qs <= oracles, f"uncovered queries: {sorted(qs - oracles)}"
