"""Guard against the -0.0 hash hazard at the oracle boundary.

DuckDB's round() emits IEEE -0.0 when a negative value rounds to zero;
Spark pipelines generally emit +0.0.  The correctness driver's value
hash is representation-sensitive, so -0.0 vs +0.0 in ANY rounded signed
expression is a hash mismatch even when every value compares equal
(observed on `moransi` in round 5: 5 cells of 16384).  Both sides now
normalize: the Spark side routes every round through
``__spark_entry__._r0`` (round then ``+ 0.0``); the oracle SQL appends
``+ 0.0`` after every round.  These tests pin both invariants.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import duckdb
import numpy as np
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def test_spark_side_rounds_all_normalized():
    """Every Spark-side round in the driver contract goes through _r0
    (which appends +0.0); a bare F.round( reintroduces the hazard."""
    src = (REPO / "__spark_entry__.py").read_text()
    allowed = "return F.round(col, scale) + F.lit(0.0)"
    bare = [
        m for m in re.finditer(r"F\.round\(", src)
        # the single allowed site: the _r0 helper's own body
        if allowed not in src.splitlines()[src[:m.start()].count("\n")]
    ]
    assert not bare, (
        f"{len(bare)} bare F.round( sites in __spark_entry__.py — "
        "use _r0() so -0.0 normalizes to +0.0")


def _oracle_frames():
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    for name, sql in entrymod.oracle_sql().items():
        yield name, con.sql(sql).df()


def test_oracle_outputs_have_no_negative_zero():
    """Evaluate every oracle query in DuckDB at sf0.01 and assert no
    float cell is -0.0 (numpy signbit on exact zeros)."""
    offenders = []
    for name, df in _oracle_frames():
        for c in df.columns:
            col = df[c]
            if not str(col.dtype).startswith("float"):
                continue
            vals = col.to_numpy()
            neg0 = np.signbit(vals) & (vals == 0.0)
            if neg0.any():
                offenders.append((name, c, int(neg0.sum())))
    assert not offenders, f"-0.0 in oracle outputs: {offenders}"


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-v"]))
