"""Output checks: a registry row's Spark result against its DuckDB
oracle over the same generated parquet, compared value- and
type-exactly and independent of row order.

The compare rule is the one of ``tests/test_oracle_parity.py``: its
value canonicalisation (``_canon``) and dtype-fidelity rule
(``_dtype_fidelity_errors``) are loaded from that file, so the benchmark
and the test suite cannot drift apart. Only the row walk is local: it
uses ``itertuples`` where the test uses ``iterrows``, which takes ~4 s
per side on a 100k-row result (``sessionize``).
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd

_PARITY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "test_oracle_parity.py",
)
_spec = importlib.util.spec_from_file_location("_oracle_parity", _PARITY)
_parity = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_parity)


def oracle_connection(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _rows(pdf: pd.DataFrame) -> tuple[list[tuple], list[str]]:
    """Canonical rows over sorted columns, in a fixed order."""
    cols = sorted(pdf.columns)
    rows = [tuple(_parity._canon(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=repr), cols


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal; otherwise the first difference, in words."""
    grows, gcols = _rows(got)
    wrows, wcols = _rows(want)
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if len(grows) != len(wrows):
        return f"row count {len(grows)} vs {len(wrows)}"
    for i, (a, b) in enumerate(zip(grows, wrows)):
        if a != b:
            return f"row {i}: {a} vs {b}"
    errors = _parity._dtype_fidelity_errors(got, want)
    return "; ".join(errors) if errors else None

