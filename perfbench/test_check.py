"""The output check flags what the oracle-parity test flags.

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from check import frame_mismatch  # noqa: E402


def test_equal_frames_in_any_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
    b = pd.DataFrame({"v": [float("nan"), 0.5], "k": [2, 1]})
    assert frame_mismatch(a, b) is None


def test_value_and_shape_differences():
    a = pd.DataFrame({"k": [1, 2]})
    assert "row 1" in frame_mismatch(a, pd.DataFrame({"k": [1, 3]}))
    assert "row count" in frame_mismatch(a, pd.DataFrame({"k": [1]}))
    assert "columns" in frame_mismatch(a, pd.DataFrame({"j": [1, 2]}))


def test_widened_oracle_dtype_is_a_mismatch():
    got = pd.DataFrame({"s": pd.Series([3], dtype="int64")})
    assert "typed int64" in frame_mismatch(got, pd.DataFrame({"s": [3.0]}))
