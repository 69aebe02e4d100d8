"""``tools/stream_scaling.py``'s growth exponent, without Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from stream_scaling import _alpha, _scaled


def test_alpha_is_the_log_ratio_exponent():
    assert _alpha(1.0, 10.0, 10) == 1.0
    assert _alpha(2.0, 4.0, 4) == 0.5
    assert _alpha(0.0, 1.0, 10) is None  # a leg rounded to 0 s


def test_same_row_count_at_both_scales_has_no_alpha():
    """Two scales that amplify to the same changelog give factor 1;
    ``log(1) == 0`` must read as no alpha, not divide by zero."""
    leg = {"sec": 0.5, "rows": 100_000, "rows_per_sec": 200_000}
    assert _alpha(0.5, 0.6, 1) is None
    assert _scaled({"legs": {"merge": leg}}, {"legs": {"merge": leg}}, "merge")["alpha_x10"] is None
