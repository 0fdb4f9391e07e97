"""The local oracle gate must be AT LEAST as strict as the driver's hasher.

Round-10 regression pin: ``heaps_law_fit_tokens`` passed the local gate but
failed the driver because ``tools/check_correctness.py`` used to normalize
``-0.0`` to ``0.0`` while the driver hashes the reprs apart.  These tests pin
the strict behavior so the leniency can never silently return.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_CHECKER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "check_correctness.py",
)


def _checker():
    spec = importlib.util.spec_from_file_location("check_correctness", _CHECKER)
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("check_correctness", mod)
    spec.loader.exec_module(mod)
    return mod


def test_negative_zero_fails_the_hash():
    m = _checker()
    h_pos = m.value_hash([(0.0,)], ["beta"])
    h_neg = m.value_hash([(-0.0,)], ["beta"])
    assert h_pos != h_neg, (
        "-0.0 vs 0.0 MUST hash apart (driver distinguishes them; the "
        "lenient local gate masked the r10 heaps_law_fit_tokens failure)"
    )


def test_negative_zero_cell_repr():
    m = _checker()
    assert m._norm_cell(-0.0) == "-0.0"
    assert m._norm_cell(0.0) == "0.0"


def test_nan_and_null_still_normalized():
    m = _checker()
    assert m._norm_cell(float("nan")) == "nan"
    assert m._norm_cell(None) == "\\N"
