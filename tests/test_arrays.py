"""Batched literal arrays (functions/arrays.py)."""

from __future__ import annotations

import pytest

from flink_cooccurrence_spark.functions.arrays import lit_doubles


def test_lit_doubles_rejects_empty_input():
    """``array()`` would parse as an untyped ``array<void>``, not
    ``array<double>`` — empty input raises instead."""
    with pytest.raises(ValueError, match="at least one element"):
        lit_doubles([])
