"""Every tools/stress.py entry at its ``small`` scale in the shared
session: the invariants each entry asserts (dispatch parity, sketch
bounds, graph identities) fail here instead of only in a
multi-million-row run by hand."""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import stress  # noqa: E402


@pytest.mark.parametrize("name", list(stress.ENTRIES))
def test_entry_small(spark, name):
    fn = stress.ENTRIES[name]
    res = fn(spark, fn.small)
    assert res and json.dumps(res)
