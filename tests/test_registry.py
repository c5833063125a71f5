"""Structural pins on the oracle registry: the exact set size of
queries() and the oracle_sql() pairing. Any edit that adds or removes a
row fails here until the pin is updated on purpose.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod


def test_registry_is_exactly_50_rows():
    q = entrymod.queries()
    assert len(q) == 50, (
        f"queries() has {len(q)} rows; the pin is 50 — update it "
        "together with the README bundling table when a row is added "
        "or removed")


def test_every_oracle_has_a_query():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert o <= q, f"oracle_sql() keys without a queries() row: {o - q}"
    # rows-only (no SQL oracle) entries must be a deliberate, short list
    rows_only = q - o
    assert rows_only <= {"streaming_parity"}, (
        f"unexpected rows-only queries (add an oracle or document "
        f"here): {rows_only}")
