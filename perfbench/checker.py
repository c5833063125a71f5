"""Output checker: compares the engine's sinks with the generator's `Expect`.

Every check failure is counted against the records attempted; the run is
correct only when the count is zero.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

# positions in the canonical 131-field enriched-event TSV
N_FIELDS = 131
APP_ID, EVENT, EVENT_ID, TXN_ID, GEO_COUNTRY, PAGE_URLHOST = 0, 5, 6, 7, 18, 33


def read_lines(path: str) -> list[str]:
    out: list[str] = []
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p, encoding="utf-8") as f:
            out.extend(line.rstrip("\n") for line in f if line.strip())
    return out


def bad_type(line: str) -> str:
    """Bad-row type from the self-describing badrows schema URI."""
    try:
        schema = json.loads(line)["schema"]
    except (ValueError, KeyError, TypeError):
        return "unparseable"
    return schema.split("/")[1] if "/" in schema else "unparseable"


def check_enriched(good: list[str], failed: list[str], bad: list[str], exp) -> dict:
    """1-in/1-out accounting per event id, 131 fields per good/failed line,
    spot-checked fields, and the exact planted-bad count per bad-row type.
    Returns the problem counts; their sum is the number of failed records."""
    problems = Counter()
    seen = Counter()
    anonymous = 0
    for line in good + failed:
        f = line.split("\t")
        if len(f) != N_FIELDS:
            problems["field_count"] += 1
            continue
        eid = f[EVENT_ID]
        want = exp.events.get(eid)
        if want is None:
            anonymous += 1
            continue
        seen[eid] += 1
        got = (f[APP_ID], f[EVENT], f[TXN_ID], f[PAGE_URLHOST], f[GEO_COUNTRY])
        if got != want:
            problems["wrong_fields"] += 1
    problems["missing"] = sum(1 for e in exp.events if e not in seen)
    problems["duplicated"] = sum(n - 1 for n in seen.values())
    problems["anonymous_count"] = abs(anonymous - exp.anonymous_good)
    got_bad = Counter(bad_type(b) for b in bad)
    for t in set(got_bad) | set(exp.bad):
        problems["bad_" + t] = abs(got_bad.get(t, 0) - exp.bad.get(t, 0))
    return {k: v for k, v in problems.items() if v}


def check_curated(rows: list[tuple[int, str]], n_in: int, planted: dict) -> dict:
    """No planted exact duplicate group keeps more than one member, no
    planted PII string survives, and every output id is an input id."""
    problems = Counter()
    ids = Counter(i for i, _ in rows)
    problems["unknown_or_repeated_id"] = sum(
        n for i, n in ids.items() if not 0 <= i < n_in) + sum(n - 1 for n in ids.values())
    for group in planted["dup_groups"]:
        problems["duplicate_survived"] += max(0, sum(1 for i in group if i in ids) - 1)
    text = "\n".join(t for _, t in rows)
    problems["pii_survived"] = sum(1 for s in planted["pii"] if s in text)
    return {k: v for k, v in problems.items() if v}
