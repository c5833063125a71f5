"""Self-tests of the benchmark: the output checker catches a dropped or
altered row, every workload runs end to end at smoke scale, and the
command refuses to run outside a full checkout.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checker  # noqa: E402
import gen  # noqa: E402


def _lines(exp: gen.Expect) -> list[str]:
    out = []
    for eid, (app, event, tid, host, cc) in exp.events.items():
        f = [""] * checker.N_FIELDS
        f[checker.APP_ID], f[checker.EVENT], f[checker.EVENT_ID] = app, event, eid
        f[checker.TXN_ID], f[checker.PAGE_URLHOST], f[checker.GEO_COUNTRY] = tid, host, cc
        out.append("\t".join(f))
    return out


@pytest.fixture(scope="module")
def expected():
    _, exp = gen.backfill_heavy(7, 20, 2)
    return exp


def test_checker_accepts_exact_output(expected):
    assert checker.check_enriched(_lines(expected), [], [], expected) == {}


def test_checker_catches_dropped_row(expected):
    assert checker.check_enriched(_lines(expected)[1:], [], [], expected) == {"missing": 1}


def test_checker_catches_altered_row(expected):
    lines = _lines(expected)
    f = lines[3].split("\t")
    f[checker.GEO_COUNTRY] = "ZZ"
    lines[3] = "\t".join(f)
    assert checker.check_enriched(lines, [], [], expected) == {"wrong_fields": 1}


def test_checker_catches_duplicate_short_line_and_bad_count(expected):
    lines = _lines(expected)
    got = checker.check_enriched(lines + lines[:1] + ["a\tb"], [],
                                 ['{"schema":"iglu:x/adapter_failures/jsonschema/1-0-0"}'],
                                 expected)
    assert got == {"duplicated": 1, "field_count": 1, "bad_adapter_failures": 1}


def test_checker_curated_duplicates_and_pii():
    rows, planted = gen.corpus(3, 200)
    extras = {i for g in planted["dup_groups"] for i in g[1:]}
    kept = [(i, t) for i, t, _ in rows if i not in extras]
    for s in planted["pii"]:
        kept = [(i, t.replace(s, "[EMAIL]")) for i, t in kept]
    assert checker.check_curated(kept, len(rows), planted) == {}
    dup = next(g[1] for g in planted["dup_groups"]
               if not any(s in rows[g[1]][1] for s in planted["pii"]))
    assert checker.check_curated(kept + [(dup, rows[dup][1])], len(rows), planted) == {
        "duplicate_survived": 1}
    pii_doc = next(i for i, t, _ in rows if planted["pii"][0] in t)
    assert checker.check_curated(kept + [(pii_doc, rows[pii_doc][1])], len(rows),
                                 planted)["pii_survived"] == 1


def test_generators_are_seeded():
    assert gen.webhook_badmix(5, 3)[0] == gen.webhook_badmix(5, 3)[0]
    assert gen.corpus(5, 50) == gen.corpus(5, 50)
    assert gen.backfill_heavy(5, 10, 2)[0] != gen.backfill_heavy(6, 10, 2)[0]


def _run(cwd, *args, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["backfill_heavy", "stream_trickle", "webhook_badmix",
                                      "curate_corpus", "backfill_1core"])
def test_smoke(workload):
    trace = "1" if workload == "webhook_badmix" else "0"
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert all(m["value"] > 0 for n, m in result["metrics"].items() if trace == "0"), result


def test_refuses_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "traces", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "backfill_heavy", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=60)
    assert p.returncode != 0 and p.stdout == ""
