"""Registry-wide physical-plan lint (r13): every queries() row's plan
is checked for the global scale invariants, with a pinned AUDIT for the
survivors — the per-operator plan-contract specs cover the named heavy
ops; this sweep guarantees no query ANYWHERE in the registry quietly
grows a cartesian product, a row-at-a-time Python stage, or an
unaudited single-partition exchange / nested-loop join.

Every allowlist entry is an audited bounded shape (one-row scalar
rollups, tiny literal dimension tables, brute-force ANN baselines whose
scale path is a different part) and names the bundle part that carries
it — adding a name here requires the same audit, which is the point.
An entry whose row no longer exists is removed, so a dead entry cannot
hide a regression.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.001"

# name -> why the BroadcastNestedLoopJoin is bounded
BNLJ_AUDITED = {
    "ann_cosine_topk": "brute-force baseline (scale path = IVF/LSH rows)",
    "ann_ivf_topk": "pq_adc part: codebook broadcast (k x m literals); "
                    "recall part joins the brute ground truth",
    "ann_lsh_topk": "recall parts join the brute ground truth by "
                    "construction",
    "decontam_multi": "kmv part: one-row sketch scalars; drift part: "
                      "two one-row (T, V) scalars",
    "embedding_dup_pairs": "pairs part: brute-force all-pairs baseline "
                           "(scale path = lsh_pairs part); margin part: "
                           "fixed 40-row source slice",
    "metadata_aggregation": "fit part: one-row Gram-sum scalars",
    "text_analysis": "sbo part: one-row total-token scalar (T); bm25 "
                     "part: fixed literal query-terms table",
}

# name -> why the Exchange SinglePartition is bounded (one-row rollups:
# partial aggregate below the exchange, exactly one row through it)
SINGLE_PARTITION_AUDITED = {
    "ann_lsh_topk": "recall_sum part: recall@k one-row summary",
    "data_mix": "one-row mix totals",
    "decontam_multi": "kmv part: one-row sketch totals; drift part: "
                      "one-row divergence summary",
    "metadata_aggregation": "card part: the data card IS a one-row "
                            "aggregate; fit part: one-row Gram sums; "
                            "skew part: one-row total",
    "pii_pseudonymize": "k-anonymity one-row risk report (kanon_rpt)",
    "text_analysis": "sbo part: one-row total-token scalar; bm25 part: "
                     "one-row corpus stats (avgdl, N)",
}

# name -> why the BatchEvalPython is acceptable: fixture synthesis (a
# production input arrives already encoded). Every operator path is
# Arrow-batched, service lookups included (lookups.cached_lookup). Keep
# this list MINIMAL: a dead entry here masks a real operator-path
# regression.
BATCH_EVAL_AUDITED = {
    "thrift_loader": "fixture-side thrift ENCODE udf; decode is Arrow",
}


def test_every_bench_query_plan_passes_the_lint(spark):
    import __spark_entry__ as e

    queries = e.queries()
    failures = []
    for name, fn in sorted(queries.items()):
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan() \
            .toString()
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct (never allowed)")
        if ("BroadcastNestedLoopJoin" in plan
                and name not in BNLJ_AUDITED):
            failures.append(f"{name}: unaudited BroadcastNestedLoopJoin")
        if ("Exchange SinglePartition" in plan
                and name not in SINGLE_PARTITION_AUDITED):
            failures.append(f"{name}: unaudited Exchange SinglePartition")
        if ("BatchEvalPython" in plan
                and name not in BATCH_EVAL_AUDITED):
            failures.append(
                f"{name}: row-at-a-time BatchEvalPython (use Arrow)")
    assert failures == [], "\n".join(failures)
