"""Plan-contract specs — lock in the physical-plan properties SCALE.md
claims for 100 TB (shuffle budget, broadcast-only lookups, zero Python
in the default chain). A regression here is a scale regression even if
every value-level test stays green.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from enrich_spark.config import EnrichmentsConfig, IpLookupsConf, YauaaConf
from enrich_spark.plans.pipeline import enrich_raw


def _raw(spark, n=64):
    ev = spark.range(n).select(
        F.col("id").alias("src_event_id"),
        F.create_map(
            F.lit("e"), F.lit("pv"),
            F.lit("p"), F.lit("web"),
            F.lit("aid"), F.concat(F.lit("app-"), (F.col("id") % 3).cast("string")),
            F.lit("url"), F.lit("https://x.com/p?utm_source=nl&utm_medium=m"),
            F.lit("refr"), F.lit("https://www.google.com/search?q=x"),
            F.lit("dtm"), F.lit("1699999999000"),
        ).alias("parameters"),
        F.lit("81.2.69.142").alias("ip_address"),
        F.lit("Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0.0 Safari/537.36")
        .alias("useragent"),
        F.timestamp_seconds(F.lit(1700000000)).alias("collector_tstamp"),
    )
    return ev


def _plan(df) -> str:
    df.collect()  # materialize THIS plan so AQE finalizes (isFinalPlan=true)
    return df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
        .explainString(df._jdf.queryExecution(), "formatted")


def test_default_chain_plan_contract(spark):
    """Default chain (SCALE.md §1): zero Python stages, zero sort-merge
    joins, only broadcast exchanges, codegen engaged."""
    cfg = EnrichmentsConfig.default()
    cfg.yauaa = YauaaConf()
    cfg.ip_lookups = IpLookupsConf()
    res = enrich_raw(_raw(spark), cfg, spark)
    plan = _plan(res.good)
    assert "EvalPython" not in plan, "default chain must stay JVM-side"
    assert "SortMergeJoin" not in plan, "lookups must broadcast, not shuffle"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, \
        "range joins must stay hash joins on the bucket key"
    assert "BroadcastHashJoin" in plan  # referer/geo dims
    # whole-stage codegen engaged (deliberately segmented by the
    # plans/stagecut.py boundaries, so assert presence, not span count)
    assert "codegen id" in plan
    # the WIDE (131-column) stages must codegen too: the default
    # spark.sql.codegen.maxFields=100 silently dropped every chain
    # projection to interpreted mode until session.py raised it
    # (measured: tsv_serialize -40% at sf0.1)
    import re

    final = plan.split("== Initial Plan ==")[0]
    marks = re.findall(r"^[\s:+|-]*(\*?)\s*Project \(\d+\)", final, re.M)
    assert sum(1 for m in marks if m) >= len(marks) // 2, \
        f"most chain projections lost codegen: {marks}"


def test_minhash_lsh_plan_contract(spark):
    """Candidate generation is a bucketed equi-join (SCALE.md §4):
    never a cartesian/nested-loop pair explosion."""
    from enrich_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.range(32).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some repeated words here body "),
                 (F.col("id") % 7).cast("string")).alias("text"),
    )
    plan = _plan(minhash_lsh_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r14 (the r13 pair-family rule applied to the jaccard verify): the
    # pair-dedup aggregate consumes POST-verify rows — no Filter above
    # it, and the dedup exchange moves (id_a, id_b, jaccard) only,
    # never the shingle arrays
    final = plan.split("== Initial Plan ==")[0]
    tree = [ln for ln in final.splitlines() if "(" in ln]
    agg_idx = next(i for i, ln in enumerate(tree) if "Aggregate" in ln)
    assert not any("Filter" in ln for ln in tree[:agg_idx]), final
    import re
    assert "first(jaccard" in plan, plan
    agg_inputs = re.findall(
        r"\(\d+\) \w*Aggregate[^\n]*\nInput \[\d+\]: (\[[^\n]*\])", plan)
    assert agg_inputs, final
    for cols in agg_inputs:
        assert "_sh" not in cols and "sh_a" not in cols, (cols, final)


def test_sessionize_single_shuffle(spark):
    """One keyed shuffle (user_id window), nothing else."""
    import datetime as dt

    from enrich_spark.datapipe.session import sessionize

    df = spark.createDataFrame(
        [("u1", dt.datetime(2026, 1, 1, 12, 0, 0), "e1")],
        "user_id STRING, ts TIMESTAMP, event_id STRING",
    )
    plan = _plan(sessionize(df))
    # exactly one Exchange (the session window's user_id partitioning)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan
    assert "EvalPython" not in plan


def test_curation_plan_contracts(spark):
    """scrub/sample are zero-shuffle zero-Python map plans; packing is
    exactly the two window exchanges (group key, then seq_id)."""
    from enrich_spark.datapipe.curation import (
        pack_sequences, scrub_text_pii, stratified_sample,
    )

    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
        F.lit("some words in a row here").alias("text"),
    )
    for df in (scrub_text_pii(docs),
               stratified_sample(docs, {"src0": 0.5})):
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange") == 0
        assert "EvalPython" not in plan

    plan = _plan(pack_sequences(docs, budget_tokens=16))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 2  # group window + seq_id window
    assert "EvalPython" not in plan


def test_contamination_broadcast_contract(spark):
    """Benchmark gram maps must reach the corpus as broadcast joins —
    never a shuffled join keyed on gram hashes."""
    from enrich_spark.datapipe.dedup import (
        contamination_check, contamination_check_multi,
    )

    docs = spark.range(32).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("words repeated across documents body "),
                 (F.col("id") % 5).cast("string"),
                 F.lit(" and more filler words to clear the k window")).alias("text"),
    )
    bench = docs.where(F.col("doc_id") % 8 == 0).select(
        F.col("doc_id").alias("bench_id"), "text")
    plan = _plan(contamination_check(docs, bench, k=8))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(contamination_check_multi(
        docs, [("a", bench.select("text"), 8), ("b", bench.select("text"), 13)]))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_split_serialize_codegen_compiles(spark):
    """The tri-state split + sink serialization stages must COMPILE under
    whole-stage codegen — r6's full-suite runs logged 7× Janino 'Code
    grows beyond 64 KB' fallbacks (the 131-column transform projection
    inlined a double regexp_replace per toTsvSafe column), silently
    running the hottest full-width path interpreted. With
    spark.sql.codegen.fallback=false a compile failure raises instead of
    degrading, so this test pins the fix (transform.py map-level
    cleaning + serialize.py stage boundaries)."""
    from enrich_spark.plans.serialize import bad_rows_json, to_tsv

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        cfg = EnrichmentsConfig.default()
        cfg.yauaa = YauaaConf()
        cfg.ip_lookups = IpLookupsConf()
        res = enrich_raw(_raw(spark), cfg, spark)
        assert to_tsv(res.good, max_bytes=1_000_000).collect()
        bad_rows_json(res.all.limit(8)).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_r8_text_ops_plan_contracts(spark):
    """html_extract / url_normalize / c4_filters / apply_bpe are
    zero-shuffle zero-Python map plans (scan-speed at any corpus
    size); BPE additionally may not collapse into one oversized
    projection (stage boundaries between replace layers)."""
    from enrich_spark.datapipe.bpe import apply_bpe
    from enrich_spark.datapipe.curation import c4_filters
    from enrich_spark.datapipe.webtext import html_extract, url_normalize

    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.lit("<p>Some words. In a row here!</p>").alias("html"),
        F.lit("Some words. In a row here!").alias("text"),
        F.lit("https://www.example.com/a//b/?utm_source=x&b=1").alias("url"),
    )
    merges = [("e", "r"), ("o", "w"), ("er", "_")]
    for df in (html_extract(docs), url_normalize(docs),
               c4_filters(docs), apply_bpe(docs, merges)):
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange") == 0, plan
        assert "EvalPython" not in plan
    # the pure replace/regexp chain (BPE) stays in whole-stage codegen;
    # html/url/c4 use higher-order array functions, which are
    # CodegenFallback by Spark design — JVM-interpreted expressions,
    # still zero-Python and map-side (documented cost of HOFs)
    bpe_final = _plan(apply_bpe(docs, merges)).split("== Initial Plan ==")[0]
    assert "codegen id" in bpe_final


def test_warc_parse_plan_contract(spark):
    """parse_warc is exactly one Arrow-batched python stage over a
    pruned (file_id, content) input — no shuffle before or after."""
    import pandas as pd

    from enrich_spark.sources.warc import parse_warc

    files = spark.createDataFrame(
        pd.DataFrame({"file_id": [1], "content": [b""]}))
    plan = _plan(parse_warc(files))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 0
    assert plan.count("MapInPandas (") == 1  # tree node, once


def test_heavy_hitters_plan_contract(spark):
    """Pass 1 is the ONLY Python stage (one mapInPandas Misra-Gries
    summary per partition); the exact confirm pass joins the candidate
    set by BROADCAST — the value space itself is never sort-merge
    joined or shuffled wholesale."""
    from enrich_spark.datapipe.sketches import heavy_hitters

    df = spark.range(2000).select(
        (F.col("id") % 50).cast("string").alias("v")).repartition(4)
    plan = _plan(heavy_hitters(df, "v", support=0.02))
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert "BroadcastHashJoin" in final
    # two scans TOTAL of the input: the MG pass ran eagerly and was
    # collected driver-side (bounded, ≤(k+1)·numPartitions rows — N
    # comes from its per-partition summary rows, no separate count()
    # scan, and nothing stays persisted to squeeze executor storage);
    # the candidate side is therefore a driver-local table
    # (LocalTableScan), and the returned confirm plan reads the input
    # exactly once with ZERO Python stages.
    assert "MapInPandas" not in final
    assert "Scan ExistingRDD" in final  # driver-built candidate table
    tree = final.split("\n\n")[0]       # tree section, not the details
    assert tree.count("Range") == 1     # input read exactly once


def test_bloom_decontam_probe_is_native(spark):
    """The Bloom membership probe is a pure JVM expression over the
    corpus scan — no Python stage anywhere in the plan (the filter is
    a literal long array folded into the plan)."""
    from enrich_spark.datapipe.dedup import contamination_check_bloom

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")],
        "doc_id INT, text STRING")
    bench = spark.createDataFrame(
        [(9, "a b c d e f g h")], "bench_id INT, text STRING")
    plan = _plan(contamination_check_bloom(docs, bench, k=8,
                                           m_bits=1 << 10))
    assert "EvalPython" not in plan
    assert "MapInPandas" not in plan


def test_dsir_topk_plan_contract(spark):
    """apply_dsir(top_k=…) must NOT sort the whole scored corpus in one
    partition: the top-k compiles to TakeOrderedAndProject (distributed
    per-partition top-k + k-row merge) and the only single-partition
    window ranks the ≤k survivors."""
    from enrich_spark.datapipe.dsir import apply_dsir, gumbel_top_k

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma doc "),
                 F.col("id").cast("string")).alias("text"))
    ratios = [(b, (b % 7) - 3) for b in range(64)]
    for df in (
        apply_dsir(docs, ratios, n_buckets=64, top_k=10),
        gumbel_top_k(apply_dsir(docs, ratios, n_buckets=64), k=10),
    ):
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        assert "TakeOrderedAndProject" in final
        # the rank Window (single-partition by nature) must sit ABOVE
        # the top-k, i.e. its subtree input is the k-row limit — a
        # Window directly over the corpus aggregate is the r9 bug
        tree = final.split("\n\n")[0]
        lines = tree.splitlines()
        win = next(i for i, ln in enumerate(lines) if "Window" in ln)
        assert any("TakeOrderedAndProject" in ln for ln in lines[win:])
        assert not any("TakeOrderedAndProject" in ln for ln in lines[:win])


def test_no_unpartitioned_window_in_datapipe_source():
    """Source-level lockout: `Window.orderBy(...)` with no partitionBy
    moves the whole frame through ONE partition — forbidden across the
    datapipe/plans operator modules except the bounded-input helper
    `_ranked_top_k` (its window input is capped at k rows by a
    TakeOrderedAndProject, asserted above)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "enrich_spark"
    offenders = []
    for sub in ("datapipe", "plans"):
        for p in sorted((root / sub).glob("*.py")):
            src = p.read_text()
            for m in re.finditer(r"Window\s*\.\s*orderBy", src):
                line = src[:m.start()].count("\n") + 1
                ctx = src[max(0, m.start() - 2000):m.start()]
                if "_ranked_top_k" in ctx.rsplit("def ", 1)[-1]:
                    continue  # the one audited bounded-input site
                offenders.append(f"{p.name}:{line}")
    assert offenders == [], (
        f"unpartitioned Window.orderBy outside _ranked_top_k: {offenders}")


def test_boilerplate_lines_plan_contract(spark):
    """Frequent-line removal is two key-hashed shuffles (digest groupBy,
    doc reassembly) + equi-joins: never a cartesian/nested-loop pair
    join, zero Python stages, and no unpartitioned global sort."""
    from enrich_spark.datapipe.dedup import remove_boilerplate_lines

    docs = spark.range(32).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique body line "), F.col("id").cast("string"),
                 F.lit("\nsubscribe to our newsletter today\ntail "),
                 (F.col("id") % 5).cast("string")).alias("text"),
    )
    plan = _plan(remove_boilerplate_lines(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for pyop in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert pyop not in plan
    # every Sort is either inside a partitioned window/agg or absent;
    # a global single-partition ordering would appear as Sort over a
    # SinglePartition exchange
    assert "Exchange SinglePartition" not in plan, plan


def test_pair_dedup_exchange_above_hamming_filter(spark):
    """r13 (verdict #1): in simhash_pairs / hamming_pairs the Hamming
    filter commutes with the pair dedup (hamming is a pure function of
    the pair), so the dedup aggregate must consume POST-filter rows —
    the dedup exchange never carries band collisions the filter drops
    for free. Catalyst can't push a filter on a non-grouping column
    below an aggregate, so this ordering is source-level load-bearing
    (the containment-prefix rule, dedup.py)."""
    from enrich_spark.datapipe.dedup import hamming_pairs, simhash_pairs

    hashes = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.xxhash64("id").bitwiseAND(F.lit(0xFFFF).cast("long"))
        .alias("hash"),
    )
    docs = spark.range(32).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("repeated body words here "),
                 (F.col("id") % 5).cast("string")).alias("text"),
    )
    for df in (hamming_pairs(hashes, max_hamming=3),
               simhash_pairs(docs, max_hamming=3)):
        plan = _plan(df)
        final = plan.split("== Initial Plan ==")[0]
        tree = [ln for ln in final.splitlines() if "(" in ln]
        agg_idx = next(i for i, ln in enumerate(tree)
                       if "HashAggregate" in ln)
        # nothing above the dedup aggregate filters pairs: the hamming
        # predicate is merged into the join (broadcast case) or sits
        # as a Filter BELOW the aggregate — never above it
        assert not any("Filter" in ln for ln in tree[:agg_idx]), final
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_lookup_chain_plan_contract(spark, tmp_path):
    """The service lookups (api_request, weather, identity) stay inside
    the one enrich projection: the source is scanned once, and no
    aggregate, MapInPandas or row-at-a-time Python stage appears — no
    collected key table joined back onto the events."""
    from enrich_spark.streaming.runner import StreamConfig, run_batch
    from tests.conftest import lookup_chain_config, lookup_chain_payloads

    src = str(tmp_path / "in")
    spark.createDataFrame(lookup_chain_payloads(16), "value BINARY").write.parquet(src)
    *_, annotated = run_batch(spark, spark.read.parquet(src),
                              StreamConfig(enrichments=lookup_chain_config()))
    annotated.collect()
    final = annotated._jdf.queryExecution().executedPlan().toString() \
        .split("Initial Plan")[0]
    scans = [ln for ln in final.splitlines() if "FileScan" in ln and src in ln]
    assert len(scans) == 1, final
    for node in ("HashAggregate", "MapInPandas", "BatchEvalPython"):
        assert node not in final, f"{node} in the lookup chain:\n{final}"
    assert "ArrowEvalPython" in final
