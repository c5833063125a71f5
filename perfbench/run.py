"""End-to-end benchmark of the enrich engine.

    python3 perfbench/run.py --workload backfill_heavy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds every input from --seed, runs one
workload through the engine's public entry points on local[nproc], checks
the outputs and prints, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}

--trace 0 reports the end-to-end metrics; --trace 1 makes a separate,
traced run and reports the per-layer metrics (README.md has both lists).
Everything else goes to stderr. The exit status is non-zero when the
output check fails. Spark runs from a scratch directory under
perfbench/_work, removed at exit; traces are written to perfbench/traces.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("backfill_heavy", "stream_trickle", "webhook_badmix", "curate_corpus",
             "backfill_1core")

E2E_UNITS = {"setup_s": "s", "records_per_s": "1/s", "cpu_s_per_krecord": "s",
             "peak_rss_mb": "MB"}

ENRICH_LAYERS = ["sources.explode", "loaders.load_thrift", "adapters.adapt", "plans.transform",
                 "operators.ua", "operators.currency", "operators.referer",
                 "operators.campaign", "operators.cross_navigation", "operators.fingerprint",
                 "operators.yauaa", "operators.ip_lookups", "operators.asn",
                 "operators.script_js", "operators.anon_ip", "operators.pii",
                 "functions.iglu", "plans.split", "plans.serialize.tsv",
                 "plans.serialize.badrow"]
CURATE_STEPS = ["normalize_text", "language_id", "min_quality", "c4_keep", "pii_scrub",
                "exact_dedup_keep", "near_dedup_keep"]

LAYER_UNITS = {f"{n}.busy_s": "s" for n in ENRICH_LAYERS}
LAYER_UNITS.update({
    "plans.build_s": "s", "loaders.errors": "count", "adapters.fanout": "ratio", "adapters.errors": "count",
    "functions.iglu.invalid": "count", "plans.serialize.bytes_out": "bytes",
    "outcome.good": "count", "outcome.bad": "count", "outcome.failed": "count",
    "outcome.useful_ratio": "ratio", "failed_ops_frac": "ratio",
    "trace.records_per_s": "1/s", "trace.blocking_self_s": "s",
    "host.load_1m": "load", "host.steal_s": "s",
})
# stream_trickle and curate_corpus are not in BENCHMARK.json; their runs
# add these to the metrics above
STREAM_E2E_UNITS = {"e2e_latency_p50_s": "s", "e2e_latency_p99_s": "s"}
STREAM_UNITS = {"streaming.process_s": "s", "streaming.sink_write_s": "s",
                "streaming.jobs_per_batch": "count", "streaming.stages_per_batch": "count",
                "streaming.queue_wait_s": "s", "gen.lag_max_s": "s", "gen.records_sent": "count"}
CURATE_UNITS = {f"datapipe.{n}.busy_s": "s" for n in CURATE_STEPS}
CURATE_UNITS["datapipe.rows_kept_ratio"] = "ratio"

# input size per second of --seconds: 60 backfill payloads are ~300
# events (README.md has the measured job's fixed and per-event shares)
BACKFILL_PAYLOADS_PER_S = 60
WARM_PAYLOADS = 20             # the batch workloads' warm-up input
# a run must end within 180 s; on a busy host the traced layer walk stops
# here and the layers it did not reach read 0
WALK_DEADLINE_S = 140
BADMIX_ARCHIVES_PER_S = 2
CURATE_DOCS_PER_S = 30


class Run:
    """State of one benchmark run: arguments, scratch directory, tracer,
    process sampler, and the metrics gathered so far."""

    def __init__(self, args):
        import spans

        self.args = args
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
        self.tracer = spans.Tracer(bool(args.trace), f"{args.workload}-seed{args.seed}")
        self.sampler = spans.ProcSampler()
        self.host0 = spans.host_state()
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: dict = {}
        self.spark = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def prepare_env(self) -> None:
        """Scratch cwd (derby.log, spark-warehouse, temp files land there),
        PYTHONPATH for the Python workers, cores pinned to nproc."""
        for d in ("local", "tmp", "in", "out", "assets"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_LOCAL_DIRS": self.path("local"),
            "TMPDIR": self.path("tmp"),
            "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [
                p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--driver-java-options -Djava.io.tmpdir={self.path('tmp')} pyspark-shell"),
        })
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        os.chdir(self.work)

    def session(self, cpus: int | None = None):
        from enrich_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=cpus or self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def latency(self, samples: list[tuple[float, int]]) -> None:
        """samples: (latency_s, n_records). Median and p99 over records."""
        flat = sorted(samples)
        total = sum(n for _, n in flat)

        def pct(q):
            k, acc = q * total, 0
            for v, n in flat:
                acc += n
                if acc >= k:
                    return v
            return flat[-1][0]

        self.metrics["e2e_latency_p50_s"] = pct(0.5)
        self.metrics["e2e_latency_p99_s"] = pct(0.99)


# --- enrich batch workloads ---------------------------------------------------

def _write_messages(run: Run, files: list[list[bytes]], sub: str = "in") -> str:
    """Write one parquet file of thrift messages per list, replacing
    whatever the directory held."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = run.path(sub)
    os.makedirs(d, exist_ok=True)
    for name in os.listdir(d):
        os.remove(os.path.join(d, name))
    for i, msgs in enumerate(files):
        pq.write_table(pa.table({"value": pa.array(msgs, pa.binary())}),
                       os.path.join(d, f"part{i:03d}.parquet"))
    return d


def _heavy_enrichments(run: Run, spark):
    """Default set + ip/asn lookups from generated .mmdb files, yauaa, PII,
    currency conversion, a JavaScript enrichment and Iglu validation."""
    import gen
    from enrich_spark.config import (
        AsnLookupsConf, CurrencyConversionConf, EnrichmentsConfig, IgluConf,
        IpLookupsConf, PiiPseudonymizerConf, YauaaConf)
    from enrich_spark.functions.mmdb import build_mmdb
    from enrich_spark.operators.geo import mmdb_asn_table, mmdb_range_table
    from enrich_spark.operators.script import javascript_config_to_hook

    paths = {}
    for name, ranges, db_type in (("geo", gen.geo_ranges(), "GeoIP2-City"),
                                  ("asn", gen.asn_ranges(), "GeoLite2-ASN")):
        paths[name] = run.path("assets", f"{name}.mmdb")
        with open(paths[name], "wb") as f:
            f.write(build_mmdb(ranges, database_type=db_type))
    geo_pq, asn_pq = run.path("assets", "geo.parquet"), run.path("assets", "asn.parquet")
    mmdb_range_table(spark, city=paths["geo"]).write.mode("overwrite").parquet(geo_pq)
    mmdb_asn_table(spark, paths["asn"]).write.mode("overwrite").parquet(asn_pq)
    cfg = EnrichmentsConfig.default()
    cfg.ip_lookups = IpLookupsConf(geo_path=geo_pq)
    cfg.asn_lookups = AsnLookupsConf(ranges_path=asn_pq)
    cfg.yauaa = YauaaConf()
    cfg.pii_pseudonymizer = PiiPseudonymizerConf()
    cfg.currency_conversion = CurrencyConversionConf()
    cfg.javascript_script = javascript_config_to_hook(gen.js_script_config())
    cfg.iglu = IgluConf(schemas=dict(gen.SCHEMAS))
    return cfg


def _light_enrichments():
    import gen
    from enrich_spark.config import EnrichmentsConfig, IgluConf

    cfg = EnrichmentsConfig.default()
    cfg.iglu = IgluConf(schemas=dict(gen.SCHEMAS))
    return cfg


def _write_sinks(outputs, out: str) -> None:
    """The four sinks of one batch, written the way the streaming runner
    writes a micro-batch: one pass over the persisted annotated frame."""
    from pyspark.sql import functions as F

    good, bad, failed, meta, annotated = outputs
    annotated.persist()
    try:
        good.write.mode("overwrite").text(os.path.join(out, "good"))
        bad.withColumnRenamed("bad_row", "value").write.mode("overwrite").text(
            os.path.join(out, "bad"))
        failed.write.mode("overwrite").text(os.path.join(out, "failed"))
        meta.withColumn("batch_id", F.lit(0)).write.mode("overwrite").json(
            os.path.join(out, "metadata"))
    finally:
        annotated.unpersist()


def _check_sinks(run: Run, out: str, exp) -> None:
    import checker

    good, failed, bad = (checker.read_lines(os.path.join(out, s))
                         for s in ("good", "failed", "bad"))
    run.problems = checker.check_enriched(good, failed, bad, exp)
    run.failed += sum(run.problems.values())
    # Iglu rejections (invalid envelopes and invalid data) are the
    # schema_violations bad rows
    iglu_invalid = sum(checker.bad_type(line) == "schema_violations" for line in bad)
    run.layers.update({"functions.iglu.invalid": iglu_invalid,
                       "outcome.good": len(good), "outcome.bad": len(bad),
                       "outcome.failed": len(failed),
                       "outcome.useful_ratio": len(good) / max(1, exp.records)})


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d)
               for f in fs if f.startswith("part-"))


class LayerCapture:
    """Wraps the engine's public plan-building functions at runtime: each
    call records a plan-build span and hands back the DataFrame it built,
    so the traced run can time every layer's execution on its own."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.frames: list[tuple[str, object]] = []

    def keep(self, name, pick=lambda x: x, latest=False):
        """Record the frame a call built under `name`: the first call's,
        or with `latest` the last one's (a layer made of two calls)."""
        def on_result(out):
            old = [i for i, (n, _) in enumerate(self.frames) if n == name]
            if old and latest:
                self.frames[old[0]] = (name, pick(out))
            elif not old:
                self.frames.append((name, pick(out)))
        return on_result

    def install_enrich(self) -> None:
        from enrich_spark.adapters import registry
        from enrich_spark.functions import iglu
        from enrich_spark.operators import currency, geo, referer, sql_enrichments, ua
        from enrich_spark.plans import pipeline
        from enrich_spark.streaming import runner

        w = self.tracer.wrap
        w(runner, "enrich_batch", "plans.build")
        w(runner, "explode_messages", "sources.explode", self.keep("sources.explode"))
        w(runner, "load_thrift", "loaders.load_thrift", self.keep("loaders.load_thrift"))
        w(registry, "adapt", "adapters.adapt", self.keep("adapters.adapt"))
        w(pipeline, "transform_params", "plans.transform", self.keep("plans.transform"))
        ops = [(ua, "user_agent_utils", "operators.ua"), (ua, "ua_parser_context", "operators.ua"),
               (currency, "currency_conversion", "operators.currency"),
               (referer, "referer_parser", "operators.referer"),
               (sql_enrichments, "campaign_attribution", "operators.campaign"),
               (sql_enrichments, "cross_navigation", "operators.cross_navigation"),
               (sql_enrichments, "event_fingerprint", "operators.fingerprint"),
               (ua, "yauaa_context", "operators.yauaa"), (geo, "ip_lookups", "operators.ip_lookups"),
               (ua, "asn_lookups", "operators.asn"), (pipeline, "script_enrichment", "operators.script_js"),
               (sql_enrichments, "anon_ip", "operators.anon_ip"),
               (sql_enrichments, "pii_pseudonymizer", "operators.pii"),
               (iglu, "validate_sdjs", "functions.iglu")]
        for mod, attr, name in ops:
            w(mod, attr, f"{name}.plan", self.keep(name, latest=True))
        w(pipeline, "enrich_raw", "plans.enrich_raw", self.keep("plans.split", lambda r: r.all))
        w(runner, "to_tsv", "plans.serialize.tsv.plan", self.keep("plans.serialize.tsv"))
        w(runner, "bad_rows_json", "plans.serialize.badrow.plan", self.keep("plans.serialize.badrow"))


def _walk_layers(run: Run, frames, source) -> None:
    """Execution self time per layer: persist each layer's input, force
    the next layer with a `noop` write, then move the cache one layer on.
    The chain is linear up to plans.split; the two serializers both read
    the split's output."""
    from pyspark.sql import functions as F

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    by_name = dict(frames)
    chain = [n for n in ENRICH_LAYERS if n in by_name and not n.startswith("plans.serialize")]
    prev = source  # cached by the caller
    noop(prev)
    counts = {}
    for name in chain:
        if time.time() - T_START > WALK_DEADLINE_S:
            print(f"layer walk stopped at {name}: run time past {WALK_DEADLINE_S}s",
                  file=sys.stderr)
            break
        df = by_name[name].persist()
        t0 = time.time()
        with run.tracer.span(f"{name}.exec", trace=run.tracer.trace_id + "-layers"):
            noop(df)
        run.layers[f"{name}.busy_s"] = time.time() - t0
        if name == "loaders.load_thrift":
            counts["rows_loaded"] = df.count()
            run.layers["loaders.errors"] = df.where(F.col("loader_error").isNotNull()).count()
        elif name == "adapters.adapt":
            run.layers["adapters.errors"] = df.where(F.col("_adapter_error").isNotNull()).count()
            run.layers["adapters.fanout"] = df.count() / max(1, counts.get("rows_loaded", 1))
        prev.unpersist()
        prev = df
    for name in ("plans.serialize.tsv", "plans.serialize.badrow"):
        if name in by_name and time.time() - T_START < WALK_DEADLINE_S:
            t0 = time.time()
            with run.tracer.span(f"{name}.exec", trace=run.tracer.trace_id + "-layers"):
                noop(by_name[name])
            run.layers[f"{name}.busy_s"] = time.time() - t0
    prev.unpersist()


def enrich_batch_workload(run: Run, make_inputs, make_cfg, stream_cfg_kw=None) -> None:
    """Shared body of the batch workloads. `make_inputs(seed, warm)` gives
    (files, Expect); `warm` asks for a small input.

    Set-up builds the plan once over a cached source holding the warm-up
    input and runs it, so the JVM's first-execution code generation is
    set-up as well. The measured job is the same plan after the input
    files are replaced by the seeded input (`refreshByPath` re-lists the
    cached source), writing all four sinks; then the check."""
    from enrich_spark.streaming import runner

    warm_files, _ = make_inputs(run.args.seed + 1_000_003, True)
    files, exp = make_inputs(run.args.seed, False)
    in_dir = _write_messages(run, warm_files)
    run.attempted = exp.records

    t_setup = time.time()
    spark = run.session()
    cfg = runner.StreamConfig(enrichments=make_cfg(run, spark), **(stream_cfg_kw or {}))
    capture = None
    if run.args.trace:
        capture = LayerCapture(run.tracer)
        capture.install_enrich()
    source = spark.read.parquet(in_dir).persist()
    t_plan = time.time()
    outputs = runner.run_batch(spark, source, cfg)
    run.layers["plans.build_s"] = time.time() - t_plan
    outputs[4].write.format("noop").mode("overwrite").save()  # warm-up: the annotated frame
    run.metrics["setup_s"] = time.time() - t_setup

    _write_messages(run, files)
    cpu0 = run.sampler.cpu_s()
    t0 = time.time()
    spark.catalog.refreshByPath(in_dir)  # the cached source re-lists its files
    _write_sinks(outputs, run.path("out"))
    wall = time.time() - t0
    cpu = run.sampler.cpu_s() - cpu0
    run.metrics["records_per_s"] = exp.records / wall
    run.metrics["cpu_s_per_krecord"] = cpu / exp.records * 1000
    _check_sinks(run, run.path("out"), exp)
    if run.args.trace:
        run.layers["trace.records_per_s"] = run.metrics["records_per_s"]
        run.layers["plans.serialize.bytes_out"] = _dir_bytes(run.path("out"))
        _walk_layers(run, capture.frames, source)
        run.layers["trace.blocking_self_s"] = sum(
            run.layers.get(f"{n}.busy_s", 0) for n in ENRICH_LAYERS)


def backfill_heavy(run: Run) -> None:
    import gen

    n = BACKFILL_PAYLOADS_PER_S * run.args.seconds
    enrich_batch_workload(
        run, lambda seed, warm: gen.backfill_heavy(seed, WARM_PAYLOADS if warm else n, run.cpus),
        _heavy_enrichments)


def backfill_1core(run: Run) -> None:
    """The single-core baseline: backfill_heavy's job on local[1] over
    1/nproc of its input, i.e. the same work per core. Parallel efficiency
    = backfill_heavy records_per_s / (nproc * this records_per_s)."""
    import gen

    n = BACKFILL_PAYLOADS_PER_S * run.args.seconds // run.cpus
    run.cpus = 1
    enrich_batch_workload(
        run, lambda seed, warm: gen.backfill_heavy(seed, WARM_PAYLOADS if warm else n, 1),
        _heavy_enrichments)


def webhook_badmix(run: Run) -> None:
    import gen

    max_payload = 65536

    def inputs(seed, warm):
        n = run.cpus if warm else BADMIX_ARCHIVES_PER_S * run.args.seconds
        archives, exp = gen.webhook_badmix(seed, n, max_payload=max_payload)
        return [archives[i::run.cpus] for i in range(run.cpus)], exp

    enrich_batch_workload(run, inputs, lambda run, spark: _light_enrichments(),
                          {"max_bytes_single_payload": max_payload})


# --- stream_trickle -----------------------------------------------------------

def _batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """Names of the files in one micro-batch, from the file source's log
    in the checkpoint (written before the batch runs): a version line,
    then one JSON entry per file."""
    log = os.path.join(checkpoint, "sources", "0", str(batch_id))
    if not os.path.exists(log):
        log += ".compact"
    with open(log) as f:
        entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
    return [os.path.basename(e["path"]) for e in entries if e.get("batchId", batch_id) == batch_id]


def stream_trickle(run: Run) -> None:
    """run_stream over a file source fed by a separate generator process;
    a foreachBatch wrapper around the real batch processor times each
    micro-batch and reads which generator files it consumed.

    After one warm-up micro-batch the generator lands one file at a fixed
    due time, and the run measures the warm micro-batch that carries it to
    the sinks. A warm micro-batch costs ~10-14 s on 4 cores, so a steady
    stream of several batches does not fit in a run (README.md)."""
    from enrich_spark.streaming import runner

    import gen

    in_dir, out = run.path("in"), run.path("out")
    sinks = runner.StreamSinks(good_path=os.path.join(out, "good"),
                               bad_path=os.path.join(out, "bad"),
                               failed_path=os.path.join(out, "failed"),
                               metadata_path=os.path.join(out, "metadata"))
    t_setup = time.time()
    spark = run.session()
    sc = spark.sparkContext
    batches: list[dict] = []
    errors: list[str] = []
    real_factory = runner.make_batch_processor
    if run.args.trace:
        run.tracer.wrap(runner, "enrich_batch", "plans.build")
        from pyspark.sql import readwriter

        for attr in ("text", "json"):
            run.tracer.wrap(readwriter.DataFrameWriter, attr, "streaming.sink_write")

    def factory(spark, sinks, cfg):
        real = real_factory(spark, sinks, cfg)

        def process(batch_df, batch_id):
            t0 = time.time()
            files = _batch_files(run.path("checkpoint"), batch_id)
            group = f"perfbench-batch-{batch_id}"
            sc.setJobGroup(group, group)
            try:
                with run.tracer.span("streaming.process", trace=f"batch-{batch_id}"):
                    real(batch_df, batch_id)
            except Exception as e:  # a failed micro-batch is counted, then re-raised
                errors.append(repr(e))
                raise
            batches.append({"id": batch_id, "start": t0, "end": time.time(), "files": files,
                            "group": group})
            print(f"batch {batch_id}: {len(files)} files in {time.time() - t0:.2f}s",
                  file=sys.stderr)

        return process

    runner.make_batch_processor = factory
    source = spark.readStream.schema("value BINARY").parquet(in_dir)
    query = runner.run_stream(spark, source, sinks,
                              runner.StreamConfig(checkpoint=run.path("checkpoint")))
    # warm-up: one small file through the running query before the
    # generator starts, so the measured batches do not include the JVM's
    # first-execution code generation
    warm = gen.Expect()
    g = gen.TrackerGen(run.args.seed + 1_000_003, geo=False)
    warm_file = f"w000000_{int(time.time() * 1000)}_50.parquet"
    _write_messages(run, [[g.tp2(warm, 5) for _ in range(10)]], "warm")
    os.rename(run.path("warm", "part000.parquet"), os.path.join(in_dir, warm_file))
    deadline = time.time() + 150
    while not any(warm_file in b["files"] for b in batches) and not errors:
        if time.time() > deadline:
            raise RuntimeError("warm-up micro-batch did not complete")
        time.sleep(0.05)
    run.metrics["setup_s"] = time.time() - t_setup
    run.tracer.spans.clear()  # the trace covers the measured window

    report_path = run.path("gen.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "trickle.py"), "--dir", in_dir,
         "--seed", str(run.args.seed), "--report", report_path],
        stdout=subprocess.PIPE, text=True)
    try:
        run.sampler.exclude.add(proc.pid)
        t_gen = float(proc.stdout.readline().split()[1])
        cpu0 = run.sampler.cpu_s()
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    with open(report_path) as f:
        rep = json.load(f)
    want = set(rep["files"])
    deadline = time.time() + 150
    while time.time() < deadline and not errors:
        if want <= {f for b in list(batches) for f in b["files"]}:
            break
        time.sleep(0.05)
    cpu = run.sampler.cpu_s() - cpu0
    query.stop()
    runner.make_batch_processor = real_factory

    exp = gen.Expect(events={k: tuple(v) for k, v in rep["events"].items()})
    exp.events.update(warm.events)
    run.attempted = exp.records
    samples, waits = [], []
    for b in batches:
        for name in b["files"]:
            if name == warm_file:
                continue
            _, due_ms, n = name[: -len(".parquet")].split("_")
            due, n = int(due_ms) / 1000, int(n)
            samples.append((b["end"] - due, n))
            waits.append((b["start"] - due, n))
    done = [b for b in batches if set(b["files"]) & want]
    last_commit = max(b["end"] for b in done) if done else time.time()
    run.metrics["records_per_s"] = rep["records"] / (last_commit - t_gen)
    run.latency(samples or [(float("inf"), 1)])
    run.metrics["cpu_s_per_krecord"] = cpu / max(1, rep["records"]) * 1000
    _check_sinks(run, out, exp)
    run.failed += len(errors)

    run.layers.update({"gen.lag_max_s": rep["lag_max_s"], "gen.records_sent": rep["records"],
                       "streaming.queue_wait_s": statistics.median(
                           w for w, n in waits for _ in range(n)) if waits else 0.0})
    if run.args.trace and done:
        tracker = sc.statusTracker()
        jobs = [tracker.getJobIdsForGroup(b["group"]) for b in done]
        stages = [sum(len(tracker.getJobInfo(j).stageIds) for j in js
                      if tracker.getJobInfo(j) is not None) for js in jobs]
        n = len(done)
        run.layers.update({
            "plans.build_s": run.tracer.total("plans.build") / n,
            "streaming.process_s": run.tracer.total("streaming.process") / n,
            "streaming.sink_write_s": run.tracer.total("streaming.sink_write") / n,
            "streaming.jobs_per_batch": sum(len(j) for j in jobs) / n,
            "streaming.stages_per_batch": sum(stages) / n,
            "trace.records_per_s": run.metrics["records_per_s"]})


# --- curate_corpus ------------------------------------------------------------

def curate_corpus(run: Run) -> None:
    """datapipe.pipeline.run_pipeline over a synthetic corpus with planted
    duplicates, near-duplicates and PII, written as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import checker
    import gen
    from enrich_spark.datapipe import pipeline

    n_docs = CURATE_DOCS_PER_S * run.args.seconds
    rows, planted = gen.corpus(run.args.seed, n_docs)
    in_dir = run.path("in")
    for i in range(run.cpus):
        part = rows[i::run.cpus]
        pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in part], pa.int64()),
                                 "text": [r[1] for r in part], "source": [r[2] for r in part]}),
                       os.path.join(in_dir, f"part{i:03d}.parquet"))
    run.attempted = len(rows)

    t_setup = time.time()
    spark = run.session()
    registry = dict(pipeline.CURATION_OPS)
    frames: list[tuple[str, object]] = []
    if run.args.trace:
        for name in CURATE_STEPS:
            def step(docs, _fn=registry[name], _name=name, **kw):
                with run.tracer.span(f"datapipe.{_name}.plan"):
                    out = _fn(docs, **kw)
                frames.append((_name, out))
                return out
            registry[name] = step
    docs = spark.read.parquet(in_dir)
    t_plan = time.time()
    curated = pipeline.run_pipeline(docs, [{"op": n} for n in CURATE_STEPS], registry=registry)
    run.layers["plans.build_s"] = time.time() - t_plan
    run.metrics["setup_s"] = time.time() - t_setup

    cpu0 = run.sampler.cpu_s()
    t0 = time.time()
    with run.tracer.span("job"):
        curated.write.mode("overwrite").parquet(run.path("out", "curated"))
    wall = time.time() - t0
    cpu = run.sampler.cpu_s() - cpu0
    run.metrics["records_per_s"] = len(rows) / wall
    run.metrics["cpu_s_per_krecord"] = cpu / len(rows) * 1000

    got = pq.read_table(run.path("out", "curated"), columns=["doc_id", "text"]).to_pydict()
    out_rows = list(zip(got["doc_id"], got["text"]))
    run.problems = checker.check_curated(out_rows, len(rows), planted)
    run.failed += sum(run.problems.values())
    run.layers["datapipe.rows_kept_ratio"] = len(out_rows) / len(rows)
    run.layers["outcome.good"] = len(out_rows)
    run.layers["outcome.useful_ratio"] = len(out_rows) / len(rows)

    if run.args.trace:
        run.layers["trace.records_per_s"] = run.metrics["records_per_s"]
        prev = docs.persist()
        prev.write.format("noop").mode("overwrite").save()
        for name, df in frames:
            df = df.persist()
            t = time.time()
            with run.tracer.span(f"datapipe.{name}.exec", trace=run.tracer.trace_id + "-layers"):
                df.write.format("noop").mode("overwrite").save()
            run.layers[f"datapipe.{name}.busy_s"] = time.time() - t
            prev.unpersist()
            prev = df
        prev.unpersist()
        run.layers["trace.blocking_self_s"] = sum(
            run.layers.get(f"datapipe.{n}.busy_s", 0) for n in CURATE_STEPS)


# --- entry point --------------------------------------------------------------

def report(run: Run) -> dict:
    run.metrics["peak_rss_mb"] = run.sampler.peak_rss / 2**20
    if run.args.trace:
        import spans

        host1 = spans.host_state()
        run.layers["host.load_1m"] = run.host0["load_1m"]
        run.layers["host.steal_s"] = host1["steal_s"] - run.host0["steal_s"]
        run.layers["failed_ops_frac"] = run.failed / max(1, run.attempted)
        names = {**LAYER_UNITS, **{"stream_trickle": STREAM_UNITS,
                                   "curate_corpus": CURATE_UNITS}.get(run.args.workload, {})}
        values = run.layers
    else:
        names = {**E2E_UNITS, **(STREAM_E2E_UNITS if run.args.workload == "stream_trickle"
                                 else {})}
        values = run.metrics
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}
    return {"correct": run.failed == 0, "attempted": max(1, run.attempted),
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "enrich_spark", "streaming", "runner.py")):
        print(f"perfbench: no enrich_spark package next to {HERE}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    run = Run(args)
    run.prepare_env()
    run.sampler.start()
    try:
        {"backfill_heavy": backfill_heavy, "stream_trickle": stream_trickle,
         "webhook_badmix": webhook_badmix, "curate_corpus": curate_corpus,
         "backfill_1core": backfill_1core}[args.workload](run)
    finally:
        if run.spark is not None:
            from pyspark import SparkContext

            run.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=60)
        run.sampler.stop()
        run.sampler.reap()
        os.chdir(ROOT)
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:  # another run is still using it
            pass
    result = report(run)
    if args.trace:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        run.tracer.counters.update(run.layers)
        run.tracer.dump(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"))
    for name, m in result["metrics"].items():
        print(f"{name:42s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    if run.problems:
        print(f"output check failed: {run.problems}", file=sys.stderr)
    print(f"host load_1m at start {run.host0['load_1m']}; total wall "
          f"{time.time() - T_START:.1f}s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
