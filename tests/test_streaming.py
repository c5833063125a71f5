"""Streaming shell specs — decompression protocol, debatch explode, and
an end-to-end Structured Streaming run over a file source (mirrors the
reference's ProcessingSpec/PayloadProviderSpec/DecompressorSpec).
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import functions as F

from enrich_spark.config import EnrichmentsConfig
from enrich_spark.loaders.thrift import encode_payload
from enrich_spark.sources.decompress import encode_batch, explode_messages
from enrich_spark.streaming.runner import (
    StreamConfig,
    StreamSinks,
    collect_metadata,
    run_batch,
    run_stream,
)

PAYLOAD = dict(
    path="/com.snowplowanalytics.snowplow/tp2",
    timestamp=1700000000000,
    collector="ssc-test",
    body=json.dumps({
        "schema": "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4",
        "data": [{"e": "pv", "aid": "app", "p": "web", "tv": "js-3.0.0"}],
    }),
    content_type="application/json",
)


def test_debatch_gzip_roundtrip(spark):
    payloads = [b"one", b"two", b"three"]
    msg = encode_batch(payloads, "gzip")
    df = spark.createDataFrame([(msg,), (b"plain-single",)], "value BINARY")
    out = explode_messages(df).collect()
    got = sorted(bytes(r.value) for r in out if r.value is not None)
    assert got == sorted(payloads + [b"plain-single"])
    assert all(r.decompress_error is None for r in out)


def test_debatch_bad_header_version(spark):
    import gzip as _gz
    import struct as _st

    body = bytes([2, 1]) + _st.pack(">i", 3) + b"abc"
    df = spark.createDataFrame([(_gz.compress(body),)], "value BINARY")
    out = explode_messages(df).collect()
    assert len(out) == 1
    assert "Unsupported versions" in out[0].decompress_error


def test_debatch_record_too_big_keeps_draining(spark):
    msg = encode_batch([b"x" * 100, b"ok"], "gzip")
    df = spark.createDataFrame([(msg,)], "value BINARY")
    out = explode_messages(df, max_bytes_single_payload=10).collect()
    errors = [r.decompress_error for r in out if r.decompress_error]
    values = [bytes(r.value) for r in out if r.value is not None]
    assert len(errors) == 1 and "too big" in errors[0]
    assert values == [b"ok"]  # archive still drained past the big record


def test_debatch_truncated_archive(spark):
    import gzip as _gz
    import struct as _st

    body = bytes([1, 1]) + _st.pack(">i", 100) + b"short"
    df = spark.createDataFrame([(_gz.compress(body),)], "value BINARY")
    out = explode_messages(df).collect()
    assert any(r.decompress_error and "corrupt" in r.decompress_error for r in out)


def test_debatch_zstd_real_codec_roundtrip():
    """The REAL zstd path (Decompressor.scala:164): encode an archive
    with pyarrow's zstd codec, drain it through the batching protocol —
    genuine frames, not a stubbed decoder."""
    from enrich_spark.sources.decompress import (
        ZSTD_MAGIC, debatch_bytes, encode_batch,
    )

    payloads = [b"first", b"second payload", b"x" * 10_000]
    msg = encode_batch(payloads, "zstd")
    assert msg[:4] == ZSTD_MAGIC           # a real zstd frame
    assert debatch_bytes(msg) == [(p, None) for p in payloads]

    # too-big skip + continue, through the real codec
    out = debatch_bytes(encode_batch(payloads, "zstd"),
                        max_bytes_single_payload=100)
    assert out[0] == (b"first", None)
    assert out[1] == (b"second payload", None)
    assert out[2][0] is None and "too big" in out[2][1]


def test_debatch_zstd_corrupt_frame_yields_error_record():
    """Bit-flipped zstd frames surface as the documented error record,
    never an exception."""
    from enrich_spark.sources.decompress import (
        ZSTD_MAGIC, debatch_bytes, encode_batch,
    )

    # big, highly compressible archive → real compressed blocks (tiny
    # inputs get stored as raw blocks, where a flipped bit is data, not
    # a framing error); flipping a bit inside a compressed block must
    # surface as an error record
    msg = bytearray(encode_batch([b"abcdefgh" * 5000], "zstd"))
    msg[8] ^= 0xFF                         # inside the block header
    out = debatch_bytes(bytes(msg))
    assert all(p is not None or err is not None for p, err in out)
    assert any(err and ("corrupt" in err or "truncated" in err)
               for _, err in out), out

    # zstd magic followed by garbage (not a valid frame at all)
    out = debatch_bytes(ZSTD_MAGIC + b"\x00garbage-not-a-frame")
    assert len(out) == 1 and out[0][0] is None


def test_debatch_zstd_without_any_decoder_yields_error_record(monkeypatch):
    """With BOTH zstandard and pyarrow's zstd unavailable, the archive
    surfaces as the documented error record, never raises."""
    import sys
    import types

    from enrich_spark.sources.decompress import ZSTD_MAGIC, debatch_bytes

    stub = types.ModuleType("pyarrow")

    class _NoCodec:
        @staticmethod
        def is_available(name):
            return False

    stub.Codec = _NoCodec
    monkeypatch.setitem(sys.modules, "pyarrow", stub)
    out = debatch_bytes(ZSTD_MAGIC + b"\x01\x01whatever")
    assert out == [(None,
                    "zstd-compressed message but no zstd decoder available")]


def test_debatch_zstd_drain_path_with_stubbed_decoder(monkeypatch):
    """With a zstandard module present, the zstd branch must run the
    SAME drain protocol as gzip: header check, per-record sizes,
    too-big skip, truncation. The stub 'decompresses' by stripping the
    magic — the protocol logic under test is ours, not the codec's."""
    import io
    import struct
    import sys
    import types

    from enrich_spark.sources.decompress import ZSTD_MAGIC, debatch_bytes

    class _FakeDecompressor:
        def stream_reader(self, fileobj):
            data = fileobj.read()
            assert data[:4] == ZSTD_MAGIC
            return io.BytesIO(data[4:])

    stub = types.ModuleType("zstandard")
    stub.ZstdDecompressor = _FakeDecompressor
    monkeypatch.setitem(sys.modules, "zstandard", stub)

    body = bytearray([1, 1])
    for p in (b"first", b"x" * 50, b"second"):
        body += struct.pack(">i", len(p)) + p
    out = debatch_bytes(ZSTD_MAGIC + bytes(body),
                        max_bytes_single_payload=20)
    assert out[0] == (b"first", None)
    assert out[1][0] is None and "too big" in out[1][1]
    assert out[2] == (b"second", None)

    # bad protocol version inside a zstd archive
    out = debatch_bytes(ZSTD_MAGIC + bytes([9, 9]) + b"rest")
    assert out == [(None,
                    "Unsupported versions in compressed record header: 9, 9")]

    # truncated record inside a zstd archive
    out = debatch_bytes(
        ZSTD_MAGIC + bytes([1, 1]) + struct.pack(">i", 10) + b"shrt")
    assert out == [(None, "corrupt input: truncated record")]


def test_run_batch_end_to_end(spark):
    msg = encode_batch([encode_payload(PAYLOAD)] * 3, "gzip")
    df = spark.createDataFrame([(msg,), (encode_payload(PAYLOAD),)], "value BINARY")
    good, bad, failed, meta, _ = run_batch(spark, df)
    assert good.count() == 4
    assert bad.count() == 0
    assert failed.count() == 0
    m = meta.collect()
    assert len(m) == 1
    assert m[0].n_events == 4
    assert m[0].app_id == "app"
    assert m[0].event_name == "page_view"


def test_metadata_aggregation_shapes(spark):
    good = spark.createDataFrame(
        [
            ("com.snowplowanalytics.snowplow", "page_view", "jsonschema", "1-0-0",
             "app", "js-3.0.0", "web",
             [{"schema": "iglu:com.acme/ctx/jsonschema/1-0-0", "data": "{}"}]),
            ("com.snowplowanalytics.snowplow", "page_view", "jsonschema", "1-0-0",
             "app", "js-3.0.0", "web", []),
        ],
        "event_vendor STRING, event_name STRING, event_format STRING, "
        "event_version STRING, app_id STRING, v_tracker STRING, platform STRING, "
        "_derived ARRAY<STRUCT<schema:STRING,data:STRING>>",
    )
    m = collect_metadata(good).collect()
    assert len(m) == 1
    assert m[0].n_events == 2
    assert m[0].entity_schemas == ["iglu:com.acme/ctx/jsonschema/1-0-0"]


def test_streaming_file_source_end_to_end(spark):
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        sinks = StreamSinks(
            good_path=os.path.join(tmp, "good"),
            bad_path=os.path.join(tmp, "bad"),
            metadata_path=os.path.join(tmp, "meta"),
        )
        cfg = StreamConfig(checkpoint=os.path.join(tmp, "ckpt"))

        # seed one parquet file of messages, then start the stream
        msgs = [(encode_payload(PAYLOAD),), (b"garbage-bytes",)]
        spark.createDataFrame(msgs, "value BINARY").write.parquet(
            os.path.join(src, "batch0"), mode="overwrite"
        )
        source = (
            spark.readStream.schema("value BINARY")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = run_stream(spark, source, sinks, cfg)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        good_lines = spark.read.text(sinks.good_path).collect()
        bad_lines = spark.read.text(sinks.bad_path).collect()
        assert len(good_lines) == 1
        assert len(good_lines[0].value.split("\t")) == 131
        assert len(bad_lines) == 1
        meta = spark.read.json(sinks.metadata_path).collect()
        assert meta[0].n_events == 1


def test_lookup_chain_runs_as_one_streaming_plan(spark, tmp_path):
    """With api_request, weather and identity on, enrich_batch applies
    straight to a readStream source (no foreachBatch), and one
    availableNow batch gives every payload exactly one outcome."""
    from enrich_spark.streaming.runner import enrich_batch
    from tests.conftest import lookup_chain_config, lookup_chain_payloads

    src = str(tmp_path / "in")
    rows = lookup_chain_payloads(12) + [(b"garbage-bytes",)]
    spark.createDataFrame(rows, "value BINARY").write.parquet(src)
    source = spark.readStream.schema("value BINARY").parquet(src)
    good, bad, failed, _, _ = enrich_batch(
        source, StreamConfig(enrichments=lookup_chain_config()), spark)
    out = (
        good.select(F.lit("good").alias("kind"), F.col("tsv").alias("line"))
        .unionByName(bad.select(F.lit("bad").alias("kind"),
                                F.col("bad_row").alias("line")))
        .unionByName(failed.select(F.lit("failed").alias("kind"),
                                   F.col("tsv").alias("line")))
    )
    q = (out.writeStream.format("memory").queryName("lookup_chain_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(600)
    finally:
        q.stop()
    got = spark.table("lookup_chain_out").collect()
    kinds = sorted(r.kind for r in got)
    assert kinds == ["bad"] + ["good"] * 12
    for r in got:
        if r.kind == "good":
            assert "iglu:com.acme/api_context" in r.line
            assert "openweathermap" in r.line
            assert "/identity/" in r.line


def test_asset_manager_hash_gated_refresh():
    from enrich_spark.sources.assets import AssetManager, AssetSpec

    clock = [1000.0]
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "referers.json")
        with open(src, "w") as f:
            f.write("v1")
        mgr = AssetManager(
            [AssetSpec("referers", f"file://{src}", refresh_period_s=60)],
            cache_dir=os.path.join(tmp, "cache"),
            clock=lambda: clock[0],
        )
        local = mgr.paths()["referers"]
        assert open(local).read() == "v1"

        # period not elapsed → no re-fetch even if content changed
        with open(src, "w") as f:
            f.write("v2")
        clock[0] += 30
        assert mgr.maybe_refresh() == []
        assert open(local).read() == "v1"

        # period elapsed + content changed → swap reported
        clock[0] += 31
        assert mgr.maybe_refresh() == ["referers"]
        assert open(local).read() == "v2"

        # period elapsed but identical bytes → re-download is NOT a swap
        clock[0] += 61
        assert mgr.maybe_refresh() == []


def test_asset_manager_unknown_scheme():
    import pytest

    from enrich_spark.sources.assets import AssetManager, AssetSpec

    with tempfile.TemporaryDirectory() as tmp:
        with pytest.raises(ValueError, match="no asset fetcher"):
            AssetManager([AssetSpec("x", "ftp://bucket/key")], cache_dir=tmp)
        # s3/gs/azure are registered; without an injected client they
        # need the SDK + credentials — an error either way (RuntimeError
        # when the SDK is missing, the SDK's own error when creds are),
        # never a silent skip
        with pytest.raises(Exception):
            AssetManager([AssetSpec("x", "s3://bucket/key")], cache_dir=tmp)


def test_cloud_blob_fetchers_with_fake_clients():
    from enrich_spark.sources.assets import (
        make_azure_fetcher,
        make_gs_fetcher,
        make_s3_fetcher,
    )

    class FakeS3:
        def get_object(self, Bucket, Key):
            assert (Bucket, Key) == ("b", "dir/f.mmdb")
            return {"Body": type("B", (), {"read": lambda s: b"s3bytes"})()}

    assert make_s3_fetcher(FakeS3())("s3://b/dir/f.mmdb") == b"s3bytes"

    class FakeBlob:
        def download_as_bytes(self):
            return b"gsbytes"

    class FakeBucket:
        def blob(self, path):
            assert path == "f.txt"
            return FakeBlob()

    class FakeGs:
        def bucket(self, name):
            assert name == "b"
            return FakeBucket()

    assert make_gs_fetcher(FakeGs())("gs://b/f.txt") == b"gsbytes"

    class FakeDownload:
        def readall(self):
            return b"azbytes"

    class FakeBlobClient:
        def download_blob(self):
            return FakeDownload()

    class FakeSvc:
        def get_blob_client(self, container, blob):
            assert (container, blob) == ("cont", "f.bin")
            return FakeBlobClient()

    assert make_azure_fetcher(FakeSvc())("azure://cont/f.bin") == b"azbytes"


def test_streaming_asset_hotswap_rebuilds_plan(spark):
    """Asset content change between micro-batches triggers a plan rebuild
    (the Spark-first equivalent of the reference's ManagedEnrichmentRegistry
    hot-swap, core/AssetRefresher.scala:40-313)."""
    from enrich_spark.sources.assets import AssetManager, AssetSpec

    with tempfile.TemporaryDirectory() as tmp:
        asset_src = os.path.join(tmp, "db.bin")
        with open(asset_src, "w") as f:
            f.write("gen1")
        mgr = AssetManager(
            [AssetSpec("db", f"file://{asset_src}", refresh_period_s=0)],
            cache_dir=os.path.join(tmp, "cache"),
        )
        rebuilds = []

        def rebuild(assets):
            rebuilds.append(open(assets.paths()["db"]).read())
            return EnrichmentsConfig.default()

        src = os.path.join(tmp, "in")
        os.makedirs(src)
        sinks = StreamSinks(
            good_path=os.path.join(tmp, "good"), bad_path=os.path.join(tmp, "bad")
        )
        cfg = StreamConfig(
            checkpoint=os.path.join(tmp, "ckpt"), assets=mgr, rebuild=rebuild
        )
        spark.createDataFrame([(encode_payload(PAYLOAD),)], "value BINARY").write.parquet(
            os.path.join(src, "b0"), mode="overwrite"
        )
        source = (
            spark.readStream.schema("value BINARY")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = run_stream(spark, source, sinks, cfg)
        try:
            q.processAllAvailable()
            assert rebuilds == []  # unchanged asset → no rebuild on batch 0
            with open(asset_src, "w") as f:
                f.write("gen2")
            spark.createDataFrame(
                [(encode_payload(PAYLOAD),)], "value BINARY"
            ).write.parquet(os.path.join(src, "b1"), mode="overwrite")
            q.processAllAvailable()
        finally:
            q.stop()
        assert rebuilds == ["gen2"]  # swap fired once, with the new content


def test_windowed_metadata_stream(spark):
    """Watermarked tumbling-window metadata rollup: windows finalize in
    append mode only after the watermark passes, counts and entity-schema
    sets match the batch collect_metadata semantics."""
    import datetime as dt

    from enrich_spark.streaming.runner import windowed_metadata_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = ("collector_tstamp TIMESTAMP, event_vendor STRING, "
              "event_name STRING, event_format STRING, event_version STRING, "
              "app_id STRING, v_tracker STRING, platform STRING, "
              "_derived ARRAY<STRUCT<schema:STRING, data:STRING>>")

    def rows(batch):
        return spark.createDataFrame(batch, schema)

    ctx = [("iglu:com.acme/session/jsonschema/1-0-0", "{}")]
    ev = lambda ts, name="page_view", d=None: (  # noqa: E731
        ts, "com.snowplowanalytics.snowplow", name, "jsonschema", "1-0-0",
        "site", "js-3.0", "web", d if d is not None else ctx)

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        rows([ev(t0), ev(t0 + dt.timedelta(seconds=30), d=[]),
              ev(t0 + dt.timedelta(seconds=40), name="link_click")]
             ).write.parquet(os.path.join(src, "b0"))
        source = (spark.readStream.schema(schema)
                  .option("recursiveFileLookup", "true").parquet(src))
        out = windowed_metadata_stream(source, "1 minute", "1 minute")
        q = (out.writeStream.format("memory").queryName("meta_roll")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            # watermark has not passed the first window's end yet
            assert spark.sql("SELECT * FROM meta_roll").count() == 0
            # an event 5 minutes on advances the watermark past it
            rows([ev(t0 + dt.timedelta(minutes=5))]).write.parquet(
                os.path.join(src, "b1"))
            q.processAllAvailable()
            got = {(r.event_name,): r
                   for r in spark.sql("SELECT * FROM meta_roll").collect()}
            pv = got[("page_view",)]
            assert pv.n_events == 2
            assert pv.entity_schemas == ["iglu:com.acme/session/jsonschema/1-0-0"]
            assert pv.window_start == t0 and pv.window_end == t0 + dt.timedelta(minutes=1)
            assert got[("link_click",)].n_events == 1
        finally:
            q.stop()


def test_streaming_sessionize_stateful(spark):
    import datetime as dt

    from enrich_spark.datapipe.session import streaming_sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(batch):
        return spark.createDataFrame(batch, "user_id STRING, ts TIMESTAMP")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        # batch 0: user a has two events 10 min apart (one session),
        # user b one event
        rows([("a", t0), ("a", t0 + dt.timedelta(minutes=10)),
              ("b", t0)]).write.parquet(os.path.join(src, "b0"))
        source = (
            spark.readStream.schema("user_id STRING, ts TIMESTAMP")
            .option("recursiveFileLookup", "true").parquet(src)
        )
        out = streaming_sessionize(source, gap_seconds=1800, watermark="10 seconds")
        q = (out.writeStream.format("memory").queryName("sess")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM sess").count() == 0  # nothing closed yet

            # batch 1: user a returns 2 hours later → session 1 closes by
            # gap; the watermark also advances past b's idle timeout
            rows([("a", t0 + dt.timedelta(hours=2))]).write.parquet(
                os.path.join(src, "b1"))
            q.processAllAvailable()
            # one more empty-ish batch so timed-out state (user b) flushes
            rows([("c", t0 + dt.timedelta(hours=3))]).write.parquet(
                os.path.join(src, "b2"))
            q.processAllAvailable()

            got = {(r.user, r.session_index): r
                   for r in spark.sql("SELECT * FROM sess").collect()}
            a1 = got[("a", 1)]
            assert a1.n_events == 2
            assert a1.session_start == t0
            assert a1.session_end == t0 + dt.timedelta(minutes=10)
            b1 = got[("b", 1)]
            assert b1.n_events == 1 and b1.session_start == t0
        finally:
            q.stop()


def test_streaming_sessionize_late_event_widens_session(spark):
    import datetime as dt

    from enrich_spark.datapipe.session import streaming_sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(batch):
        return spark.createDataFrame(batch, "user_id STRING, ts TIMESTAMP")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        rows([("a", t0)]).write.parquet(os.path.join(src, "b0"))
        source = (
            spark.readStream.schema("user_id STRING, ts TIMESTAMP")
            .option("recursiveFileLookup", "true").parquet(src)
        )
        out = streaming_sessionize(source, gap_seconds=1800, watermark="1 hour")
        q = (out.writeStream.format("memory").queryName("sess_late")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            # late-but-within-watermark event BEFORE the session start
            rows([("a", t0 - dt.timedelta(minutes=10))]).write.parquet(
                os.path.join(src, "b1"))
            q.processAllAvailable()
            # gap-close the session
            rows([("a", t0 + dt.timedelta(hours=3))]).write.parquet(
                os.path.join(src, "b2"))
            q.processAllAvailable()
            got = [r for r in spark.sql("SELECT * FROM sess_late").collect()
                   if r.session_index == 1]
            assert len(got) == 1
            # session_start reflects the late event, not first-seen order
            assert got[0].session_start == t0 - dt.timedelta(minutes=10)
            assert got[0].n_events == 2
        finally:
            q.stop()


def test_streaming_sessionize_drops_data_older_than_watermark(spark):
    """Event-time older than the watermark is DROPPED by the watermark
    operator before the stateful function sees it (the documented
    at-most-once contract for stragglers): no session row, no state key.
    Batch sessionize has no watermark and would include the event — a
    documented streaming-only divergence, bounded by the watermark lag
    the deployment chooses."""
    import datetime as dt

    from enrich_spark.datapipe.session import streaming_sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(batch):
        return spark.createDataFrame(batch, "user_id STRING, ts TIMESTAMP")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        # b0 advances the watermark to (t0+1h − 10min)
        rows([("a", t0), ("w", t0 + dt.timedelta(hours=1))]).write.parquet(
            os.path.join(src, "b0"))
        source = (
            spark.readStream.schema("user_id STRING, ts TIMESTAMP")
            .option("recursiveFileLookup", "true").parquet(src)
        )
        out = streaming_sessionize(source, gap_seconds=1800,
                                   watermark="10 minutes")
        q = (out.writeStream.format("memory").queryName("sess_wm")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            # 'late' arrives with event time t0 — a full hour behind the
            # already-advanced watermark → must be dropped entirely
            rows([("late", t0)]).write.parquet(os.path.join(src, "b1"))
            q.processAllAvailable()
            # by now the watermark (t0+50min) has also timed out 'a'
            # (timeout t0+30min) — remaining state is 'w' alone; the
            # point: 'late' must NOT have created a state key
            state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
            assert state_rows == 1
            # flush everything via timeout
            rows([("a", t0 + dt.timedelta(hours=9))]).write.parquet(
                os.path.join(src, "b2"))
            q.processAllAvailable()
            rows([("a", t0 + dt.timedelta(hours=20))]).write.parquet(
                os.path.join(src, "b3"))
            q.processAllAvailable()
            users = {r.user for r in spark.sql("SELECT * FROM sess_wm").collect()}
            assert "late" not in users
            assert {"a", "w"} <= users
        finally:
            q.stop()


def test_streaming_sessionize_null_ts_does_not_leak_state(spark):
    import datetime as dt

    from enrich_spark.datapipe.session import streaming_sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(batch):
        return spark.createDataFrame(batch, "user_id STRING, ts TIMESTAMP")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        # batch 0: key 'ghost' arrives with only NULL timestamps — storing
        # state for it would never get a timeout and could never be removed
        rows([("ghost", None), ("ghost", None), ("real", t0)]).write.parquet(
            os.path.join(src, "b0"))
        source = (
            spark.readStream.schema("user_id STRING, ts TIMESTAMP")
            .option("recursiveFileLookup", "true").parquet(src)
        )
        out = streaming_sessionize(source, gap_seconds=1800, watermark="10 seconds")
        q = (out.writeStream.format("memory").queryName("sess_leak")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
            assert state_rows == 1  # only 'real' holds state, not 'ghost'
        finally:
            q.stop()


def test_streaming_checkpoint_recovery(spark):
    """Restart against the same checkpoint: a clean stop resumes with no
    loss and no duplication; a crash between sink write and checkpoint
    commit (simulated by removing the newest commit marker) replays
    exactly that micro-batch — the at-least-once contract the reference
    implements via ack-after-sink (core/Processing.scala:321-322)."""

    def payload(i):
        body = json.dumps({
            "schema": "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4",
            "data": [{"e": "pv", "aid": f"app-{i % 3}", "p": "web", "tid": str(i)}],
        })
        return encode_payload(dict(
            path="/com.snowplowanalytics.snowplow/tp2",
            timestamp=1700000000000 + i, collector="ssc-test",
            body=body, content_type="application/json",
        ))

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        sinks = StreamSinks(good_path=os.path.join(tmp, "good"),
                            bad_path=os.path.join(tmp, "bad"))
        ckpt = os.path.join(tmp, "ckpt")

        def write_files(name, lo, hi):
            spark.createDataFrame(
                [(payload(i),) for i in range(lo, hi)], "value BINARY"
            ).write.parquet(os.path.join(src, name))

        def run_once():
            source = (
                spark.readStream.schema("value BINARY")
                .option("recursiveFileLookup", "true")
                .option("maxFilesPerTrigger", "4")
                .parquet(src)
            )
            q = run_stream(spark, source, sinks, StreamConfig(checkpoint=ckpt))
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination()  # fully release the checkpoint lock

        def tid_counts():
            from collections import Counter

            rows = spark.read.text(sinks.good_path).collect()
            return Counter(r.value.split("\t")[7] for r in rows)

        # run 1 processes 0..9; clean stop
        write_files("b0", 0, 10)
        run_once()
        assert tid_counts() == {str(i): 1 for i in range(10)}

        # clean restart picks up ONLY the new files: no loss, no dup
        write_files("b1", 10, 20)
        run_once()
        assert tid_counts() == {str(i): 1 for i in range(20)}

        # crash simulation: sink write survived but the checkpoint commit
        # didn't → the restarted query must replay that whole micro-batch
        commits = os.path.join(ckpt, "commits")
        latest = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
        os.remove(os.path.join(commits, latest))
        crc = os.path.join(commits, f".{latest}.crc")
        if os.path.exists(crc):  # hadoop local-fs checksum sidecar
            os.remove(crc)
        run_once()
        counts = tid_counts()
        replayed = {t for t, n in counts.items() if n == 2}
        assert set(counts) == {str(i) for i in range(20)}  # still no loss
        assert replayed == {str(i) for i in range(10, 20)}  # exactly batch 2


def test_streaming_dedup_within_watermark(spark):
    """Cross-micro-batch exact dedup: a re-delivered key within the
    watermark horizon is dropped; batch fallback is plain
    dropDuplicates."""
    import datetime as dt

    from enrich_spark.datapipe.dedup import streaming_dedup

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(batch):
        return spark.createDataFrame(batch, "event_id STRING, ts TIMESTAMP")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        rows([("e1", t0), ("e2", t0)]).write.parquet(os.path.join(src, "b0"))
        source = (
            spark.readStream.schema("event_id STRING, ts TIMESTAMP")
            .option("recursiveFileLookup", "true").parquet(src)
        )
        out = streaming_dedup(source, key_cols=("event_id",),
                              ts_col="ts", watermark="1 hour")
        q = (out.writeStream.format("memory").queryName("dedup_wm")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt")).start())
        try:
            q.processAllAvailable()
            # re-delivery of e1 in a later micro-batch + a fresh key
            rows([("e1", t0 + dt.timedelta(minutes=5)),
                  ("e3", t0 + dt.timedelta(minutes=5))]).write.parquet(
                os.path.join(src, "b1"))
            q.processAllAvailable()
            got = [r.event_id for r in
                   spark.sql("SELECT * FROM dedup_wm").collect()]
            assert sorted(got) == ["e1", "e2", "e3"]  # one e1 only
        finally:
            q.stop()

    # batch fallback: same API, plain dropDuplicates
    b = rows([("e1", t0), ("e1", t0), ("e2", t0)])
    assert streaming_dedup(b).count() == 2


def test_datapipe_projections_run_in_streaming(spark, tmp_path):
    """The r8 curation projections (BPE tokenize, C4 filters, URL
    normalize) are stateless map plans — the SAME code must run under
    Structured Streaming unchanged (including apply_bpe's observe()
    stage boundaries, which are streaming-legal by design)."""
    from pyspark.sql import functions as F

    from enrich_spark.datapipe.bpe import apply_bpe
    from enrich_spark.datapipe.curation import c4_filters
    from enrich_spark.datapipe.webtext import url_normalize

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "the cat sat on the mat. and then some more words here.",
          "https://www.Example.com/a//b?utm_source=x&b=1"),
         (2, "ab ab ab.", "http://foo.co.uk:80/x/")],
        "doc_id INT, text STRING, url STRING",
    ).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(
        "doc_id INT, text STRING, url STRING").parquet(src)

    merges = [("t", "h"), ("th", "e"), ("e", "_")]
    for name, df in (
        ("bpe_s", apply_bpe(stream, merges)),
        ("c4_s", c4_filters(stream)),
        ("url_s", url_normalize(stream, url_col="url")),
    ):
        q = (df.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", str(tmp_path / ("ck_" + name)))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    bpe_rows = {r.doc_id: r for r in spark.sql("select * from bpe_s").collect()}
    assert bpe_rows[1].n_words == 12 and bpe_rows[1].n_tokens > 0
    assert "the" in bpe_rows[1].tokens_head.split()  # merges applied
    c4_rows = {r.doc_id: r for r in spark.sql("select * from c4_s").collect()}
    assert c4_rows[1].n_kept_lines == 1
    url_rows = {r.doc_id: r for r in spark.sql("select * from url_s").collect()}
    assert url_rows[2].canonical_url == "http://foo.co.uk/x"
    assert url_rows[1].reg_domain == "example.com"


def test_streaming_near_dedup_cross_batch(spark):
    """Near-dup candidates survive ACROSS micro-batches: a re-worded
    copy arriving in a later batch matches the original held in the
    band-bucket state; unrelated text never matches; batch mode agrees
    with the streaming emissions on replayed data."""
    import datetime as dt

    from enrich_spark.datapipe.dedup import streaming_near_dedup

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    base = ("the quick brown fox jumps over the lazy dog "
            "while the spark executor shuffles partitions")
    near = base + " happily"                 # high-Jaccard variant
    far = "completely different content about cooking pasta at home"

    def rows(batch):
        return spark.createDataFrame(
            batch, "doc_id LONG, text STRING, ts TIMESTAMP")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        rows([(1, base, t0), (2, far, t0)]).write.parquet(
            os.path.join(src, "b0"))
        source = (
            spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
            .option("recursiveFileLookup", "true").parquet(src))
        out = streaming_near_dedup(source, sim_threshold=0.7,
                                   watermark="1 hour")
        q = (out.writeStream.format("memory").queryName("neardup")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .start())
        try:
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM neardup").count() == 0

            # batch 1: the near-copy arrives 10 min later → must match
            # doc 1 from batch-0 state; doc 4 is fresh unrelated text
            rows([(3, near, t0 + dt.timedelta(minutes=10)),
                  (4, "unrelated fresh text about gardening tools", t0)]
                 ).write.parquet(os.path.join(src, "b1"))
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM neardup").collect()
            pairs = {(r.doc_id, r.matched_id) for r in got}
            assert pairs == {(3, 1)}
            assert all(r.est_jaccard_bp >= 7000 for r in got)
        finally:
            q.stop()

    # batch-mode parity: same corpus in one frame, same contract
    batch_pairs = streaming_near_dedup(
        rows([(1, base, t0), (2, far, t0),
              (3, near, t0 + dt.timedelta(minutes=10)),
              (4, "unrelated fresh text about gardening tools", t0)]),
        sim_threshold=0.7)
    got = {(r.doc_id, r.matched_id) for r in batch_pairs.collect()}
    assert got == {(3, 1)}


def test_streaming_near_dedup_state_eviction(spark):
    """A duplicate arriving past the watermark horizon is re-admitted
    (bucket state evicted) — the documented trade-off knob."""
    import datetime as dt

    from enrich_spark.datapipe.dedup import streaming_near_dedup

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    text = ("some moderately long piece of text that produces stable "
            "shingles for the minhash signature family")

    def rows(batch):
        return spark.createDataFrame(
            batch, "doc_id LONG, text STRING, ts TIMESTAMP")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        os.makedirs(src)
        rows([(1, text, t0)]).write.parquet(os.path.join(src, "b0"))
        source = (
            spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
            .option("recursiveFileLookup", "true").parquet(src))
        out = streaming_near_dedup(source, sim_threshold=0.7,
                                   watermark="10 seconds")
        q = (out.writeStream.format("memory").queryName("neardup2")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .start())
        try:
            q.processAllAvailable()
            # advance the watermark far past doc 1's bucket timeout
            rows([(9, "watermark pusher with totally distinct words",
                   t0 + dt.timedelta(hours=3))]).write.parquet(
                os.path.join(src, "b1"))
            q.processAllAvailable()
            # the exact same text again: state evicted → NO pair emitted
            rows([(5, text, t0 + dt.timedelta(hours=3, minutes=1))]
                 ).write.parquet(os.path.join(src, "b2"))
            q.processAllAvailable()
            assert spark.sql("SELECT * FROM neardup2").count() == 0
        finally:
            q.stop()


def test_watermark_duration_parser_units():
    """All Spark CalendarInterval watermark units parse (case-insensitive,
    singular/plural) instead of KeyError-ing at plan-build time."""
    import pytest

    from enrich_spark.datapipe.dedup import _parse_duration_us

    assert _parse_duration_us("1 hour") == 3_600_000_000
    assert _parse_duration_us("30 Seconds") == 30_000_000
    assert _parse_duration_us("1 day") == 86_400_000_000
    assert _parse_duration_us("2 weeks") == 2 * 604_800_000_000
    assert _parse_duration_us("250 ms") == 250_000
    assert _parse_duration_us("5 Minutes") == 300_000_000
    with pytest.raises(ValueError, match="unit"):
        _parse_duration_us("3 fortnights")
    with pytest.raises(ValueError, match="duration"):
        _parse_duration_us("1hour")


def test_streaming_curation_end_to_end(spark, tmp_path):
    """A full curation micro-pipeline under Structured Streaming: docs
    arrive in micro-batches; each batch is normalized and quality-
    annotated (stateless map plans), and content-hash dedup drops
    cross-batch exact re-deliveries within the watermark — the shape a
    streaming corpus-ingest job runs."""
    import datetime as dt

    from pyspark.sql import functions as F

    from enrich_spark.datapipe.dedup import streaming_dedup
    from enrich_spark.datapipe.text import normalize_text, quality_score

    t0 = dt.datetime(2026, 1, 1, 9, 0, 0)
    schema = "doc_id LONG, text STRING, ts TIMESTAMP"

    def rows(batch):
        return spark.createDataFrame(batch, schema)

    src = str(tmp_path / "in")
    os.makedirs(src)
    rows([
        (1, "a good long document body\r\nwith plenty of proper words here", t0),
        (2, "a good long document body\nwith plenty of proper words here", t0),
        (3, "zz", t0),
    ]).write.parquet(os.path.join(src, "b0"))

    source = (spark.readStream.schema(schema)
              .option("recursiveFileLookup", "true").parquet(src))
    cleaned = normalize_text(source).withColumn(
        "text", F.col("text_norm")).drop("text_norm")
    scored = quality_score(cleaned).where(F.col("n_words") >= 5)
    deduped = streaming_dedup(
        scored.withColumn("content_hash", F.md5("text")),
        key_cols=("content_hash",), ts_col="ts", watermark="1 hour")
    q = (deduped.writeStream.format("memory").queryName("curated")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
        # doc 2 normalizes to doc 1's exact text -> dropped; doc 3 is
        # under the quality word floor -> dropped
        got = sorted(r.doc_id for r in
                     spark.sql("SELECT * FROM curated").collect())
        assert got == [1]
        # a later micro-batch: same content again (dropped, cross-batch)
        # + genuinely new content (kept)
        rows([
            (4, "a good long document body\r\nwith plenty of proper words here",
             t0 + dt.timedelta(minutes=10)),
            (5, "completely different fresh content with many new words in it",
             t0 + dt.timedelta(minutes=10)),
        ]).write.parquet(os.path.join(src, "b1"))
        q.processAllAvailable()
        got = sorted(r.doc_id for r in
                     spark.sql("SELECT * FROM curated").collect())
        assert got == [1, 5]
    finally:
        q.stop()


def test_streaming_incremental_fingerprint_ingest(spark):
    """r14 (verdict #7): incremental fingerprint dedup wired into the
    foreachBatch path — two micro-batches against a pre-seeded stored
    index. Batch 2 must dedup against corpus + batch-1 SURVIVORS only:
    dropped docs never enter the index, and the pairs stage joins
    new-vs-index exactly once (old-vs-old structurally absent)."""
    from enrich_spark.datapipe.dedup import (
        FingerprintIndexIngest,
        build_fingerprint_index,
        incremental_hamming_pairs,
    )

    v0, v1, v2 = 0x0F0F0F0F0F0F0F0F, 0x00FF00FF00FF00FF, 0x3333333333333333
    v4, v5 = 0x5A5A5A5A5A5A5A5A, 0x00000000FFFF0000

    def rows(batch):
        return spark.createDataFrame(batch, "doc_id LONG, hash LONG")

    with tempfile.TemporaryDirectory() as tmp:
        idx_path = os.path.join(tmp, "fpidx")
        build_fingerprint_index(rows([(0, v0), (1, v1), (2, v2)])) \
            .write.parquet(idx_path)
        ing = FingerprintIndexIngest(idx_path, max_hamming=3)

        verdicts: dict[int, dict] = {}

        def process(batch_df, batch_id):
            for r in ing.ingest(batch_df).collect():
                verdicts[r.doc_id] = (r.n_corpus_matches,
                                      r.n_batch_matches, r.is_kept)

        src = os.path.join(tmp, "in")
        os.makedirs(src)
        # batch 1: 100 = 1-bit flip of corpus v0 (drop: corpus);
        # 101 = fresh v4 (keep); 102 = 1-bit flip of 101 (drop: lower-
        # id batch mate)
        rows([(100, v0 ^ 1), (101, v4), (102, v4 ^ 2)]).write.parquet(
            os.path.join(src, "b0"))
        source = (spark.readStream.schema("doc_id LONG, hash LONG")
                  .option("recursiveFileLookup", "true").parquet(src))
        q = (source.writeStream.foreachBatch(process)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .start())
        try:
            q.processAllAvailable()
            assert verdicts[100] == (1, 0, 0)
            assert verdicts[101] == (0, 0, 1)
            assert verdicts[102] == (0, 1, 0)

            # batch 2: 200 = flip of 101 (batch-1 SURVIVOR, now in the
            # index → drop); 201 = fresh (keep); 202 = 3 more flips of
            # DROPPED doc 102 — hamming 4 to survivor 101, 3 to
            # non-indexed 102 → must be KEPT (dropped docs don't
            # pollute the index)
            rows([(200, v4 ^ 4), (201, v5), (202, v4 ^ 2 ^ 0x70)]) \
                .write.parquet(os.path.join(src, "b1"))
            q.processAllAvailable()
            assert verdicts[200] == (1, 0, 0)
            assert verdicts[201] == (0, 0, 1)
            assert verdicts[202] == (0, 0, 1)
        finally:
            q.stop()

        # the index holds ONLY seed + survivors
        idx_ids = {r.doc_id for r in
                   spark.read.parquet(idx_path).collect()}
        assert idx_ids == {0, 1, 2, 101, 201, 202}

        # plan lint: the new-vs-corpus stage scans the index ONCE and
        # has exactly one join — old-vs-old does not exist as a stage
        pairs = incremental_hamming_pairs(
            rows([(300, v4 ^ 8)]), spark.read.parquet(idx_path),
            max_hamming=3)
        pairs.collect()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("fpidx") == 1
        import re as _re
        assert len(_re.findall(r"\b\w*Join\b", final)) == 1


def test_fingerprint_ingest_missing_vs_broken_index(spark, tmp_path):
    """r14 self-review: a MISSING index path means first batch (start
    empty); a BROKEN index (unreadable file) must raise — silently
    restarting from an empty index would re-admit every near-dup."""
    from enrich_spark.datapipe.dedup import FingerprintIndexIngest

    rows = spark.createDataFrame([(1, 12345)], "doc_id LONG, hash LONG")
    ok = FingerprintIndexIngest(str(tmp_path / "never_written"))
    assert [r.is_kept for r in ok.ingest(rows).collect()] == [1]

    import pytest as _pytest

    broken_dir = tmp_path / "broken"
    broken_dir.mkdir()
    (broken_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    bad = FingerprintIndexIngest(str(broken_dir))
    with _pytest.raises(Exception, match="(?i)parquet|footer|magic"):
        bad.ingest(spark.createDataFrame([(2, 999)],
                                         "doc_id LONG, hash LONG")).collect()
