"""Thrift loader — collector payload bytes → CollectorPayload rows.

Mirrors common/loaders/ThriftLoader.scala:57-165. The wire format is the
public snowplow `collector-payload-1` Thrift struct (schema
`iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0`)
serialized with TBinaryProtocol. Field ids per the public IDL:

    31337: string schema      100: string ipAddress   200: i64 timestamp
      210: string encoding    220: string collector   300: string userAgent
      310: string refererUri  320: string path        330: string querystring
      340: string body        350: list<string> headers
      360: string contentType 400: string hostname    410: string networkUserId

We ship a dependency-free TBinaryProtocol codec (decode for the loader,
encode for test fixtures/generators). Decoding runs as an Arrow-batched
pandas UDF over the BINARY column — the one unavoidable Python hop at
ingest; it returns a payload struct or a CPFormatViolation error string,
never throws. At 100 TB the decode parallelizes embarrassingly
(per-record, no state). Measured at 200k payloads the Arrow batch path
is ~15% faster than row-at-a-time `F.udf` (SCALE.md §3) — the thrift
walk is identical, the win is amortized serialization.
"""

from __future__ import annotations

import re
import struct
import uuid
from datetime import datetime, timezone

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA_URI = "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-0-0"

# thrift type codes
_T_STOP, _T_STRING, _T_I64, _T_LIST = 0, 11, 10, 15

_FIELDS = {
    31337: ("schema_uri", _T_STRING),
    100: ("ip_address", _T_STRING),
    200: ("timestamp", _T_I64),
    210: ("encoding", _T_STRING),
    220: ("collector", _T_STRING),
    300: ("useragent", _T_STRING),
    310: ("referer_uri", _T_STRING),
    320: ("path", _T_STRING),
    330: ("querystring", _T_STRING),
    340: ("body", _T_STRING),
    350: ("headers", _T_LIST),
    360: ("content_type", _T_STRING),
    400: ("hostname", _T_STRING),
    410: ("network_user_id", _T_STRING),
}
_NAME_TO_ID = {name: (fid, ftype) for fid, (name, ftype) in _FIELDS.items()}


def encode_payload(fields: dict) -> bytes:
    """TBinaryProtocol-encode a CollectorPayload dict (test/generator side)."""
    out = bytearray()
    items = dict(fields)
    items.setdefault("schema_uri", SCHEMA_URI)
    for name, value in items.items():
        if value is None:
            continue
        fid, ftype = _NAME_TO_ID[name]
        out += struct.pack(">bh", ftype, fid)
        if ftype == _T_STRING:
            b = str(value).encode("utf-8")
            out += struct.pack(">i", len(b)) + b
        elif ftype == _T_I64:
            out += struct.pack(">q", int(value))
        elif ftype == _T_LIST:
            out += struct.pack(">bi", _T_STRING, len(value))
            for item in value:
                b = str(item).encode("utf-8")
                out += struct.pack(">i", len(b)) + b
    out += struct.pack(">b", _T_STOP)
    return bytes(out)


def decode_payload(data: bytes) -> dict:
    """TBinaryProtocol-decode; raises ValueError on malformed input."""
    pos = 0
    out: dict = {}
    n = len(data)
    while pos < n:
        (ftype,) = struct.unpack_from(">b", data, pos)
        pos += 1
        if ftype == _T_STOP:
            break
        (fid,) = struct.unpack_from(">h", data, pos)
        pos += 2
        if ftype == _T_STRING:
            (ln,) = struct.unpack_from(">i", data, pos)
            pos += 4
            if ln < 0 or pos + ln > n:
                raise ValueError(f"bad string length {ln} at {pos}")
            value = data[pos:pos + ln].decode("utf-8", errors="replace")
            pos += ln
        elif ftype == _T_I64:
            (value,) = struct.unpack_from(">q", data, pos)
            pos += 8
        elif ftype == _T_LIST:
            etype, count = struct.unpack_from(">bi", data, pos)
            pos += 5
            if etype != _T_STRING or count < 0:
                raise ValueError(f"unsupported list elem type {etype}")
            value = []
            for _ in range(count):
                (ln,) = struct.unpack_from(">i", data, pos)
                pos += 4
                value.append(data[pos:pos + ln].decode("utf-8", errors="replace"))
                pos += ln
        else:
            raise ValueError(f"unsupported thrift type {ftype}")
        spec = _FIELDS.get(fid)
        if spec is not None:
            out[spec[0]] = value
    if not out:
        raise ValueError("empty thrift payload")
    return out


_UUID_RE = re.compile(r"^[0-9a-fA-F-]{36}$")
_PATH_RE = re.compile(r"^/([^/]+)/([^/]+)/?$")


def _parse_api(path: str):
    """CollectorPayload.parseApi (common/loaders/CollectorPayload.scala:163-182):
    /vendor/version; legacy /i, /ice.png, bare → snowplow tp1."""
    if path in ("/i", "/ice.png", "", "/"):
        return "com.snowplowanalytics.snowplow", "tp1"
    m = _PATH_RE.match(path)
    if m:
        return m.group(1), m.group(2)
    return None


def _parse_qs(qs: str | None):
    if not qs:
        return []
    from urllib.parse import parse_qsl

    return [{"name": k, "value": v} for k, v in parse_qsl(qs, keep_blank_values=True)]


_XFF_RE = re.compile(r"(?i)^(x-forwarded-for|forwarded):\s*(.+)$")


def _extract_ip(headers: list[str], fallback: str | None) -> str | None:
    """IpAddressExtractor.extractIpAddress (common/loaders/IpAddressExtractor.scala:36)."""
    for h in headers or []:
        m = _XFF_RE.match(h)
        if m:
            raw = m.group(2)
            if m.group(1).lower() == "forwarded":
                fm = re.search(r"(?i)for=\"?\[?([^;,\"\]]+)", raw)
                if fm:
                    return fm.group(1).strip()
                continue
            return raw.split(",")[0].strip()
    return fallback


PAYLOAD_SCHEMA = T.StructType([
    T.StructField("api_vendor", T.StringType()),
    T.StructField("api_version", T.StringType()),
    T.StructField("querystring", T.ArrayType(
        T.StructType([T.StructField("name", T.StringType()),
                      T.StructField("value", T.StringType())]))),
    T.StructField("content_type", T.StringType()),
    T.StructField("body", T.StringType()),
    T.StructField("collector_name", T.StringType()),
    T.StructField("encoding", T.StringType()),
    T.StructField("hostname", T.StringType()),
    T.StructField("collector_tstamp", T.TimestampType()),
    T.StructField("ip_address", T.StringType()),
    T.StructField("useragent", T.StringType()),
    T.StructField("referer_uri", T.StringType()),
    T.StructField("headers", T.ArrayType(T.StringType())),
    T.StructField("network_user_id", T.StringType()),
    T.StructField("loader_error", T.StringType()),
])


def _decode_row(data):
    if data is None:
        return tuple([None] * 14 + ["null payload bytes"])
    try:
        raw = decode_payload(bytes(data))
    except (ValueError, struct.error) as e:
        return tuple([None] * 14 + [f"error deserializing raw event: {e}"])
    schema_uri = raw.get("schema_uri")
    if schema_uri is not None and not schema_uri.startswith(
        "iglu:com.snowplowanalytics.snowplow/CollectorPayload/thrift/1-"
    ):
        return tuple([None] * 14 + [f"verifying record as {SCHEMA_URI} failed: {schema_uri}"])
    api = _parse_api(raw.get("path") or "")
    if api is None:
        return tuple([None] * 14 + [f"cannot find vendor/version in path [{raw.get('path')}]"])
    headers = raw.get("headers") or []
    nuid = raw.get("network_user_id")
    if nuid is not None and not _UUID_RE.match(nuid):
        # UUID-validate networkUserId (ThriftLoader.scala:167-170)
        nuid = None
    ts = raw.get("timestamp")
    # range-check: pandas datetime64[ns] (the Arrow-batched path) only
    # spans 1677-09-21..2262-04-11; a decodable payload with a hostile
    # timestamp must yield a CPFormatViolation, never a thrown task
    # (ADVICE r3: pd.to_datetime would raise OutOfBoundsDatetime)
    if ts is not None and not (-9_214_560_000_000 < ts < 9_214_560_000_000):
        return tuple([None] * 14 + [f"collector timestamp out of range: {ts}"])
    tstamp = (
        datetime.fromtimestamp(ts / 1000.0, tz=timezone.utc).replace(tzinfo=None)
        if ts is not None
        else None
    )
    return (
        api[0], api[1], _parse_qs(raw.get("querystring")), raw.get("content_type"),
        raw.get("body"), raw.get("collector"), raw.get("encoding"),
        raw.get("hostname"), tstamp,
        _extract_ip(headers, raw.get("ip_address")), raw.get("useragent"),
        raw.get("referer_uri"), headers, nuid, None,
    )


_PAYLOAD_COLS = [f.name for f in PAYLOAD_SCHEMA.fields]


def _make_arrow_decoder():
    """Arrow-batched decoder: one Python invocation per ~10k-row batch
    instead of one per row. The thrift walk itself is identical; the win
    is amortizing the JVM↔Python serialization that dominates `F.udf`
    at ingest volume (measured at sf0.1: see SCALE.md §6)."""
    @F.pandas_udf(PAYLOAD_SCHEMA)
    def _decode_arrow(data: pd.Series) -> pd.DataFrame:
        out = pd.DataFrame(
            [_decode_row(v) for v in data], columns=_PAYLOAD_COLS,
        )
        # object→datetime64 so Arrow gets a typed column, not objects;
        # errors="coerce" is belt-and-braces behind the _decode_row range
        # check — a datetime this path can't represent becomes NaT, not a
        # task-failing OutOfBoundsDatetime
        out["collector_tstamp"] = pd.to_datetime(
            out["collector_tstamp"], errors="coerce"
        )
        return out

    return _decode_arrow


_decode_udf_arrow = _make_arrow_decoder()


def load_thrift(df: DataFrame, bytes_col: str = "value") -> DataFrame:
    """BINARY column → CollectorPayload columns (+ loader_error), decoded
    by an Arrow-batched pandas UDF."""
    decoded = df.withColumn("_payload", _decode_udf_arrow(F.col(bytes_col)))
    return decoded.select("*", "_payload.*").drop("_payload", bytes_col)


def generate_event_id() -> str:
    return str(uuid.uuid4())
