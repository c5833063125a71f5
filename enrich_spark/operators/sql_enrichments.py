"""Pure-SQL enrichment stages (no UDFs, no shuffle).

Each stage is a plan-builder `df -> df` that adds/overwrites atomic
columns or appends to the ``_derived`` contexts array
(ARRAY<STRUCT<schema STRING, data STRING>>). Order of application is the
reference's fixed sequence (common/enrichments/EnrichmentManager.scala:342-393).

All expressions are native pyspark.sql.functions, so the entire
enrichment chain fuses into whole-stage codegen — the per-row cost at
100 TB is a single projection pass, with no Python round-trips.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import (
    AnonIpConf,
    CampaignAttributionConf,
    CookieExtractorConf,
    CrossNavigationConf,
    EventFingerprintConf,
    HttpHeaderExtractorConf,
    PiiPseudonymizerConf,
)
from ..functions import conversions as C

DERIVED_COL = "_derived"


def _append_derived(df: DataFrame, schema_uri: str, data_json: Column, when: Column) -> DataFrame:
    """Append {schema, data} to the derived-contexts array when `when` holds."""
    ctx = F.struct(F.lit(schema_uri).alias("schema"), data_json.alias("data"))
    base = F.col(DERIVED_COL) if DERIVED_COL in df.columns else F.array().cast(
        "array<struct<schema:string,data:string>>"
    )
    return df.withColumn(
        DERIVED_COL, F.when(when, F.array_append(base, ctx)).otherwise(base)
    )


def ensure_derived(df: DataFrame) -> DataFrame:
    if DERIVED_COL not in df.columns:
        df = df.withColumn(
            DERIVED_COL, F.array().cast("array<struct<schema:string,data:string>>")
        )
    return df


# Enrichment-PHASE failures (reference phase 2, EnrichmentManager.scala:187-203)
# accumulate separately from phase-1 schema violations (`_errors`): a row with
# only `_enrich_errors` is the reference's OptionIor.Both — a fully-enriched
# FAILED event (failure entities attached, emitted to the failed sink) plus an
# EnrichmentFailures bad row.
ENRICH_ERRORS_COL = "_enrich_errors"


def ensure_enrich_errors(df: DataFrame) -> DataFrame:
    if ENRICH_ERRORS_COL not in df.columns:
        df = df.withColumn(ENRICH_ERRORS_COL, F.array().cast("array<string>"))
    return df


# ---------------------------------------------------------------------------
# §2.5 #2 getPageUri + #9 extractQueryString — URI explode
# (EnrichmentManager.scala:528-548, ConversionUtils.explodeUri:75)

def _explode_uri(df: DataFrame, src: str, prefix: str) -> DataFrame:
    url = F.col(src)
    scheme = F.parse_url(url, F.lit("PROTOCOL"))
    authority = F.parse_url(url, F.lit("AUTHORITY"))
    host = F.parse_url(url, F.lit("HOST"))
    explicit_port = F.regexp_extract(authority, ":(\\d+)$", 1)
    port = (
        F.when(explicit_port != "", explicit_port.try_cast("int"))
        .when(scheme == "https", F.lit(443))
        .otherwise(F.lit(80))
    )
    path = F.parse_url(url, F.lit("PATH"))
    query = F.parse_url(url, F.lit("QUERY"))
    fragment = F.parse_url(url, F.lit("REF"))
    nonempty = lambda c: F.when(url.isNotNull() & (c != ""), c)  # noqa: E731
    return df.withColumns({
        f"{prefix}scheme": F.when(url.isNotNull(), scheme),
        f"{prefix}host": nonempty(host),
        f"{prefix}port": F.when(url.isNotNull() & host.isNotNull(), port),
        f"{prefix}path": nonempty(C.make_tsv_safe(path)),
        f"{prefix}query": nonempty(C.make_tsv_safe(query)),
        f"{prefix}fragment": nonempty(C.make_tsv_safe(fragment)),
    })


def page_uri(df: DataFrame) -> DataFrame:
    """page_url fallback to collector referer, then explode components."""
    df = df.withColumn("page_url", F.coalesce(F.col("page_url"), F.col("referer_uri")))
    return _explode_uri(df, "page_url", "page_url")


def referer_uri(df: DataFrame) -> DataFrame:
    return _explode_uri(df, "page_referrer", "refr_url")


# ---------------------------------------------------------------------------
# §2.5 #3 getDerivedTstamp (EventEnrichments.getDerivedTimestamp:74-106)

def derived_tstamp(df: DataFrame) -> DataFrame:
    ct, dct, dst, ttm = (F.col(c) for c in
                         ["collector_tstamp", "dvce_created_tstamp",
                          "dvce_sent_tstamp", "true_tstamp"])
    skew_ms = F.unix_millis(dst) - F.unix_millis(dct)
    corrected = F.timestamp_millis(F.unix_millis(ct) - skew_ms)
    return df.withColumn(
        "derived_tstamp",
        F.when(ttm.isNotNull(), ttm)
        .when(dst.isNotNull() & dct.isNotNull() & (skew_ms > 0), corrected)
        .otherwise(ct),
    )


# ---------------------------------------------------------------------------
# §2.5 #10 setCampaign (CampaignAttributionEnrichment.scala:103-144)

def _qs_map(query_col: Column) -> Column:
    """Querystring → MAP<STRING,STRING>, URL-decoded values, last-wins dupes.

    try_url_decode: malformed %-escapes must degrade to NULL, not throw
    (ANSI mode)."""
    m = F.str_to_map(query_col, F.lit("&"), F.lit("="))
    return F.transform_values(
        m, lambda k, v: F.coalesce(F.try_url_decode(F.coalesce(v, F.lit(""))), v)
    )


def _first_param(m: Column, names: list[str]) -> Column:
    out = F.lit(None).cast("string")
    for name in reversed(names):
        out = F.when(F.map_contains_key(m, F.lit(name)), m[F.lit(name)]).otherwise(out)
    return out


def campaign_attribution(df: DataFrame, conf: CampaignAttributionConf) -> DataFrame:
    m = _qs_map(F.col("page_urlquery"))
    click_id = F.lit(None).cast("string")
    network = F.lit(None).cast("string")
    for param, net in reversed(conf.click_id_params):
        hit = F.map_contains_key(m, F.lit(param))
        click_id = F.when(hit, m[F.lit(param)]).otherwise(click_id)
        network = F.when(hit, F.lit(net)).otherwise(network)
    return df.withColumns({
        "mkt_medium": C.make_tsv_safe(_first_param(m, conf.medium_params)),
        "mkt_source": C.make_tsv_safe(_first_param(m, conf.source_params)),
        "mkt_term": C.make_tsv_safe(_first_param(m, conf.term_params)),
        "mkt_content": C.make_tsv_safe(_first_param(m, conf.content_params)),
        "mkt_campaign": C.make_tsv_safe(_first_param(m, conf.campaign_params)),
        "mkt_clickid": C.make_tsv_safe(click_id),
        "mkt_network": network,
    })


# ---------------------------------------------------------------------------
# §2.5 #11 getCrossDomain (CrossNavigationEnrichment.makeCrossDomainMap:143)

def cross_navigation(df: DataFrame, conf: CrossNavigationConf) -> DataFrame:
    sp = _qs_map(F.col("page_urlquery"))[F.lit("_sp")]
    parts = F.split(sp, "\\.", -1)
    duid = F.when(F.length(parts[0]) > 0, parts[0])
    ts_raw = parts[1]
    ts = F.when(
        ts_raw.rlike("^[0-9]+$"), F.timestamp_millis(ts_raw.try_cast("long"))
    )
    has_sp = sp.isNotNull() & (F.length(sp) > 0)
    return df.withColumns({
        "refr_domain_userid": F.when(has_sp, duid),
        "refr_dvce_tstamp": F.when(has_sp, ts),
    })


# ---------------------------------------------------------------------------
# §2.5 #12 setEventFingerprint (EventFingerprintEnrichment.scala:84-103)

_US = "\x1f"  # EventFingerprintEnrichment.UnitSeparator:37


def _hash_by(algorithm: str, col: Column) -> Column:
    alg = algorithm.upper().replace("-", "")
    if alg == "MD5":
        return F.md5(col)
    if alg == "SHA1":
        return F.sha1(col)
    if alg in ("SHA256", "SHA384", "SHA512"):
        return F.sha2(col, int(alg[3:]))
    raise ValueError(f"[{algorithm}] is not a supported fingerprint algorithm")


def event_fingerprint(df: DataFrame, conf: EventFingerprintConf) -> DataFrame:
    """MD5 over sorted `key\\x1fvalue\\x1f…` of raw params minus excluded."""
    entries = F.array_sort(F.map_entries(F.col("parameters")))
    if conf.excluded_params:
        pred = lambda e: (~e.getField("key").isin(*conf.excluded_params)) & e.getField("value").isNotNull()  # noqa: E731
    else:
        pred = lambda e: e.getField("value").isNotNull()  # noqa: E731
    kept = F.filter(entries, pred)
    joined = F.array_join(
        F.transform(kept, lambda e: F.concat(e.getField("key"), F.lit(_US),
                                             e.getField("value"), F.lit(_US))),
        "",
    )
    return df.withColumn("event_fingerprint", _hash_by(conf.algorithm, joined))


# ---------------------------------------------------------------------------
# §2.5 #24 anonIp (AnonIpEnrichment.scala:131-185)

def _mask_v4(ip: Column, octets: int) -> Column:
    # reference: split.take(4-octets).padTo(split.size, "x") — result length
    # always equals the ORIGINAL split size (malformed short IPs keep size)
    parts = F.split(ip, "\\.")
    keep = F.slice(parts, 1, 4 - octets)
    n_mask = F.greatest(F.size(parts) - F.size(keep), F.lit(0))
    return F.array_join(F.concat(keep, F.array_repeat(F.lit("x"), n_mask)), ".")


def _mask_v6(ip: Column, segments: int) -> Column:
    # reference: split.take(8-segments).padTo(8, "x") — always 8 segments out
    parts = F.split(ip, ":")
    keep = F.slice(parts, 1, 8 - segments)
    n_mask = F.lit(8) - F.least(F.lit(8 - segments), F.size(parts))
    return F.array_join(F.concat(keep, F.array_repeat(F.lit("x"), n_mask)), ":")


def anon_ip(df: DataFrame, conf: AnonIpConf, column: str = "user_ipaddress") -> DataFrame:
    ip = F.col(column)
    v4_mapped = F.upper(ip).startswith("::FFFF:")
    v4_tail = F.expr(f"substring({column}, 8)")
    looks_v4 = ip.contains(".") | (F.length(ip) == 0)
    looks_v6 = ip.contains(":")
    out = (
        F.when(ip.isNull(), F.lit(None))
        .when(v4_mapped, F.concat(F.substring(ip, 1, 7), _mask_v4(v4_tail, conf.ipv4_octets)))
        .when(looks_v4, _mask_v4(ip, conf.ipv4_octets))
        .when(looks_v6, _mask_v6(ip, conf.ipv6_segments))
        .otherwise(ip)
    )
    return df.withColumn(column, out)


# ---------------------------------------------------------------------------
# §2.5 #17 extractSchemaFields (SchemaEnrichment.scala:19-61)

_IGLU_RE = "^iglu:([^/]+)/([^/]+)/([^/]+)/(.+)$"
_SYNTHETIC = {
    "page_view": ("com.snowplowanalytics.snowplow", "page_view"),
    "page_ping": ("com.snowplowanalytics.snowplow", "page_ping"),
    "transaction": ("com.snowplowanalytics.snowplow", "transaction"),
    "transaction_item": ("com.snowplowanalytics.snowplow", "transaction_item"),
    "struct": ("com.google.analytics", "event"),
}


def schema_fields(df: DataFrame) -> DataFrame:
    ev = F.col("event")
    ue_schema = F.get_json_object(F.col("ue_json"), "$.data.schema")
    vendor = F.lit(None).cast("string")
    name = F.lit(None).cast("string")
    fmt = F.lit(None).cast("string")
    version = F.lit(None).cast("string")
    for etype, (v, n) in _SYNTHETIC.items():
        vendor = F.when(ev == etype, F.lit(v)).otherwise(vendor)
        name = F.when(ev == etype, F.lit(n)).otherwise(name)
        fmt = F.when(ev == etype, F.lit("jsonschema")).otherwise(fmt)
        version = F.when(ev == etype, F.lit("1-0-0")).otherwise(version)
    is_ue = (ev == "unstruct") & ue_schema.isNotNull()
    vendor = F.when(is_ue, F.regexp_extract(ue_schema, _IGLU_RE, 1)).otherwise(vendor)
    name = F.when(is_ue, F.regexp_extract(ue_schema, _IGLU_RE, 2)).otherwise(name)
    fmt = F.when(is_ue, F.regexp_extract(ue_schema, _IGLU_RE, 3)).otherwise(fmt)
    version = F.when(is_ue, F.regexp_extract(ue_schema, _IGLU_RE, 4)).otherwise(version)
    return df.withColumns({
        "event_vendor": vendor, "event_name": name,
        "event_format": fmt, "event_version": version,
    })


# ---------------------------------------------------------------------------
# §2.5 #13/#14 cookie + header contexts
# (CookieExtractorEnrichment.scala:52-81, HttpHeaderExtractorEnrichment.scala:58-80)

def cookie_contexts(df: DataFrame, conf: CookieExtractorConf) -> DataFrame:
    df = ensure_derived(df)
    if not conf.cookies:
        return df
    headers = F.coalesce(F.col("headers"), F.array().cast("array<string>"))
    cookie_hdrs = F.filter(headers, lambda h: F.lower(h).startswith("cookie:"))
    pairs = F.flatten(
        F.transform(
            cookie_hdrs,
            lambda h: F.split(F.trim(h.substr(F.lit(8), F.length(h))), "; *"),
        )
    )
    # build one context per configured cookie name found
    for name in conf.cookies:
        val = F.element_at(
            F.transform(
                F.filter(pairs, lambda p: F.split(p, "=", 2)[0] == name),
                lambda p: F.split(p, "=", 2)[1],
            ),
            1,
        )
        data = F.to_json(F.struct(F.lit(name).alias("name"), val.alias("value")))
        df = _append_derived(
            df, "iglu:org.ietf/http_cookie/jsonschema/1-0-0", data, val.isNotNull()
        )
    return df


def http_header_contexts(df: DataFrame, conf: HttpHeaderExtractorConf) -> DataFrame:
    df = ensure_derived(df)
    headers = F.coalesce(F.col("headers"), F.array().cast("array<string>"))
    matched = F.filter(
        headers,
        lambda h: F.split(h, ": ?", 2)[0].rlike(conf.headers_pattern),
    )
    ctxs = F.transform(
        matched,
        lambda h: F.struct(
            F.lit("iglu:org.ietf/http_header/jsonschema/1-0-0").alias("schema"),
            F.to_json(
                F.struct(
                    F.split(h, ": ?", 2)[0].alias("name"),
                    F.split(h, ": ?", 2)[1].alias("value"),
                )
            ).alias("data"),
        ),
    )
    return df.withColumn(DERIVED_COL, F.concat(F.col(DERIVED_COL), ctxs))


# ---------------------------------------------------------------------------
# §2.5 #25 piiTransform — scalar mutators (pii/PiiPseudonymizerEnrichment.scala:252-387)

def pii_pseudonymizer(df: DataFrame, conf: PiiPseudonymizerConf) -> DataFrame:
    """Hash configured atomic fields; record originals in the `pii` JSON field."""
    anon_gate = F.lit(True)
    if conf.anonymous_only:
        headers = F.coalesce(F.col("headers"), F.array().cast("array<string>"))
        anon_gate = F.exists(headers, lambda h: F.lower(h).startswith("sp-anonymous:"))
    changed = []
    cols = {}
    for fname in conf.fields:
        orig = F.col(fname)
        hashed = _hash_by(conf.hash_function, F.concat(F.lit(conf.salt), orig))
        cols[fname] = F.when(anon_gate & orig.isNotNull(), hashed).otherwise(orig)
        changed.append(
            F.when(
                anon_gate & orig.isNotNull(),
                F.struct(
                    F.lit(fname).alias("fieldName"),
                    hashed.alias("modifiedValue"),
                    orig.alias("originalValue"),
                ),
            )
        )
    # ---- phase 2: JSON mutators over ue/contexts/derived by schema
    # criterion + JsonPath (PiiPseudonymizerEnrichment.scala:252-387).
    # Only enters the plan when json_fields are configured — the default
    # chain stays zero-Python.
    json_mod = None
    if getattr(conf, "json_fields", None):
        df, json_mod = _pii_json_mutate(df, conf)

    pojo_arr = F.array_compact(F.array(*changed)) if changed else F.array().cast(
        "array<struct<fieldName:string,modifiedValue:string,originalValue:string>>"
    )
    data_fields = [F.struct(pojo_arr.alias("pojo"),
                            *( [json_mod.alias("json")] if json_mod is not None else [] )
                            ).alias("pii"),
                   F.struct(F.lit(conf.hash_function).alias("hashFunction")).alias("strategy")]
    pii_json = F.to_json(
        F.struct(
            F.lit("iglu:com.snowplowanalytics.snowplow/pii_transformation/jsonschema/1-0-0").alias("schema"),
            F.struct(*data_fields).alias("data"),
        )
    )
    any_mod = F.lit(bool(conf.fields))
    if json_mod is not None:
        any_mod = any_mod | (F.size(json_mod) > 0)
    # build the pii record BEFORE mutating the fields — originalValue must
    # capture the pre-hash value (caught by test_pii_pseudonymizer)
    df = df.withColumn("pii", F.when(anon_gate & any_mod, pii_json))
    return df.withColumns(cols)


_PII_JSON_RESULT = T.StructType([
    T.StructField("ue_json", T.StringType()),
    T.StructField("co_json", T.StringType()),
    T.StructField("derived", T.ArrayType(T.StructType([
        T.StructField("schema", T.StringType()),
        T.StructField("data", T.StringType()),
    ]))),
    T.StructField("modified", T.ArrayType(T.StructType([
        T.StructField("fieldName", T.StringType()),
        T.StructField("originalValue", T.StringType()),
        T.StructField("modifiedValue", T.StringType()),
        T.StructField("jsonPath", T.StringType()),
        T.StructField("schema", T.StringType()),
    ]))),
])


def _criterion_regex(criterion: str) -> str:
    """SchemaCriterion ('iglu:com.acme/user/jsonschema/1-*-*') → regex."""
    import re as _re

    pat = _re.escape(criterion).replace(r"\*", r"[0-9]+")
    return f"^{pat}$"


def _pii_mutate_one(locators, scramble, ue_json, co_json, derived):
    """Per-event JSON mutator: hash string values addressed by (entity,
    schemaCriterion, jsonPath) locators inside ue/co/derived JSON
    (ScrambleMapFunction semantics, PiiPseudonymizerEnrichment.scala:252-387).
    Pure per-row core of the Arrow-batched UDF."""
    import json as _json
    import re as _re

    def path_replace(data, json_path: str, schema_uri: str, out: list):
        segs = [s for s in json_path.lstrip("$").strip(".").split(".") if s]
        node = data
        for seg in segs[:-1]:
            if not isinstance(node, dict) or seg not in node:
                return
            node = node[seg]
        if not segs or not isinstance(node, dict) or segs[-1] not in node:
            return
        last = segs[-1]
        cur = node[last]

        def rec(old, new):
            return {"fieldName": last, "originalValue": old, "modifiedValue": new,
                    "jsonPath": json_path, "schema": schema_uri}

        if isinstance(cur, str):
            new = scramble(cur)
            node[last] = new
            out.append(rec(cur, new))
        elif isinstance(cur, list):
            newarr = []
            for el in cur:
                if isinstance(el, str):
                    new = scramble(el)
                    out.append(rec(el, new))
                    newarr.append(new)
                else:
                    newarr.append(el)
            node[last] = newarr

    modified: list = []
    new_ue, new_co, new_derived = ue_json, co_json, derived
    try:
        if ue_json:
            env = _json.loads(ue_json)
            inner = env.get("data") if isinstance(env, dict) else None
            if isinstance(inner, dict):
                uri = inner.get("schema") or ""
                before = len(modified)
                for entity, crit, jp in locators:
                    if entity == "unstruct" and _re.match(crit, uri):
                        path_replace(inner.get("data"), jp, uri, modified)
                if len(modified) > before:
                    new_ue = _json.dumps(env, separators=(",", ":"))
        if co_json:
            env = _json.loads(co_json)
            inner = env.get("data") if isinstance(env, dict) else None
            if isinstance(inner, list):
                changed_any = False
                for sdj in inner:
                    if not isinstance(sdj, dict):
                        continue
                    uri = sdj.get("schema") or ""
                    before = len(modified)
                    for entity, crit, jp in locators:
                        if entity == "contexts" and _re.match(crit, uri):
                            path_replace(sdj.get("data"), jp, uri, modified)
                    changed_any = changed_any or len(modified) > before
                if changed_any:
                    new_co = _json.dumps(env, separators=(",", ":"))
        if derived is not None and len(derived) > 0:
            rebuilt = []
            changed_any = False
            for c in derived:
                uri, payload = c["schema"], c["data"]
                before = len(modified)
                doc = None
                for entity, crit, jp in locators:
                    if entity == "derived_contexts" and _re.match(crit, uri or ""):
                        if doc is None and payload:
                            doc = _json.loads(payload)
                        path_replace(doc, jp, uri, modified)
                if len(modified) > before and doc is not None:
                    rebuilt.append({"schema": uri,
                                    "data": _json.dumps(doc, separators=(",", ":"))})
                    changed_any = True
                else:
                    rebuilt.append({"schema": uri, "data": payload})
            if changed_any:
                new_derived = rebuilt
    except (ValueError, TypeError):
        pass  # malformed JSON is phase-1's problem, not the mutator's
    if new_derived is not None and not isinstance(new_derived, list):
        # Arrow hands derived over as a numpy array; hand back a list so
        # pyarrow re-infers the struct array cleanly
        new_derived = list(new_derived)
    return (new_ue, new_co, new_derived, modified)


def _pii_json_mutate(df: DataFrame, conf: PiiPseudonymizerConf):
    """Hash string values addressed by (entity, schemaCriterion, jsonPath)
    locators inside ue_json / co_json / _derived. Returns (df, modified)
    where `modified` is the array column of JsonModifiedField records.

    The mutator runs as an Arrow-batched pandas UDF — when json_fields
    are configured this touches every event with ue/co/derived JSON, the
    same hot-path shape Iglu validation has (functions/iglu.py)."""
    import hashlib

    locators = [
        (jf.entity, _criterion_regex(jf.schema_criterion), jf.json_path)
        for jf in conf.json_fields
    ]
    alg = conf.hash_function.upper().replace("-", "")
    hash_fn = {"MD5": hashlib.md5, "SHA1": hashlib.sha1, "SHA256": hashlib.sha256,
               "SHA384": hashlib.sha384, "SHA512": hashlib.sha512}[alg]
    salt = conf.salt

    def scramble(value: str) -> str:
        return hash_fn((salt + value).encode("utf-8")).hexdigest()

    @F.pandas_udf(_PII_JSON_RESULT)
    def mutate(ue: pd.Series, co: pd.Series, derived: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_pii_mutate_one(locators, scramble, u, c, d)
             for u, c, d in zip(ue, co, derived)],
            columns=["ue_json", "co_json", "derived", "modified"],
        )

    derived_col = F.col(DERIVED_COL) if DERIVED_COL in df.columns else F.lit(None).cast(
        "array<struct<schema:string,data:string>>"
    )
    res = mutate(F.col("ue_json"), F.col("co_json"), derived_col)
    df = df.withColumn("_pii_res", res)
    r = F.col("_pii_res")
    updates = {
        "ue_json": r.getField("ue_json"),
        "co_json": r.getField("co_json"),
    }
    if DERIVED_COL in df.columns:
        updates[DERIVED_COL] = F.coalesce(r.getField("derived"), F.col(DERIVED_COL))
    df = df.withColumns(updates)
    modified = F.coalesce(
        r.getField("modified"),
        F.array().cast(_PII_JSON_RESULT["modified"].dataType),
    )
    df = df.withColumn("_pii_json_modified", modified)
    return df.drop("_pii_res"), F.col("_pii_json_modified")


PARENT_EVENT_SCHEMA = "iglu:com.snowplowanalytics.snowplow/parent_event/jsonschema/1-0-0"


def pii_companion_events(df: DataFrame) -> DataFrame:
    """Emit the pii_transformation companion event stream
    (ConversionUtils.getPiiEvent:531-551): one event per enriched event
    whose `pii` field is set — unstruct_event = the pii SDJ, platform
    'srv', event(-name) 'pii_transformation', a parent_event context
    pointing at the original event_id, app/etl/collector timestamps
    carried over. Pure projection + filter: no shuffle, mirrors the
    reference's per-sink fan-out."""
    parent_ctx = F.to_json(
        F.struct(
            F.lit("iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0").alias("schema"),
            F.array(
                F.struct(
                    F.lit(PARENT_EVENT_SCHEMA).alias("schema"),
                    F.struct(F.col("event_id").alias("parentEventId")).alias("data"),
                )
            ).alias("data"),
        )
    )
    cols = [
        F.expr("uuid()").alias("event_id"),
        F.lit("pii_transformation").alias("event"),
        F.lit("pii_transformation").alias("event_name"),
        F.lit("com.snowplowanalytics.snowplow").alias("event_vendor"),
        F.lit("jsonschema").alias("event_format"),
        F.lit("1-0-0").alias("event_version"),
        F.lit("srv").alias("platform"),
        F.col("pii").alias("unstruct_event"),
        parent_ctx.alias("contexts"),
    ]
    for carry in ("app_id", "etl_tstamp", "collector_tstamp"):
        if carry in df.columns:
            cols.append(F.col(carry))
    return df.where(F.col("pii").isNotNull()).select(*cols)
