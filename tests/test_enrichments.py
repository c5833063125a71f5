"""Per-enrichment golden specs, mirroring the reference's specs2 tables:
AnonIpEnrichmentSpec, EventFingerprintEnrichmentSpec, derived-tstamp cases
from eventEnrichmentSpecs, CampaignAttributionEnrichment, cross-navigation
map parsing, cookie/header extractors, schema fields, geo range join.
"""

from __future__ import annotations

import datetime
import hashlib
import json

from pyspark.sql import functions as F

from enrich_spark.config import (
    AnonIpConf,
    CampaignAttributionConf,
    CookieExtractorConf,
    CrossNavigationConf,
    EventFingerprintConf,
    HttpHeaderExtractorConf,
    PiiPseudonymizerConf,
    RefererParserConf,
)
from enrich_spark.operators import geo as geo_op
from enrich_spark.operators import referer as referer_op
from enrich_spark.operators import sql_enrichments as sql_ops


def test_anon_ip_table(spark):
    # AnonIpEnrichmentSpec golden table (registry/AnonIpEnrichment.scala:131-185)
    cases = [
        ("94.100.176.20", 2, "94.100.x.x"),
        ("94.100.176.20", 4, "x.x.x.x"),
        ("192.168.0", 2, "192.168.x"),  # malformed: take(2).padTo(origLen)
        ("", 2, ""),
        ("2001:db8:0:0:0:ff00:42:8329", 4, "2001:db8:0:0:x:x:x:x"),
        ("::FFFF:1.2.3.4", 2, "::FFFF:1.2.x.x"),  # v4-mapped
        (None, 2, None),
    ]
    for ip, octets, want in cases:
        df = spark.createDataFrame([(ip,)], "user_ipaddress STRING")
        out = sql_ops.anon_ip(df, AnonIpConf(ipv4_octets=octets, ipv6_segments=octets))
        assert out.collect()[0].user_ipaddress == want, (ip, octets)


def test_event_fingerprint_spec(spark):
    # EventFingerprintEnrichmentSpec: sorted keys, \x1f separator, eid/stm excluded
    params = {"e": "pv", "aid": "app", "eid": "ignored", "stm": "123"}
    df = spark.createDataFrame([(params,)], "parameters MAP<STRING,STRING>")
    out = sql_ops.event_fingerprint(df, EventFingerprintConf())
    got = out.collect()[0].event_fingerprint
    want = hashlib.md5("aid\x1fapp\x1fe\x1fpv\x1f".encode()).hexdigest()
    assert got == want
    # changing an excluded param must not change the fingerprint
    df2 = spark.createDataFrame([({**params, "stm": "999"},)], "parameters MAP<STRING,STRING>")
    assert sql_ops.event_fingerprint(df2, EventFingerprintConf()).collect()[0].event_fingerprint == want


def test_event_fingerprint_sha256(spark):
    df = spark.createDataFrame([({"e": "pv"},)], "parameters MAP<STRING,STRING>")
    got = sql_ops.event_fingerprint(
        df, EventFingerprintConf(algorithm="SHA256")
    ).collect()[0].event_fingerprint
    assert got == hashlib.sha256("e\x1fpv\x1f".encode()).hexdigest()


def _tstamp_df(spark, ct, dct, dst, ttm):
    return spark.createDataFrame(
        [(ct, dct, dst, ttm)],
        "collector_tstamp TIMESTAMP, dvce_created_tstamp TIMESTAMP, "
        "dvce_sent_tstamp TIMESTAMP, true_tstamp TIMESTAMP",
    )


def test_derived_tstamp_skew_correction(spark):
    # eventEnrichmentSpecs getDerivedTimestamp cases
    t = datetime.datetime
    # device clock 1s ahead: derived = collector - (sent - created)
    df = _tstamp_df(
        spark,
        t(2024, 1, 1, 12, 0, 10),
        t(2024, 1, 1, 12, 0, 5),
        t(2024, 1, 1, 12, 0, 7),
        None,
    )
    got = sql_ops.derived_tstamp(df).collect()[0].derived_tstamp
    assert got == t(2024, 1, 1, 12, 0, 8)
    # true_tstamp always wins
    df = _tstamp_df(spark, t(2024, 1, 1), t(2024, 1, 1), t(2024, 1, 1), t(2020, 6, 1, 3))
    assert sql_ops.derived_tstamp(df).collect()[0].derived_tstamp == t(2020, 6, 1, 3)
    # no device tstamps → collector
    df = _tstamp_df(spark, t(2024, 1, 2, 9), None, None, None)
    assert sql_ops.derived_tstamp(df).collect()[0].derived_tstamp == t(2024, 1, 2, 9)


def test_campaign_attribution_precedence(spark):
    df = spark.createDataFrame(
        [("utm_source=newsletter&utm_medium=email&gclid=abc123",)],
        "page_urlquery STRING",
    )
    r = sql_ops.campaign_attribution(df, CampaignAttributionConf()).collect()[0]
    assert r.mkt_source == "newsletter"
    assert r.mkt_medium == "email"
    assert r.mkt_clickid == "abc123"
    assert r.mkt_network == "Google"
    assert r.mkt_term is None


def test_campaign_first_match_priority(spark):
    conf = CampaignAttributionConf(source_params=["utm_source", "source"])
    df = spark.createDataFrame([("source=fallback&utm_source=primary",)], "page_urlquery STRING")
    assert sql_ops.campaign_attribution(df, conf).collect()[0].mkt_source == "primary"


def test_cross_navigation_sp_parse(spark):
    # _sp=duid.tstamp... (CrossNavigationEnrichment.makeCrossDomainMap:143)
    df = spark.createDataFrame(
        [("_sp=abc123.1700000000000",), ("other=1",)], "page_urlquery STRING"
    )
    rows = sql_ops.cross_navigation(df, CrossNavigationConf()).collect()
    assert rows[0].refr_domain_userid == "abc123"
    assert rows[0].refr_dvce_tstamp == datetime.datetime(2023, 11, 14, 22, 13, 20)
    assert rows[1].refr_domain_userid is None


def test_schema_fields_synthetic_and_unstruct(spark):
    df = spark.createDataFrame(
        [
            ("page_view", None),
            ("struct", None),
            ("unstruct", json.dumps({
                "schema": "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0",
                "data": {"schema": "iglu:com.acme/link_click/jsonschema/1-0-1", "data": {}},
            })),
        ],
        "event STRING, ue_json STRING",
    )
    rows = sql_ops.schema_fields(df).collect()
    assert (rows[0].event_vendor, rows[0].event_name) == ("com.snowplowanalytics.snowplow", "page_view")
    assert (rows[1].event_vendor, rows[1].event_name) == ("com.google.analytics", "event")
    assert (rows[2].event_vendor, rows[2].event_name, rows[2].event_version) == (
        "com.acme", "link_click", "1-0-1")


def test_cookie_contexts(spark):
    df = spark.createDataFrame(
        [(["Cookie: sp=abc; other=1", "Accept: */*"],)], "headers ARRAY<STRING>"
    )
    out = sql_ops.cookie_contexts(df, CookieExtractorConf(cookies=["sp"])).collect()[0]
    assert len(out._derived) == 1
    ctx = out._derived[0]
    assert ctx.schema == "iglu:org.ietf/http_cookie/jsonschema/1-0-0"
    assert json.loads(ctx.data) == {"name": "sp", "value": "abc"}


def test_http_header_contexts(spark):
    df = spark.createDataFrame(
        [(["X-Custom: v1", "Accept: */*"],)], "headers ARRAY<STRING>"
    )
    out = sql_ops.http_header_contexts(
        df, HttpHeaderExtractorConf(headers_pattern="X-.*")
    ).collect()[0]
    assert len(out._derived) == 1
    assert json.loads(out._derived[0].data) == {"name": "X-Custom", "value": "v1"}


def test_pii_pseudonymizer(spark):
    df = spark.createDataFrame(
        [("alice", "1.2.3.4", None)],
        "user_id STRING, user_ipaddress STRING, headers ARRAY<STRING>",
    )
    conf = PiiPseudonymizerConf(fields=["user_id"], hash_function="SHA-256", salt="pepper")
    r = sql_ops.pii_pseudonymizer(df, conf).collect()[0]
    assert r.user_id == hashlib.sha256(b"pepperalice").hexdigest()
    assert r.user_ipaddress == "1.2.3.4"
    pii = json.loads(r.pii)
    assert pii["data"]["pii"]["pojo"][0]["fieldName"] == "user_id"
    assert pii["data"]["pii"]["pojo"][0]["originalValue"] == "alice"


def test_geo_ip_lookups_ranges(spark):
    df = spark.createDataFrame(
        [("81.2.69.142",), ("216.160.83.56",), ("89.160.20.120",), ("127.0.0.1",), (None,)],
        "user_ipaddress STRING",
    )
    rows = geo_op.ip_lookups(df, geo_op.demo_geo_table(spark)).collect()
    by_ip = {r.user_ipaddress: r for r in rows}
    assert by_ip["81.2.69.142"].geo_country == "GB"
    assert by_ip["81.2.69.142"].geo_city == "London"
    assert by_ip["216.160.83.56"].geo_country == "US"
    assert by_ip["89.160.20.120"].geo_timezone == "Europe/Stockholm"
    assert by_ip["127.0.0.1"].geo_country is None
    assert by_ip[None].geo_country is None


def test_referer_parser_classification(spark):
    df = spark.createDataFrame(
        [
            ("https://www.google.com/search?q=shoes", "www.google.com", "q=shoes", "shop.example.com"),
            ("https://t.co/xyz", "t.co", None, "shop.example.com"),
            ("https://shop.example.com/home", "shop.example.com", None, "shop.example.com"),
            ("https://random.site/x", "random.site", None, "shop.example.com"),
            (None, None, None, "shop.example.com"),
        ],
        "page_referrer STRING, refr_urlhost STRING, refr_urlquery STRING, page_urlhost STRING",
    )
    out = referer_op.referer_parser(
        df, RefererParserConf(), referer_op.referer_db(spark)
    ).collect()
    mediums = [r.refr_medium for r in out]
    assert mediums == ["search", "social", "internal", "unknown", None]
    assert out[0].refr_source == "Google"
    assert out[0].refr_term == "shoes"


def test_page_uri_explode(spark):
    df = spark.createDataFrame(
        [("https://sub.example.org:8443/p/1?a=b&c=d#frag", None)],
        "page_url STRING, referer_uri STRING",
    )
    r = sql_ops.page_uri(df).collect()[0]
    assert r.page_urlscheme == "https"
    assert r.page_urlhost == "sub.example.org"
    assert r.page_urlport == 8443
    assert r.page_urlpath == "/p/1"
    assert r.page_urlquery == "a=b&c=d"
    assert r.page_urlfragment == "frag"


def test_page_uri_default_ports(spark):
    df = spark.createDataFrame(
        [("https://a.com/x", None), ("http://b.com/y", None)],
        "page_url STRING, referer_uri STRING",
    )
    rows = sql_ops.page_uri(df).collect()
    assert rows[0].page_urlport == 443
    assert rows[1].page_urlport == 80


def test_yauaa_client_hints(spark):
    from enrich_spark.operators.ua import yauaa_context

    chrome = ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
              "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36")
    bot = "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"
    rows = [
        # full hint set: GREASE skipped, Google Chrome preferred, platform override
        (1, chrome, ['Sec-CH-UA: "Not A(Brand";v="99", "Chromium";v="120", "Google Chrome";v="120"',
                     "Sec-CH-UA-Mobile: ?0", 'Sec-CH-UA-Platform: "Windows"']),
        # Chromium-only list + mobile flag
        (2, chrome, ['Sec-CH-UA: "Chromium";v="121"', "Sec-CH-UA-Mobile: ?1"]),
        # robot keeps precedence over ?0
        (3, bot, ["Sec-CH-UA-Mobile: ?0"]),
        # no hints: UA-string derivation
        (4, chrome, None),
    ]
    df = spark.createDataFrame(rows, "id INT, useragent STRING, headers ARRAY<STRING>")
    out = yauaa_context(df)
    import json

    ctx = {r.id: json.loads(r._derived[0].data) for r in out.collect()}
    assert ctx[1]["agentName"] == "Google Chrome"
    assert ctx[1]["agentVersion"] == "120"
    assert ctx[1]["deviceClass"] == "Desktop"
    assert ctx[1]["operatingSystemName"] == "Windows"
    assert ctx[2]["agentName"] == "Chromium"
    assert ctx[2]["deviceClass"] == "Phone"
    assert ctx[3]["deviceClass"] == "Robot"
    assert ctx[4]["agentName"] == "Chrome"


def test_javascript_config_adapter(spark):
    import base64
    import json as _json

    import pytest

    from enrich_spark.operators.script import (
        javascript_config_to_hook, script_enrichment,
    )

    js = """
    function process(event, params, headers) {
        event.app_id = (event.app_id || "") + "-" + params.suffix;
        return [{schema: "iglu:com.acme/tag/jsonschema/1-0-0",
                 data: {n: headers.length}}];
    }
    """
    cfg = {
        "schema": "iglu:com.snowplowanalytics.snowplow/javascript_script_config/jsonschema/1-0-0",
        "data": {"parameters": {
            "script": base64.b64encode(js.encode()).decode(),
            "config": {"suffix": "js"},
        }},
    }

    # no engine anywhere → documented NotImplementedError
    import enrich_spark.functions.jsengine as jse
    import unittest.mock as mock

    with mock.patch.object(jse, "node_available", return_value=False):
        with pytest.raises(NotImplementedError, match="JS engine"):
            javascript_config_to_hook(cfg)

    # bad configs fail at parse time with clear messages
    with pytest.raises(ValueError, match="base64"):
        javascript_config_to_hook({"data": {"parameters": {"script": "!!!"}}})
    with pytest.raises(ValueError, match="function process"):
        javascript_config_to_hook({"data": {"parameters": {
            "script": base64.b64encode(b"var x = 1;").decode()}}})
    with pytest.raises(ValueError, match="empty"):
        javascript_config_to_hook({"data": {"parameters": {"script": ""}}})

    # injected engine (a JS-subset interpreter standing in for quickjs):
    # proves the adapter wires source/params/headers through the hook
    # contract and the result translation end-to-end
    def fake_engine(source, event, params, headers):
        assert "function process" in source  # receives the decoded source
        event = dict(event)
        event["app_id"] = (event.get("app_id") or "") + "-" + params["suffix"]
        return {"event": event,
                "contexts": [{"schema": "iglu:com.acme/tag/jsonschema/1-0-0",
                              "data": {"n": len(headers)}}]}

    hook = javascript_config_to_hook(cfg, engine=fake_engine)
    df = spark.createDataFrame(
        [("app1", ["H: 1", "I: 2"])], "app_id STRING, headers ARRAY<STRING>"
    )
    out = script_enrichment(df, hook).collect()[0]
    assert out.app_id == "app1-js"
    ctx = [c for c in out._derived if "tag" in c.schema][0]
    assert _json.loads(ctx.data)["n"] == 2


def _script_core_rows(df, conf):
    """Expected script_enrichment output from the pure per-row core
    (operators/script._script_run_one) called directly in Python, with
    the operator's projection rules applied: a drop removes the row, an
    error appends to the enrichment errors, a mutation overrides the
    field (NULL_MUT clears it), and contexts append to — or, with
    replace, substitute for — the derived contexts."""
    from pyspark.sql import Row

    from enrich_spark.operators.script import (
        ESC_MUT, NULL_MUT, _MUTABLE_KINDS, _script_run_one,
    )
    from enrich_spark.schema import ATOMIC_FIELDS

    kinds = dict(ATOMIC_FIELDS)
    mutable = [c for c in df.columns if kinds.get(c) in _MUTABLE_KINDS]
    out = []
    for row in df.collect():
        d = row.asDict()
        event = {c: d[c] for c in mutable if d[c] is not None}
        drop, err, ctxs, replace, *muts = _script_run_one(
            conf.function, dict(conf.params), mutable, json.dumps(event),
            d.get("headers"))
        if drop:
            continue
        for c, m in zip(mutable, muts):
            if m == NULL_MUT:
                d[c] = None
            elif m is not None:
                d[c] = m[len(ESC_MUT):] if m.startswith(ESC_MUT) else m
        new = [Row(schema=x["schema"], data=x["data"])
               for x in json.loads(ctxs or "[]")]
        prior = list(d.get("_derived") or [])
        d["_derived"] = new if replace else prior + new
        d["_enrich_errors"] = [err] if err else []
        out.append(Row(**d))
    return out


def test_javascript_node_execution(spark):
    """Real JS execution through the Node sidecar (functions/jsengine.py):
    mutate / contexts / drop / throw / replace-contexts, through the
    Arrow-batched operator and the per-row core (the per-event hook
    called directly), against reference semantics
    (JavascriptScriptEnrichment.scala:62-228)."""
    import base64

    import pytest

    from enrich_spark.functions.jsengine import node_available
    from enrich_spark.operators.script import (
        javascript_config_to_hook, script_enrichment,
    )

    if not node_available():
        pytest.skip("node not on PATH")

    js = """
    function process(event, params, headers) {
        if (event.platform === 'drop') { rejectEvent(); }
        if (event.platform === 'boom') { throw 'kaboom'; }
        event.app_id = (event.app_id || '').toUpperCase() + '-' + params.suffix;
        if (event.platform === 'only') {
            event.use_derived_contexts_from_js_enrichment_only = true;
        }
        return [{schema: 'iglu:com.acme/tag/jsonschema/1-0-0',
                 data: {aid: event.app_id, n: headers.length}}];
    }
    """
    cfg = {"data": {"parameters": {
        "script": base64.b64encode(js.encode()).decode(),
        "config": {"suffix": "js"},
    }}}
    hook = javascript_config_to_hook(cfg)
    assert hook.batch_function is not None  # node path engaged

    df = spark.createDataFrame(
        [("a1", "app", ["H: 1", "I: 2"]), ("a2", "drop", None),
         ("a3", "boom", []), ("a4", "only", None)],
        "app_id STRING, platform STRING, headers ARRAY<STRING>",
    ).withColumn("_derived", F.array(F.struct(
        F.lit("iglu:com.acme/prior/jsonschema/1-0-0").alias("schema"),
        F.lit("{}").alias("data"))))

    arrow = script_enrichment(df, hook).collect()
    for rows in (arrow, _script_core_rows(df, hook)):
        got = {r.app_id: r for r in rows}
        assert set(got) == {"A1-js", "a3", "A4-js"}  # drop row vanished
        a1 = got["A1-js"]
        assert [c.schema.split("/")[1] for c in a1._derived] == ["prior", "tag"]
        assert json.loads(a1._derived[1].data) == {"aid": "A1-js", "n": 2}
        assert any("kaboom" in e for e in got["a3"]._enrich_errors)
        assert got["a3"].app_id == "a3"  # failed script leaves event as-is
        # replace-contexts: the prior derived context is gone
        assert [c.schema.split("/")[1] for c in got["A4-js"]._derived] == ["tag"]

    # compile-error handling, both exitOnCompileError modes
    bad = {"data": {"parameters": {
        "script": base64.b64encode(b"function process(e,p,h{").decode()}}}
    with pytest.raises(ValueError, match="Error compiling JavaScript"):
        javascript_config_to_hook(bad)
    lax = javascript_config_to_hook(bad, exit_on_compile_error=False)
    out = script_enrichment(df.limit(1), lax).collect()[0]
    assert any("Error compiling JavaScript" in e for e in out._enrich_errors)


def test_javascript_sidecar_isolation_timeout_and_null_mutation(spark):
    """Confinement + robustness of the Node sidecar: (a) prototype-walk
    escapes resolve to realm-local objects, never the host process; (b) a
    runaway script hits the per-event vm timeout and degrades to an error
    row without hanging or poisoning the engine; (c) a script that nulls
    or deletes an atomic field clears it end-to-end (reference in-place
    mutate-to-null, JavascriptScriptEnrichment.scala:176-185)."""
    import base64

    import pytest

    from enrich_spark.functions.jsengine import NodeJsEngine, node_available
    from enrich_spark.operators.script import (
        javascript_config_to_hook, script_enrichment,
    )

    if not node_available():
        pytest.skip("node not on PATH")

    eng = NodeJsEngine(exec_timeout_ms=1000)
    try:
        # (a) the advisor's exploit plus a params-prototype variant: both
        # must come back with no pid / no env (realm-local `process` is
        # the user's own function, not the host object)
        esc = """function process(event, params, headers) {
            var a = Object.constructor('return process')();
            var b = params.constructor.constructor('return process')();
            return [{schema: 'iglu:x/x/jsonschema/1-0-0',
                     data: {apid: typeof a.pid, aenv: typeof a.env,
                            bpid: typeof b.pid, benv: typeof b.env}}];
        }"""
        [res] = eng.eval_batch(esc, {"k": 1}, [({}, [])])
        got = res["contexts"][0]["data"]
        assert got == {"apid": "undefined", "aenv": "undefined",
                       "bpid": "undefined", "benv": "undefined"}

        # (b) infinite loop → timed-out error row; engine stays usable
        loop = "function process(e, p, h) { while (true) {} }"
        [res] = eng.eval_batch(loop, {}, [({}, [])])
        assert "timed out" in res["error"]
        ok = "function process(e, p, h) { e.app_id = 'alive'; return null; }"
        [res] = eng.eval_batch(ok, {}, [({"app_id": "x"}, [])])
        assert res["event"]["app_id"] == "alive"
    finally:
        eng.close()

    # (c) null-out through the full operator, node batch2 path
    js = """function process(event, params, headers) {
        event.user_id = null;
        delete event.app_id;
        event.platform = 'web';
        return null;
    }"""
    cfg = {"data": {"parameters": {
        "script": base64.b64encode(js.encode()).decode()}}}
    hook = javascript_config_to_hook(cfg)
    df = spark.createDataFrame(
        [("a1", "u1", "srv", None)],
        "app_id STRING, user_id STRING, platform STRING, headers ARRAY<STRING>",
    )
    for out in (script_enrichment(df, hook).collect()[0],
                _script_core_rows(df, hook)[0]):
        assert out.user_id is None and out.app_id is None
        assert out.platform == "web"

    # same contract for the Python hook: absent = keep, None = clear
    from enrich_spark.config import JavascriptScriptConf

    def py_hook(event, params, headers):
        return {"event": {"user_id": None}}

    out = script_enrichment(
        df, JavascriptScriptConf(function=py_hook, params={})).collect()[0]
    assert out.user_id is None and out.app_id == "a1"


def test_pii_json_mutator_batched_matches_row_mode(spark):
    from enrich_spark.config import PiiJsonFieldConf

    ue = json.dumps({
        "schema": "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0",
        "data": {"schema": "iglu:com.acme/user/jsonschema/1-0-2",
                 "data": {"email": "a@b.com", "tags": ["x", "y", 3], "keep": 1}},
    })
    co = json.dumps({
        "schema": "iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0",
        "data": [{"schema": "iglu:com.acme/acct/jsonschema/1-0-0",
                  "data": {"emails": ["p@q.com"], "plan": "pro"}},
                 {"schema": "iglu:com.other/thing/jsonschema/1-0-0",
                  "data": {"plan": "free"}}],
    })
    rows = [
        ("e1", ue, co, [("iglu:com.acme/sess/jsonschema/1-0-0",
                         json.dumps({"token": "secret", "n": 5}))]),
        ("e2", None, None, None),
        ("e3", "not json", co, []),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id STRING, ue_json STRING, co_json STRING, "
        "_derived ARRAY<STRUCT<schema:STRING, data:STRING>>",
    )
    conf = PiiPseudonymizerConf(
        fields=[], hash_function="SHA-256", salt="s",
        json_fields=[
            PiiJsonFieldConf("unstruct", "iglu:com.acme/user/jsonschema/1-*-*", "$.email"),
            PiiJsonFieldConf("unstruct", "iglu:com.acme/user/jsonschema/1-*-*", "$.tags"),
            PiiJsonFieldConf("contexts", "iglu:com.acme/acct/jsonschema/1-*-*", "$.emails"),
            PiiJsonFieldConf("derived_contexts", "iglu:com.acme/sess/jsonschema/1-*-*", "$.token"),
        ],
    )

    out, mod = sql_ops._pii_json_mutate(df, conf)
    got = out.select("event_id", "ue_json", "co_json", "_derived",
                     mod.alias("modified")).collect()
    b = {r.event_id: (r.ue_json, r.co_json,
                      [tuple(d) for d in (r._derived or [])],
                      [m.asDict() for m in r.modified]) for r in got}

    # the pure per-row core, called directly with the operator's
    # locators and salted SHA-256 scramble
    locators = [(jf.entity, sql_ops._criterion_regex(jf.schema_criterion),
                 jf.json_path) for jf in conf.json_fields]

    def scramble(v):
        return hashlib.sha256(("s" + v).encode()).hexdigest()

    r = {}
    for eid, u, c, d in rows:
        derived = [{"schema": sc, "data": da} for sc, da in d] \
            if d is not None else None
        nu, nc, nd, modified = sql_ops._pii_mutate_one(
            locators, scramble, u, c, derived)
        r[eid] = (nu, nc, [(x["schema"], x["data"]) for x in (nd or [])],
                  modified)
    assert b == r
    # sanity on the batched result itself, not just parity
    ue1 = json.loads(b["e1"][0])["data"]["data"]
    assert ue1["email"] == hashlib.sha256(b"sa@b.com").hexdigest()
    assert ue1["tags"][:2] == [hashlib.sha256(b"sx").hexdigest(),
                               hashlib.sha256(b"sy").hexdigest()]
    assert ue1["tags"][2] == 3 and ue1["keep"] == 1
    der1 = json.loads(b["e1"][2][0][1])
    assert der1["token"] == hashlib.sha256(b"ssecret").hexdigest()
    assert b["e3"][0] == "not json"  # malformed input passes through
    mods = {m["fieldName"] for m in b["e1"][3]}
    assert mods == {"email", "tags", "emails", "token"}


def test_script_enrichment_batched_matches_row_mode(spark):
    from enrich_spark.config import JavascriptScriptConf
    from enrich_spark.operators.script import script_enrichment

    def hook(event, params, headers):
        aid = event.get("app_id")
        if aid == "drop-me":
            return {"drop": True}
        if aid == "fail-me":
            raise RuntimeError("boom")
        if aid == "quiet":
            return None
        return {
            "event": {"se_label": f"{aid}:{len(headers)}:{params['p']}"},
            "contexts": [{"schema": "iglu:com.acme/c/jsonschema/1-0-0",
                          "data": {"aid": aid}}],
        }

    df = spark.createDataFrame(
        [("a1", None, ["H: 1"]), ("drop-me", None, None),
         ("fail-me", None, []), ("quiet", None, None)],
        "app_id STRING, se_label STRING, headers ARRAY<STRING>",
    )
    conf = JavascriptScriptConf(function=hook, params={"p": "v"})

    def norm(rows):
        return sorted(
            (r.app_id, r.se_label,
             tuple(tuple(c) for c in r._derived), tuple(r._enrich_errors))
            for r in rows
        )

    b = norm(script_enrichment(df, conf).collect())
    assert b == norm(_script_core_rows(df, conf))
    assert [x[0] for x in b] == ["a1", "fail-me", "quiet"]  # drop-me gone
    a1 = b[0]
    assert a1[1] == "a1:1:v"
    assert any("boom" in e for e in b[1][3])


def test_javascript_batch_watchdog_fallback(spark):
    """The sidecar arms ONE vm watchdog per batch (per-event watchdogs
    cost +45% on the script stage, measured in fresh-JVM runs); a
    batch that trips it harvests the completed prefix and re-isolates
    the remainder per event — so one hostile event errors alone and
    every other event in its batch still succeeds."""
    import pytest

    from enrich_spark.functions.jsengine import NodeJsEngine, node_available

    if not node_available():
        pytest.skip("node not on PATH")

    eng = NodeJsEngine(exec_timeout_ms=500)
    try:
        src = """function process(e, p, h) {
            if (e.app_id === 'bad') { while (true) {} }
            e.app_id = 'OK-' + e.app_id; return null;
        }"""
        out = eng.eval_batch(src, {}, [
            ({"app_id": "a"}, []), ({"app_id": "bad"}, []),
            ({"app_id": "b"}, []),
        ])
        assert out[0]["event"]["app_id"] == "OK-a"   # harvested prefix
        assert "timed out" in out[1]["error"]        # isolated offender
        assert out[2]["event"]["app_id"] == "OK-b"   # per-event rerun
    finally:
        eng.close()


def test_sidecar_partial_line_read_deadline():
    """A sidecar that emits a PARTIAL line and then hangs must still trip
    the read deadline: select() readiness only guarantees one byte, so a
    blocking readline() after it would hang forever (ADVICE r6). The
    deadline-aware raw-fd loop kills the process and raises."""
    import os
    import subprocess as sp

    import pytest

    from enrich_spark.functions.jsengine import (
        JsSidecarDeadline, NodeJsEngine, node_available,
    )

    if not node_available():
        pytest.skip("node not on PATH")

    eng = NodeJsEngine()
    eng._proc = sp.Popen(
        ["/bin/sh", "-c", "printf '{\"results\": '; sleep 100"],
        stdin=sp.PIPE, stdout=sp.PIPE, stderr=sp.DEVNULL,
        text=True, bufsize=1,
    )
    eng._pid = os.getpid()
    try:
        with pytest.raises(JsSidecarDeadline):
            eng._roundtrip({"op": "batch", "id": "x", "events": []},
                           deadline_s=1.0)
    finally:
        eng.close()


def test_script_null_mut_sentinel_collision_free(spark):
    """A script that sets a string field to the exact NULL_MUT bytes must
    store that VALUE, not clear the field (in-band marker escaped via
    ESC_MUT, ADVICE r6); an explicit null still clears."""
    from enrich_spark.config import JavascriptScriptConf
    from enrich_spark.operators.script import NULL_MUT, script_enrichment

    def fn(event, params, headers):
        if event["app_id"] == "clear-me":
            return {"event": {"app_id": None}}
        return {"event": {"app_id": NULL_MUT}}

    df = spark.createDataFrame(
        [("clear-me",), ("keep",)], "app_id STRING"
    ).withColumn("headers", F.array().cast("array<string>"))
    out = script_enrichment(df, JavascriptScriptConf(function=fn))
    rows = {r.app_id for r in out.collect()}
    assert rows == {None, NULL_MUT}
