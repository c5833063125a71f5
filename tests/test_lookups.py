"""Specs for the service-lookup enrichments (SQL query / API request /
weather), ASN lookups, bot detection, YAUAA context, and Iglu validation.
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from enrich_spark.config import (
    AsnLookupsConf,
    BotDetectionConf,
    EnrichmentsConfig,
    IgluConf,
)
from enrich_spark.functions.iglu import (
    SchemaRegistry,
    parse_schema_key,
    validate_json,
    validate_sdj,
)
from enrich_spark.operators import referer as referer_op
from enrich_spark.operators import ua as ua_op
from enrich_spark.operators.asn import demo_asn_table
from enrich_spark.operators.lookups import (
    ApiRequestConf,
    SqlQueryConf,
    TtlCache,
    WeatherConf,
    api_request_enrichment,
    sql_query_enrichment,
    validate_lookup_unique,
    weather_context,
)
from enrich_spark.plans.pipeline import enrich_raw


def _base_df(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("_errors", F.array().cast("array<string>"))


# ---- SQL query enrichment (broadcast-join mode) ----------------------------


def test_sql_query_enrichment_join(spark):
    events = _base_df(
        spark,
        [("u1",), ("u2",), (None,)],
        "user_id STRING",
    )
    lookup = spark.createDataFrame(
        [("u1", "gold", 5)], "uid STRING, tier STRING, score INT"
    )
    conf = SqlQueryConf(key_map={"user_id": "uid"},
                        context_schema="iglu:com.acme/user_tier/jsonschema/1-0-0")
    out = sql_query_enrichment(events, conf, lookup).collect()
    by_uid = {r.user_id: r for r in out}
    hit = by_uid["u1"]
    assert len(hit._derived) == 1
    assert json.loads(hit._derived[0].data) == {"tier": "gold", "score": 5}
    assert by_uid["u2"]._derived == []      # keyed, no match, AT_MOST_ONE → ok
    assert by_uid[None]._derived == []      # missing placeholder → skip
    assert all(r._errors == [] for r in out)


def test_sql_query_exactly_one_violation(spark):
    events = _base_df(spark, [("u2",)], "user_id STRING")
    lookup = spark.createDataFrame([("u1", "gold")], "uid STRING, tier STRING")
    conf = SqlQueryConf(key_map={"user_id": "uid"}, expected_rows="EXACTLY_ONE")
    out = sql_query_enrichment(events, conf, lookup).collect()[0]
    assert any("EXACTLY_ONE" in e for e in out._enrich_errors)
    assert out._errors == []  # enrichment failure, not a schema violation


def test_validate_lookup_unique(spark):
    dup = spark.createDataFrame([("a", 1), ("a", 2)], "k STRING, v INT")
    with pytest.raises(ValueError):
        validate_lookup_unique(dup, ["k"])


# ---- API request enrichment (cached-UDF mode) ------------------------------


def test_api_request_enrichment_fake_transport(spark):
    def fake(url):
        uid = url.rsplit("/", 1)[-1]
        if uid == "boom":
            raise RuntimeError("500")
        return json.dumps({"user": {"tier": f"tier-of-{uid}"}})

    events = _base_df(spark, [("u1",), ("boom",), (None,)], "user_id STRING")
    conf = ApiRequestConf(
        url_template="http://svc/users/{{user_id}}",
        inputs=["user_id"],
        json_path="$.user",
        transport=fake,
    )
    out = {r.user_id: r for r in api_request_enrichment(events, conf).collect()}
    assert json.loads(out["u1"]._derived[0].data) == {"tier": "tier-of-u1"}
    assert any("RuntimeError" in e for e in out["boom"]._enrich_errors)
    assert out[None]._derived == [] and out[None]._enrich_errors == []


def test_api_request_ignore_on_error(spark):
    def fail(url):
        raise RuntimeError("down")

    events = _base_df(spark, [("u1",)], "user_id STRING")
    conf = ApiRequestConf(url_template="http://svc/{{user_id}}", inputs=["user_id"],
                          transport=fail, ignore_on_error=True)
    out = api_request_enrichment(events, conf).collect()[0]
    assert out._enrich_errors == [] and out._derived == []


def test_ttl_cache():
    clock = [0.0]
    calls = []
    c = TtlCache(size=2, ttl_s=10, clock=lambda: clock[0])
    assert c.get_or("k", lambda: calls.append(1) or "v1") == "v1"
    assert c.get_or("k", lambda: calls.append(1) or "v2") == "v1"  # cached
    clock[0] = 11.0
    assert c.get_or("k", lambda: calls.append(1) or "v3") == "v3"  # expired
    assert len(calls) == 2


# ---- weather ---------------------------------------------------------------


def test_weather_context_stub(spark):
    events = _base_df(
        spark,
        [(51.5, -0.09, datetime.datetime(2024, 1, 1)), (None, None, None)],
        "geo_latitude DOUBLE, geo_longitude DOUBLE, derived_tstamp TIMESTAMP",
    )
    out = weather_context(events, WeatherConf()).collect()
    with_geo = [r for r in out if r.geo_latitude is not None][0]
    assert len(with_geo._derived) == 1
    doc = json.loads(with_geo._derived[0].data)
    assert "main" in doc and "temp" in doc["main"]
    no_geo = [r for r in out if r.geo_latitude is None][0]
    assert no_geo._derived == []


# ---- ASN + bot detection + yauaa -------------------------------------------


def test_asn_lookups_and_bot_detection(spark):
    events = _base_df(
        spark,
        [("81.2.69.10", "web", "Mozilla/5.0 Chrome/120"),
         ("52.0.1.2", "web", "Mozilla/5.0 Chrome/120"),
         ("52.0.1.2", "srv", "Mozilla/5.0 Chrome/120"),
         ("9.9.9.9", "web", "Mozilla/5.0 Chrome/120")],
        "user_ipaddress STRING, platform STRING, useragent STRING",
    )
    events = events.withColumn("br_type", F.lit("Browser"))
    out = ua_op.asn_lookups(events, demo_asn_table(spark), datacenter_asns=[16509])
    out = ua_op.bot_detection_context(out).collect()

    def ctx(r, frag):
        hits = [c for c in r._derived if frag in c.schema]
        return json.loads(hits[0].data) if hits else None

    rows = {(r.user_ipaddress, r.platform): r for r in out}
    isp = ctx(rows[("81.2.69.10", "web")], "asn_context")
    assert isp["asn"] == 20712 and isp["likelyBot"] is False
    dc_web = ctx(rows[("52.0.1.2", "web")], "asn_context")
    assert dc_web["likelyBot"] is True
    dc_srv = ctx(rows[("52.0.1.2", "srv")], "asn_context")
    assert dc_srv["likelyBot"] is False  # platform-aware
    assert ctx(rows[("9.9.9.9", "web")], "asn_context") is None

    bot = ctx(rows[("52.0.1.2", "web")], "bot_detection")
    assert bot["bot"] is True and "datacenter_asn" in bot["indicators"]
    clean = ctx(rows[("81.2.69.10", "web")], "bot_detection")
    assert clean["bot"] is False and clean["indicators"] == []


def test_yauaa_context(spark):
    events = spark.createDataFrame(
        [("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0) AppleWebKit/605.1.15 Version/17.0 Mobile Safari/604.1",)],
        "useragent STRING",
    )
    out = ua_op.yauaa_context(events).collect()[0]
    data = json.loads([c for c in out._derived if "yauaa" in c.schema][0].data)
    assert data["deviceClass"] == "Phone"
    assert data["agentName"] == "Mobile Safari"
    assert data["operatingSystemName"] == "iOS"
    # extended field set (YauaaEnrichment.scala:121-160 whitelist subset)
    assert data["deviceName"] == "Apple iPhone"
    assert data["deviceBrand"] == "Apple"
    assert data["operatingSystemClass"] == "Mobile"
    assert data["operatingSystemVersion"] == "17.0"
    assert data["layoutEngineNameVersion"] == "AppleWebKit 605.1.15"
    assert data["agentClass"] == "Browser"
    assert data["agentNameVersionMajor"] == "Mobile Safari 17"


def test_ua_parser_rules_mode(spark, tmp_path):
    """Exact uap-core semantics from a regexes.yaml: first-match wins,
    $-substituted replacements, per-category walks, cached per
    useragent (UaParserEnrichment.scala:96-190 parity surface)."""
    rules_yaml = """
user_agent_parsers:
  - regex: '(Edg)e?/(\\d+)\\.(\\d+)'
    family_replacement: 'Edge'
  - regex: '(Chrome)/(\\d+)\\.(\\d+)\\.(\\d+)'
  - regex: 'Firefox/(\\d+)'
    family_replacement: 'Firefox $1'
os_parsers:
  - regex: 'Windows NT 10'
    os_replacement: 'Windows'
    os_v1_replacement: '10'
  - regex: 'Android (\\d+)'
    os_replacement: 'Android'
device_parsers:
  - regex: 'pixel (\\d+)'
    regex_flag: 'i'
    device_replacement: 'Pixel $1'
"""
    p = tmp_path / "regexes.yaml"
    p.write_text(rules_yaml)
    rules = ua_op.load_uap_rules(str(p))

    chrome = ("Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 "
              "Chrome/120.0.6099.2 Safari/537.36")
    edge = chrome + " Edg/120.0"
    pixel = "Mozilla/5.0 (Linux; Android 14; Pixel 8) Chrome/121.0.0.0"
    ff = "Mozilla/5.0 (X11; rv:122.0) Gecko/20100101 Firefox/122.0"
    df = spark.createDataFrame(
        [(1, chrome), (2, edge), (3, pixel), (4, ff), (5, "nothing"),
         (6, None)],
        "id INT, useragent STRING",
    )
    out = ua_op.ua_parser_context_rules(df, rules)
    ctx = {}
    for r in out.collect():
        hits = [c for c in (r._derived or []) if "ua_parser" in c.schema]
        ctx[r.id] = json.loads(hits[0].data) if hits else None
    # Chrome: no family_replacement → group(1); v1..v3 from groups 2-4
    assert ctx[1]["useragentFamily"] == "Chrome"
    assert (ctx[1]["useragentMajor"], ctx[1]["useragentMinor"]) == ("120", "0")
    assert ctx[1]["useragentPatch"] == "6099"
    assert (ctx[1]["osFamily"], ctx[1]["osMajor"]) == ("Windows", "10")
    # Edge rule listed first → wins over the Chrome rule
    assert ctx[2]["useragentFamily"] == "Edge"
    # $1 substitution in family_replacement
    assert ctx[4]["useragentFamily"] == "Firefox 122"
    # case-insensitive device rule with $1
    assert ctx[3]["deviceFamily"] == "Pixel 8"
    assert ctx[3]["osFamily"] == "Android"
    # no match anywhere → Other (ua-parser default)
    assert ctx[5]["useragentFamily"] == "Other"
    assert ctx[5]["osFamily"] == "Other"
    # null UA → no context (same guard as the native path)
    assert ctx[6] is None


def test_yauaa_rules_engine(spark):
    """YAUAA-format BYO ruleset (operators/yauaa_rules.py): matcher
    require/variable/extract with confidence resolution, LookUp and
    CleanVersion functions, ^ up-steps, the no-fixed-values-alone
    evidence rule, and loud rejection of unsupported constructs."""
    import pytest

    from enrich_spark.operators import yauaa_rules as yr

    RULES = """
config:
- lookup:
    name: 'OSNames'
    map:
      "windows nt 10.0": "Windows 10"
- matcher:
    extract:
    - 'AgentName : 2000 : agent.product.name="Chrome"^.name'
    - 'AgentVersion : 2000 : agent.product.name="Chrome"^.version'
    - 'LayoutEngineName : 500 : "Blink"'
- matcher:
    require:
    - 'agent.product.name="Edg"'
    extract:
    - 'AgentName : 3000 : "Edge"'
    - 'AgentVersion : 3000 : agent.product.name="Edg"^.version'
- matcher:
    variable:
    - 'WinEntry: agent.(1)product.entry.text="Windows NT 10.0"'
    extract:
    - 'OperatingSystemName : 1000 : LookUp[OSNames;@WinEntry;"Other OS"]'
- matcher:
    require:
    - 'agent.product.name="Firefox"'
    extract:
    - 'AgentVersion : 1000 : CleanVersion[agent.product.name="Firefox"^.version]'
"""
    rules = yr.load_yauaa_rules(text=RULES)
    assert len(rules["matchers"]) == 4 and "OSNames" in rules["lookups"]

    chrome = ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
              "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36")
    got = yr.evaluate_matchers(chrome, rules)
    assert got["AgentName"] == "Chrome"
    assert got["AgentVersion"] == "120.0.0.0"
    assert got["LayoutEngineName"] == "Blink"
    assert got["OperatingSystemName"] == "Windows 10"

    # higher confidence wins: Edge (3000) shadows Chrome (2000)
    got = yr.evaluate_matchers(chrome + " Edg/121.0.1", rules)
    assert got["AgentName"] == "Edge" and got["AgentVersion"] == "121.0.1"

    # CleanVersion underscores→dots; no Chrome product → no Blink
    # (literal extracts need PATH evidence in the same matcher)
    ff = "Mozilla/5.0 (X11; rv:122.0) Gecko/20100101 Firefox/122_0"
    got = yr.evaluate_matchers(ff, rules)
    assert got["AgentVersion"] == "122.0"
    assert "AgentName" not in got and "LayoutEngineName" not in got
    assert yr.evaluate_matchers("", rules) == {}

    # Concat / word ranges / index ranges
    extra = yr.load_yauaa_rules(text="""
config:
- matcher:
    extract:
    - 'ANV : 100 : Concat[agent.product.name="Chrome"^.name;" ";agent.product.name="Chrome"^.version]'
    - 'OS2W : 100 : agent.(1)product.(1)comments.(1)entry.text[1-2]'
    - 'P23 : 100 : agent.(2-3)product.name'
""")
    got = yr.evaluate_matchers(chrome, extra)
    assert got["ANV"] == "Chrome 120.0.0.0"
    assert got["OS2W"] == "Windows NT"  # first two words of the entry
    assert got["P23"] == "AppleWebKit"  # first of products 2..3

    # unsupported constructs still fail LOUDLY at load time
    # (IsNull/NormalizeBrand/LookUpPrefix are now supported — see
    # test_yauaa_rules_widened_constructs)
    with pytest.raises(ValueError, match="unsupported YAUAA function"):
        yr.load_yauaa_rules(
            text="config:\n- matcher:\n    extract:\n"
                 "    - 'AgentName : 1 : BackToFull[agent.product.name]'\n")

    # Spark operator: per-useragent cached walk + defaults
    df = spark.createDataFrame(
        [(1, chrome), (2, "UnknownBot/1.0"), (3, None)],
        "id INT, useragent STRING")
    out = yr.yauaa_context_rules(df, rules)
    ctx = {}
    for r in out.collect():
        hits = [c for c in (r._derived or []) if "yauaa" in c.schema]
        ctx[r.id] = json.loads(hits[0].data) if hits else None
    assert ctx[1]["agentName"] == "Chrome"
    assert ctx[1]["operatingSystemName"] == "Windows 10"
    # YAUAA defaults where no matcher fired: Unknown / ??
    assert ctx[2]["agentName"] == "Unknown"
    assert ctx[2]["agentVersion"] == "??"
    assert ctx[3] is None  # null UA → no context


def test_referer_db_yaml_loader(spark, tmp_path):
    p = tmp_path / "referers.yml"
    p.write_text("""
search:
  AcmeSearch:
    domains: [search.acme.test, www.search.acme.test]
    parameters: [q]
social:
  AcmeSocial:
    domains: [soc.acme.test]
""")
    db = referer_op.referer_db(spark, str(p))
    rows = {r.refr_host: r for r in db.collect()}
    assert rows["search.acme.test"].r_medium == "search"
    assert rows["search.acme.test"].r_term_params == ["q"]
    assert rows["soc.acme.test"].r_source == "AcmeSocial"
    assert rows["soc.acme.test"].r_term_params == []


def test_yauaa_default_result(spark):
    # null/empty UA → context with just deviceClass Unknown
    # (YauaaEnrichment.scala:104-107 DefaultResult)
    events = spark.createDataFrame([(None,), ("",)], "useragent STRING")
    for r in ua_op.yauaa_context(events).collect():
        data = json.loads([c for c in r._derived if "yauaa" in c.schema][0].data)
        assert data == {"deviceClass": "Unknown"}


# ---- Iglu validation -------------------------------------------------------

LINK_CLICK = {
    "type": "object",
    "properties": {
        "targetUrl": {"type": "string", "maxLength": 4096},
        "elementId": {"type": "string"},
    },
    "required": ["targetUrl"],
    "additionalProperties": False,
}


def test_parse_schema_key():
    assert parse_schema_key("iglu:com.acme/x/jsonschema/1-0-2") == \
        ("com.acme", "x", "jsonschema", 1, 0, 2)
    assert parse_schema_key("not-iglu") is None
    assert parse_schema_key("iglu:com.acme/x/jsonschema/1-0") is None


def test_validate_json_subset():
    assert validate_json(LINK_CLICK, {"targetUrl": "https://x"}) == []
    assert validate_json(LINK_CLICK, {}) == ["$: missing required property 'targetUrl'"]
    assert any("not allowed" in e for e in validate_json(LINK_CLICK, {"targetUrl": "x", "zz": 1}))
    assert any("expected type" in e for e in validate_json(LINK_CLICK, {"targetUrl": 7}))


def test_registry_model_fallback():
    reg = SchemaRegistry({"iglu:com.acme/e/jsonschema/1-0-3": {"type": "object"}})
    # request for 1-0-0 resolves the newest 1-x-x registered
    assert reg.lookup("iglu:com.acme/e/jsonschema/1-0-0") == {"type": "object"}
    assert reg.lookup("iglu:com.acme/e/jsonschema/2-0-0") is None


def test_validate_sdj_lenient_vs_strict():
    reg = SchemaRegistry()
    env = {"schema": "iglu:com.acme/unknown/jsonschema/1-0-0", "data": {}}
    assert validate_sdj(reg, env, strict=False) == []
    assert validate_sdj(reg, env, strict=True) != []


def test_pipeline_iglu_validation(spark):
    ue = json.dumps({
        "schema": "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0",
        "data": {"schema": "iglu:com.acme/link_click/jsonschema/1-0-0",
                 "data": {"elementId": "btn"}},  # missing required targetUrl
    })
    raw = spark.createDataFrame(
        [({"e": "ue", "ue_pr": ue}, datetime.datetime(2024, 1, 1)),
         ({"e": "pv"}, datetime.datetime(2024, 1, 1))],
        "parameters MAP<STRING,STRING>, collector_tstamp TIMESTAMP",
    )
    cfg = EnrichmentsConfig.default()
    cfg.iglu = IgluConf(schemas={"iglu:com.acme/link_click/jsonschema/1-0-0": LINK_CLICK})
    res = enrich_raw(raw, cfg, spark)
    assert res.bad.count() == 1
    bad = res.bad.collect()[0]
    assert any("targetUrl" in e for e in bad._errors)
    assert res.good.count() == 1


def test_pipeline_full_stack_with_new_enrichments(spark):
    raw = spark.createDataFrame(
        [({"e": "pv", "p": "web", "ip": "52.0.1.2",
           "ua": "Mozilla/5.0 (compatible; Googlebot/2.1)"},
          datetime.datetime(2024, 1, 1))],
        "parameters MAP<STRING,STRING>, collector_tstamp TIMESTAMP",
    )
    cfg = EnrichmentsConfig.default()
    cfg.asn_lookups = AsnLookupsConf(datacenter_asns=[16509])
    cfg.bot_detection = BotDetectionConf()
    res = enrich_raw(raw, cfg, spark)
    good = res.good.collect()[0]
    bot = json.loads([c for c in good._derived if "bot_detection" in c.schema][0].data)
    assert bot["bot"] is True
    assert set(bot["indicators"]) >= {"datacenter_asn", "ua_robot"}


# ---- SQL query enrichment phase 2: JSON inputs + per-event cached mode ----


def test_sql_json_inputs_all_three_fields(spark):
    """Placeholders pulled from unstruct_event / contexts / derived_contexts
    by schema criterion + JsonPath (sqlquery/Input.scala:92-140)."""
    from enrich_spark.operators.lookups import SqlJsonInput

    ue = json.dumps({
        "schema": "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0",
        "data": {"schema": "iglu:com.acme/order/jsonschema/1-2-0",
                 "data": {"okey": "A", "nested": {"x": 1}}},
    })
    co = json.dumps({
        "schema": "iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-1",
        "data": [
            {"schema": "iglu:com.other/noise/jsonschema/1-0-0", "data": {"okey": "WRONG"}},
            {"schema": "iglu:com.acme/pref/jsonschema/1-0-0", "data": {"pkey": "B"}},
        ],
    })
    events = _base_df(spark, [(ue, co)], "ue_json STRING, co_json STRING")
    events = events.withColumn("_derived", F.array(F.struct(
        F.lit("iglu:com.acme/geo/jsonschema/1-0-0").alias("schema"),
        F.lit('{"gkey":"C"}').alias("data"),
    )))
    lookup = spark.createDataFrame(
        [("A", "B", "C", "hit")], "ok STRING, pk STRING, gk STRING, val STRING"
    )
    conf = SqlQueryConf(
        key_map={"o": "ok", "p": "pk", "g": "gk"},
        json_inputs={
            "o": SqlJsonInput("unstruct_event", "iglu:com.acme/order/jsonschema/1-*-*", "$.okey"),
            "p": SqlJsonInput("contexts", "iglu:com.acme/pref/jsonschema/1-*-*", "$.pkey"),
            "g": SqlJsonInput("derived_contexts", "iglu:com.acme/geo/jsonschema/1-*-*", "$.gkey"),
        },
    )
    out = sql_query_enrichment(events, conf, lookup).collect()[0]
    added = [c for c in out._derived if "sql_context" in c.schema]
    assert len(added) == 1
    assert json.loads(added[0].data) == {"val": "hit"}
    # criterion mismatch (wrong vendor / wrong model) extracts nothing
    conf_miss = SqlQueryConf(
        key_map={"o": "ok"},
        json_inputs={"o": SqlJsonInput(
            "unstruct_event", "iglu:com.acme/order/jsonschema/2-*-*", "$.okey")},
        expected_rows="AT_MOST_ONE",
    )
    out2 = sql_query_enrichment(events.drop("_derived"), conf_miss, lookup).collect()[0]
    assert [c for c in out2._derived if "sql_context" in c.schema] == []


def test_sql_query_udf_mode_contracts(spark):
    """Per-event cached mode: contracts + EVERY_ROW context fan-out +
    skip-on-null (SqlQueryEnrichment.scala:232-235)."""
    from enrich_spark.operators.lookups import sql_query_enrichment_udf

    events = _base_df(
        spark, [("one",), ("many",), ("none",), (None,)], "k STRING"
    )
    table = {"one": [{"v": 1}], "many": [{"v": 1}, {"v": 2}], "none": []}
    calls = []

    def query_fn(binds):
        calls.append(binds["k"])
        return table[binds["k"]]

    conf = SqlQueryConf(key_map={"k": "k"}, expected_rows="AT_LEAST_ONE")
    out = {r.k: r for r in sql_query_enrichment_udf(events, conf, query_fn).collect()}
    assert [json.loads(c.data) for c in out["one"]._derived] == [{"v": 1}]
    assert [json.loads(c.data) for c in out["many"]._derived] == [{"v": 1}, {"v": 2}]
    assert any("AT_LEAST_ONE" in e for e in out["none"]._enrich_errors)
    assert out[None]._derived == [] and out[None]._enrich_errors == []

    conf2 = SqlQueryConf(key_map={"k": "k"}, expected_rows="EXACTLY_ONE")
    out2 = {r.k: r for r in sql_query_enrichment_udf(events, conf2, query_fn).collect()}
    assert any("EXACTLY_ONE" in e and "got 2" in e for e in out2["many"]._enrich_errors)

    # ALL_ROWS: one context wrapping the whole row array
    conf3 = SqlQueryConf(key_map={"k": "k"}, expected_rows="ALL_ROWS")
    out3 = {r.k: r for r in sql_query_enrichment_udf(
        events, conf3, query_fn, describes="ALL_ROWS").collect()}
    assert json.loads(out3["many"]._derived[0].data) == [{"v": 1}, {"v": 2}]


def test_api_request_cache_bounds_transport_calls(spark):
    # per-worker cache: N events with K distinct keys → exactly K
    # transport calls per worker. One partition = one worker, and the
    # call-sequence number embedded in the response proves reuse.
    calls = [0]

    def counting(url):
        calls[0] += 1
        return json.dumps({"k": url.rsplit("/", 1)[-1], "call": calls[0]})

    rows = [("a",), ("a",), ("b",), ("a",), ("b",), ("c",), ("a",), ("c",)]
    events = _base_df(spark, rows, "user_id STRING").coalesce(1)
    conf = ApiRequestConf(url_template="http://svc/{{user_id}}",
                          inputs=["user_id"], transport=counting)
    out = api_request_enrichment(events, conf).collect()
    data = [json.loads(r._derived[0].data) for r in out]
    # every row got a context; the highest call number == distinct keys
    assert len(data) == len(rows)
    assert max(d["call"] for d in data) == 3
    # same key → same cached response object
    by_key = {}
    for d in data:
        by_key.setdefault(d["k"], set()).add(d["call"])
    assert all(len(v) == 1 for v in by_key.values())


def test_api_request_skips_null_inputs_and_records_failures(spark):
    def transport(url):
        k = url.rsplit("/", 1)[-1]
        if k == "7":
            raise RuntimeError("upstream 500")
        return json.dumps({"plan": {"name": f"p-{k}"}})

    rows = [(i % 9 if i % 5 else None,) for i in range(40)]
    events = _base_df(spark, rows, "user_id INT")
    conf = ApiRequestConf(
        url_template="http://svc/{{user_id}}", inputs=["user_id"],
        json_path="$.plan", transport=transport,
    )
    got = api_request_enrichment(events, conf).collect()
    assert len(got) == len(rows)
    for r in got:
        if r.user_id is None:            # missing placeholder: skipped
            assert r._derived == [] and r._enrich_errors == []
        elif r.user_id == 7:             # service failure recorded
            assert r._derived == []
            assert [e.split("\t")[0] for e in r._enrich_errors] == ["api_request"]
            assert "upstream 500" in r._enrich_errors[0]
        else:                            # INT renders without a ".0"
            assert [tuple(c) for c in r._derived] == [
                ("iglu:com.acme/api_context/jsonschema/1-0-0",
                 json.dumps({"name": f"p-{r.user_id}"}, separators=(",", ":")))]
            assert r._enrich_errors == []


def test_api_request_url_renders_like_spark_cast(spark):
    # placeholders render as Spark's cast("string") renders them:
    # true (not Python's True), 1.0E10 (not 10000000000.0), and the
    # session-zone timestamp text
    events = _base_df(
        spark,
        [(True, 1.0e10, datetime.datetime(2026, 1, 1, 10, 0)),
         (False, 0.5, datetime.datetime(2026, 1, 2, 0, 0, 1))],
        "flag BOOLEAN, score DOUBLE, ts TIMESTAMP",
    )
    conf = ApiRequestConf(
        url_template="http://svc/{{flag}}/{{score}}/{{ts}}",
        inputs=["flag", "score", "ts"],
        transport=lambda url: json.dumps({"url": url}),
    )
    out = api_request_enrichment(events, conf).select(
        F.col("_derived")[0].data.alias("data"),
        F.concat(F.lit("http://svc/"), F.col("flag").cast("string"),
                 F.lit("/"), F.col("score").cast("string"),
                 F.lit("/"), F.col("ts").cast("string")).alias("spark_url"),
    ).collect()
    urls = sorted(json.loads(r.data)["url"] for r in out)
    assert urls == sorted(r.spark_url for r in out)
    assert urls == ["http://svc/false/0.5/2026-01-02 00:00:01",
                    "http://svc/true/1.0E10/2026-01-01 10:00:00"]


def test_weather_buckets_by_rounded_coords_and_day(spark):
    import datetime

    rows = [
        (51.5, -0.1, datetime.datetime(2026, 1, 1, 10, 0)),
        (51.52, -0.1, datetime.datetime(2026, 1, 1, 22, 0)),  # same bucket
        (51.5, -0.1, datetime.datetime(2026, 1, 2, 10, 0)),   # next day
        (40.7, -74.0, datetime.datetime(2026, 1, 1, 10, 0)),
        (None, -74.0, datetime.datetime(2026, 1, 1, 10, 0)),  # null lat → skip
    ]
    # one partition = one worker: the first event of a bucket is row order
    df = spark.createDataFrame(
        rows, "geo_latitude DOUBLE, geo_longitude DOUBLE, derived_tstamp TIMESTAMP"
    ).coalesce(1)

    def provider(lat, lon, epoch_s):
        return {"lat": lat, "lon": lon, "epoch": epoch_s}

    out = weather_context(df, WeatherConf(provider=provider)).collect()
    got = [(r.geo_latitude, r.derived_tstamp,
            [json.loads(c.data) for c in r._derived]) for r in out]
    # null-coord row has no weather context, every other row has one
    assert all(len(d) == 0 for lat, _, d in got if lat is None)
    assert all(len(d) == 1 for lat, _, d in got if lat is not None)
    docs = [d[0] for lat, _, d in got if lat is not None]
    first = {"lat": 51.5, "lon": -0.1,
             "epoch": int(datetime.datetime(2026, 1, 1, 10, 0,
                                            tzinfo=datetime.timezone.utc).timestamp())}
    # same bucket: the second row reuses the first row's document
    assert docs[0] == docs[1] == first
    # next day and another place are buckets of their own
    assert docs[2]["epoch"] == first["epoch"] + 86400
    assert docs[3]["lat"] == 40.7


def test_identity_stitches_eligible_tuples(spark):
    from enrich_spark.operators.identity import (
        FilterRule, IdentityConf, add_identity_contexts,
    )

    def transport(payload):
        import hashlib

        s = (payload.get("domain_userid") or "") + "|" + (payload.get("network_userid") or "")
        if s.startswith("bad"):
            raise RuntimeError("boom")
        return {"snowplowId": hashlib.md5(s.encode()).hexdigest()}

    rows = [
        ("du-1", "nu-1", "web"), ("du-1", "nu-1", "web"),   # same tuple twice
        ("du-2", None, "web"),                               # partial tuple
        (None, None, "web"),                                 # all-null → skip
        ("bad-x", "nu-9", "web"),                            # service failure
        ("du-3", "nu-3", "srv"),                             # filtered out
    ]
    df = spark.createDataFrame(
        rows, "domain_userid STRING, network_userid STRING, platform STRING"
    )
    conf = IdentityConf(
        transport=transport,
        filters=[FilterRule("platform", "in", ["web"])],
        max_retries=1,
    )
    out = sorted(
        (r.domain_userid or "", r.network_userid or "", r.platform,
         tuple(tuple(c) for c in r._derived),
         (r._identity_error or "").split("\t")[0])
        for r in add_identity_contexts(df, conf).collect()
    )
    by = {(x[0], x[1], x[2]): x for x in out}
    assert len(by[("du-1", "nu-1", "web")][3]) == 1      # stitched
    assert len(by[("du-2", "", "web")][3]) == 1          # partial tuple stitched
    assert len(by[("du-3", "nu-3", "srv")][3]) == 0      # filtered: no ctx
    assert len(by[("", "", "web")][3]) == 0              # all-null: no ctx
    assert by[("bad-x", "nu-9", "web")][4] == "identity"  # failure recorded
    assert [x[4] for x in out].count("") == 5


def test_identity_filtered_events_never_reach_the_service(spark, tmp_path):
    from enrich_spark.operators.identity import (
        FilterRule, IdentityConf, add_identity_contexts,
    )

    log = str(tmp_path / "payloads.jsonl")

    def transport(payload):
        # runs in the Python workers: record every payload in a file
        with open(log, "a") as f:
            f.write(json.dumps(payload) + "\n")
        return {"snowplowId": "id-" + str(payload.get("domain_userid"))}

    df = spark.createDataFrame(
        [("du-1", "nu-1", "web"), ("du-3", "nu-3", "srv"),
         ("du-4", "nu-4", "web"), ("du-5", None, "mob")],
        "domain_userid STRING, network_userid STRING, platform STRING",
    )
    conf = IdentityConf(transport=transport,
                        filters=[FilterRule("platform", "in", ["web"])])
    out = {r.domain_userid: r for r in add_identity_contexts(df, conf).collect()}
    with open(log) as f:
        sent = [json.loads(line) for line in f]
    assert sorted(p["domain_userid"] for p in sent) == ["du-1", "du-4"]
    assert "nu-3" not in {p["network_userid"] for p in sent}
    assert len(out["du-1"]._derived) == 1 and len(out["du-4"]._derived) == 1
    assert out["du-3"]._derived == [] and out["du-5"]._derived == []


def test_yauaa_rules_widened_constructs(spark):
    """r6 ADVICE widening: IsNull / negative requires, NormalizeBrand and
    LookUpPrefix (publicly documented YAUAA matcher semantics) — a
    real-format device-brand matcher file loads and classifies without
    ValueError; IsNull stays require-only and is never PATH evidence."""
    import pytest

    from enrich_spark.operators import yauaa_rules as yr

    RULES = """
config:
- lookup:
    name: 'BrandPrefixes'
    map:
      "sm-": "Samsung"
      "sm-x": "Samsung Tab"
      "pixel": "Google"
- matcher:
    require:
    - 'IsNull[agent.product.name="Chrome"]'
    extract:
    - 'AgentName : 100 : agent.product.name="Firefox"'
- matcher:
    require:
    - 'agent.(1)product.name!="Opera"'
    extract:
    - 'FirstProduct : 50 : agent.(1)product.name'
- matcher:
    variable:
    - 'Model: agent.(1)product.(1)comments.(3)entry.text'
    extract:
    - 'DeviceBrand : 200 : NormalizeBrand[LookUpPrefix[BrandPrefixes;@Model;"Unknown"]]'
    - 'DeviceName : 200 : NormalizeBrand[@Model]'
- matcher:
    require:
    - 'IsNull[agent.product.name="NothingHasThisName"]'
    extract:
    - 'OnlyLiteral : 999 : "should-not-fire"'
"""
    rules = yr.load_yauaa_rules(text=RULES)

    android = ("Mozilla/5.0 (Linux; Android 14; SM-X910 buildx) "
               "AppleWebKit/537.36 Firefox/122.0")
    got = yr.evaluate_matchers(android, rules)
    # IsNull[Chrome] passes (no Chrome product) → Firefox extract fires
    assert got["AgentName"] == "Firefox"
    # != condition resolves (Mozilla/5.0 != Opera) with path evidence
    assert got["FirstProduct"] == "Mozilla"
    # longest-prefix match: sm-x beats sm-; NormalizeBrand capitalizes
    # per documented rules (<=3-char tokens uppercase, longer title-case)
    assert got["DeviceBrand"] == "Samsung TAB"
    assert got["DeviceName"] == "SM-X910 Buildx"
    # IsNull is NOT evidence: matcher of IsNull + literal never fires
    assert "OnlyLiteral" not in got

    chrome = ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/120.0.0.0")
    got = yr.evaluate_matchers(chrome, rules)
    assert "AgentName" not in got          # IsNull[Chrome] now fails

    # require-only: IsNull in variable/extract rejects at load
    with pytest.raises(ValueError, match="require-only"):
        yr.load_yauaa_rules(text="""
config:
- matcher:
    extract:
    - 'X : 1 : IsNull[agent.product.name]'
""")


# ---- SQL query enrichment against REAL databases ----------------------------


def test_sql_query_broadcast_mode_over_real_jdbc(spark, tmp_path):
    """Reality check for the broadcast mode: the lookup frame comes from
    an actual spark.read.jdbc round trip (embedded Derby, the JDBC
    driver Spark ships), not an injected DataFrame — the exact
    deployment wiring of SqlQueryEnrichment.scala's Rdbms source."""
    jvm = spark._jvm
    db = str(tmp_path / "lookupdb")
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(
        f"jdbc:derby:{db};create=true")
    st = conn.createStatement()
    st.execute("CREATE TABLE users "
               "(uid VARCHAR(32) PRIMARY KEY, tier VARCHAR(16), score INT)")
    st.execute("INSERT INTO users VALUES ('u1', 'gold', 5), "
               "('u3', 'silver', 2)")
    conn.close()

    lookup = (
        spark.read.format("jdbc")
        .option("url", f"jdbc:derby:{db}")
        .option("dbtable", "users")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .load()
        # Derby uppercases identifiers; normalize to the conf's names
        .select(F.col("UID").alias("uid"), F.col("TIER").alias("tier"),
                F.col("SCORE").alias("score"))
    )
    events = _base_df(spark, [("u1",), ("u2",), (None,)], "user_id STRING")
    conf = SqlQueryConf(key_map={"user_id": "uid"},
                        context_schema="iglu:com.acme/user_tier/jsonschema/1-0-0")
    out = sql_query_enrichment(events, conf, lookup).collect()
    by_uid = {r.user_id: r for r in out}
    assert json.loads(by_uid["u1"]._derived[0].data) == \
        {"tier": "gold", "score": 5}
    assert by_uid["u2"]._derived == [] and by_uid[None]._derived == []
    assert all(r._errors == [] for r in out)


def test_sql_query_udf_mode_over_real_database(spark, tmp_path):
    """Reality check for the per-event mode: query_fn is a real DB-API
    closure (sqlite3 file db, opened ON THE EXECUTOR) running a
    parameterized query per distinct key — and it must agree with the
    broadcast mode over the same data (mode parity on a real DB)."""
    import sqlite3

    from enrich_spark.operators.lookups import sql_query_enrichment_udf

    dbfile = str(tmp_path / "lookup.sqlite")
    with sqlite3.connect(dbfile) as con:
        con.execute("CREATE TABLE users (uid TEXT PRIMARY KEY, "
                    "tier TEXT, score INT)")
        con.executemany("INSERT INTO users VALUES (?, ?, ?)",
                        [("u1", "gold", 5), ("u3", "silver", 2)])

    def query_fn(params):
        with sqlite3.connect(dbfile) as con:
            con.row_factory = sqlite3.Row
            rows = con.execute(
                "SELECT tier, score FROM users WHERE uid = ?",
                (params["user_id"],)).fetchall()
        return [dict(r) for r in rows]

    events = _base_df(spark, [("u1",), ("u2",), (None,)], "user_id STRING")
    conf = SqlQueryConf(key_map={"user_id": "uid"},
                        context_schema="iglu:com.acme/user_tier/jsonschema/1-0-0")
    udf_out = {r.user_id: r for r in
               sql_query_enrichment_udf(events, conf, query_fn).collect()}
    assert json.loads(udf_out["u1"]._derived[0].data) == \
        {"tier": "gold", "score": 5}
    assert udf_out["u2"]._derived == [] and udf_out[None]._derived == []

    # mode parity: broadcast join over the same sqlite data via a
    # pandas read (any JDBC/DB-API source reduces to a DataFrame here)
    with sqlite3.connect(dbfile) as con:
        rows = con.execute("SELECT uid, tier, score FROM users").fetchall()
    lookup = spark.createDataFrame(rows, "uid STRING, tier STRING, score INT")
    join_out = {r.user_id: r for r in
                sql_query_enrichment(events, conf, lookup).collect()}
    for k in ("u1", "u2", None):
        assert [c.data for c in join_out[k]._derived] == \
            [c.data for c in udf_out[k]._derived]
