"""Enrichment configuration model.

Parses the same self-describing JSON enrichment configs the reference
ships (/root/reference/config/enrichments/*.json; parser dispatch mirrors
common/enrichments/EnrichmentRegistry.scala:109-173). Every enrichment is
optional: an absent config means the plan builder skips that stage
entirely (job-compile-time skip, vs the reference's per-row Option check).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any


@dataclass
class CampaignAttributionConf:
    medium_params: list[str] = field(default_factory=lambda: ["utm_medium"])
    source_params: list[str] = field(default_factory=lambda: ["utm_source"])
    term_params: list[str] = field(default_factory=lambda: ["utm_term"])
    content_params: list[str] = field(default_factory=lambda: ["utm_content"])
    campaign_params: list[str] = field(default_factory=lambda: ["utm_campaign"])
    # ordered (qs param -> network name); mirrors clickIdParameters
    click_id_params: list[tuple[str, str]] = field(
        default_factory=lambda: [("gclid", "Google"), ("msclkid", "Microsoft"), ("dclid", "DoubleClick")]
    )


@dataclass
class AnonIpConf:
    ipv4_octets: int = 2
    ipv6_segments: int = 4


@dataclass
class EventFingerprintConf:
    algorithm: str = "MD5"  # MD5 | SHA1 | SHA256 | SHA384 | SHA512
    excluded_params: list[str] = field(default_factory=lambda: ["eid", "stm", "cv", "nuid"])


@dataclass
class RefererParserConf:
    internal_domains: list[str] = field(default_factory=list)


@dataclass
class CrossNavigationConf:
    enabled: bool = True


@dataclass
class CookieExtractorConf:
    cookies: list[str] = field(default_factory=list)


@dataclass
class HttpHeaderExtractorConf:
    headers_pattern: str = ".*"


@dataclass
class PiiJsonFieldConf:
    """JSON ('json'-type) PII mutator: hash string value(s) at json_path
    inside SDJs whose schema matches the criterion
    (pii/PiiPseudonymizerEnrichment.scala:252-387, Mutators.scala)."""

    entity: str  # "unstruct" | "contexts" | "derived_contexts"
    schema_criterion: str  # e.g. "iglu:com.acme/user/jsonschema/1-*-*"
    json_path: str  # dot-path subset: "$.email", "$.user.emails"


@dataclass
class PiiPseudonymizerConf:
    # atomic field names to pseudonymize (reference pii/ScalarMutators.scala:15-122)
    fields: list[str] = field(default_factory=lambda: ["user_id", "user_ipaddress"])
    hash_function: str = "SHA-256"  # MD5 | SHA-1 | SHA-256 | SHA-384 | SHA-512
    salt: str = ""
    anonymous_only: bool = False
    emit_identification_event: bool = False
    json_fields: list[PiiJsonFieldConf] = field(default_factory=list)


@dataclass
class IpLookupsConf:
    # path to a parquet/csv range table (ip_start, ip_end, country, region,
    # city, zipcode, latitude, longitude, region_name, timezone, isp,
    # organization, domain, netspeed); or an .mmdb path when maxminddb is
    # importable. See operators/geo.py.
    geo_path: str | None = None
    mmdb_path: str | None = None


@dataclass
class CurrencyConversionConf:
    base_currency: str = "EUR"
    rates_path: str | None = None  # parquet/csv: (day DATE, from_ccy, to_ccy, rate DECIMAL)


@dataclass
class UaParserConf:
    enabled: bool = True


@dataclass
class UserAgentUtilsConf:
    enabled: bool = True


@dataclass
class YauaaConf:
    enabled: bool = True


@dataclass
class IabConf:
    # spider/robot detection lists (public IAB list shape); small built-ins by default
    bot_ua_patterns: list[str] = field(
        default_factory=lambda: ["(?i)bot", "(?i)crawler", "(?i)spider", "(?i)slurp", "curl/", "wget/"]
    )
    datacenter_ip_ranges: list[str] = field(default_factory=list)
    # real IAB list files (IabEnrichment.scala:112-116; formats in
    # operators/iab.py). When any is set the file-based operator runs
    # instead of the pattern-list fallback.
    ip_file: str | None = None
    exclude_ua_file: str | None = None
    include_ua_file: str | None = None
    exclude_useragents: list[str] = field(default_factory=list)
    include_useragents: list[str] = field(default_factory=list)


@dataclass
class AsnLookupsConf:
    # parquet/csv range table (ip_start BIGINT, ip_end BIGINT, asn INT,
    # asn_org STRING); None = demo table
    ranges_path: str | None = None
    datacenter_asns: list[int] = field(default_factory=list)


@dataclass
class BotDetectionConf:
    enabled: bool = True


@dataclass
class IgluConf:
    # static-registry directories (Iglu layout vendor/name/format/m-r-a)
    registry_dirs: list[str] = field(default_factory=list)
    # inline uri → schema dict entries
    schemas: dict = field(default_factory=dict)
    # remote registries in priority order ({base}/schemas/... layout,
    # e.g. Iglu Central) — resolved lazily with per-executor LRU caching
    # (functions/iglu.http_registry_loader); transport injectable
    http_registries: list[str] = field(default_factory=list)
    http_transport: Any = None
    strict: bool = False  # unresolvable schema: error (True) or skip (False)


@dataclass
class JavascriptScriptConf:
    # our extension surface: a Python callable with the JS-enrichment
    # contract (SURVEY §2.5 #21) — fn(event: dict, params: dict, headers: list) ->
    # None | list[context] | raise | {"drop": True} | {"error": msg}
    function: Any = None
    params: dict = field(default_factory=dict)
    # optional Arrow-batch fast path (the Node sidecar sets this):
    # batch_function(events: list[dict], headers: list[list[str]]) ->
    # list[engine-result dicts] — one pipe round trip per Arrow batch
    batch_function: Any = None


@dataclass
class EnrichmentsConfig:
    campaign_attribution: CampaignAttributionConf | None = None
    anon_ip: AnonIpConf | None = None
    event_fingerprint: EventFingerprintConf | None = None
    referer_parser: RefererParserConf | None = None
    cross_navigation: CrossNavigationConf | None = None
    cookie_extractor: CookieExtractorConf | None = None
    http_header_extractor: HttpHeaderExtractorConf | None = None
    pii_pseudonymizer: PiiPseudonymizerConf | None = None
    ip_lookups: IpLookupsConf | None = None
    currency_conversion: CurrencyConversionConf | None = None
    ua_parser: UaParserConf | None = None
    user_agent_utils: UserAgentUtilsConf | None = None
    yauaa: YauaaConf | None = None
    iab: IabConf | None = None
    javascript_script: JavascriptScriptConf | None = None
    asn_lookups: AsnLookupsConf | None = None
    bot_detection: BotDetectionConf | None = None
    iglu: IgluConf | None = None
    # operators/lookups.py conf objects (SqlQueryConf / ApiRequestConf /
    # WeatherConf) — typed Any to avoid a config↔operators import cycle
    sql_query: Any = None
    api_request: Any = None
    weather: Any = None
    # operators/eventspec.EventSpecConf and operators/identity.IdentityConf
    event_spec: Any = None
    identity: Any = None
    # {(vendor, version): transport} — HTTP sidecar translators
    remote_adapters: Any = None
    # lookup DataFrame provider for sql_query broadcast mode:
    # Callable[[SparkSession], DataFrame]
    sql_query_table: Any = None
    # per-event cached query mode (Rdbms.scala:31-66): a
    # Callable[[dict], list[dict]] run behind a per-worker LRU+TTL
    # cache; used when sql_query_table is None
    sql_query_fn: Any = None
    # v_collector fallback when neither the cv param nor the collector
    # source name is set; None = no fallback, the collectorVersionSet
    # guard fails the event (EnrichmentManager.scala:446-463)
    v_collector_default: str | None = "unknown"
    # atomic-field length posture (AtomicFieldsLengthValidator.scala:34-86):
    # True = accept oversize values unchanged (v6 default, counted only);
    # False = record a FieldLengthError per oversize field and nullify it
    # on the failed-stream copy (emitFailed semantics)
    accept_invalid_atomic: bool = True

    @staticmethod
    def default() -> "EnrichmentsConfig":
        """The baseline enrichment set used by BASELINE.md's bench plan."""
        return EnrichmentsConfig(
            campaign_attribution=CampaignAttributionConf(),
            anon_ip=AnonIpConf(),
            event_fingerprint=EventFingerprintConf(),
            referer_parser=RefererParserConf(),
            cross_navigation=CrossNavigationConf(),
            pii_pseudonymizer=None,
            ua_parser=UaParserConf(),
            user_agent_utils=UserAgentUtilsConf(),
        )


# --- SDJ config-file parsing (EnrichmentRegistry.parse dispatch) -----------

_SNAKE = {
    "campaign_attribution": "campaign_attribution",
    "anon_ip": "anon_ip",
    "event_fingerprint_config": "event_fingerprint",
    "event_fingerprint": "event_fingerprint",
    "referer_parser": "referer_parser",
    "cross_navigation_config": "cross_navigation",
    "cookie_extractor_config": "cookie_extractor",
    "http_header_extractor_config": "http_header_extractor",
    "pii_enrichment_config": "pii_pseudonymizer",
    "ip_lookups": "ip_lookups",
    "currency_conversion_config": "currency_conversion",
    "ua_parser_config": "ua_parser",
    "user_agent_utils_config": "user_agent_utils",
    "yauaa_enrichment_config": "yauaa",
    "iab_spiders_and_robots_enrichment": "iab",
    "asn_lookups": "asn_lookups",
    "bot_detection_enrichment_config": "bot_detection",
    "javascript_script_config": "javascript_script",
    "api_request_enrichment_config": "api_request",
    "sql_query_enrichment_config": "sql_query",
    "weather_enrichment_config": "weather",
}


def parse_enrichment_sdj(doc: dict) -> tuple[str, Any] | None:
    """One SDJ enrichment config document → (slot_name, conf) or None if disabled."""
    data = doc.get("data", doc)
    name = data.get("name", "")
    if not data.get("enabled", False):
        return None
    params = data.get("parameters", {})
    slot = _SNAKE.get(name)
    if slot is None:
        return None
    if slot == "campaign_attribution":
        f = params.get("fields", {})
        return slot, CampaignAttributionConf(
            medium_params=f.get("mktMedium", ["utm_medium"]),
            source_params=f.get("mktSource", ["utm_source"]),
            term_params=f.get("mktTerm", ["utm_term"]),
            content_params=f.get("mktContent", ["utm_content"]),
            campaign_params=f.get("mktCampaign", ["utm_campaign"]),
            click_id_params=list((f.get("mktClickId") or {}).items())
            or CampaignAttributionConf().click_id_params,
        )
    if slot == "anon_ip":
        return slot, AnonIpConf(
            ipv4_octets=int(params.get("anonOctets", 2)),
            ipv6_segments=int(params.get("anonSegments", params.get("anonOctets", 4))),
        )
    if slot == "event_fingerprint":
        return slot, EventFingerprintConf(
            algorithm=params.get("hashAlgorithm", "MD5"),
            excluded_params=params.get("excludeParameters", ["eid", "stm", "cv", "nuid"]),
        )
    if slot == "referer_parser":
        return slot, RefererParserConf(internal_domains=params.get("internalDomains", []))
    if slot == "cross_navigation":
        return slot, CrossNavigationConf()
    if slot == "cookie_extractor":
        return slot, CookieExtractorConf(cookies=params.get("cookies", []))
    if slot == "http_header_extractor":
        return slot, HttpHeaderExtractorConf(headers_pattern=params.get("headersPattern", ".*"))
    if slot == "pii_pseudonymizer":
        pojo = [
            p["pojo"]["field"]
            for p in params.get("pii", [])
            if "pojo" in p
        ]
        strategy = params.get("strategy", {}).get("pseudonymize", {})
        return slot, PiiPseudonymizerConf(
            fields=pojo or PiiPseudonymizerConf().fields,
            hash_function=strategy.get("hashFunction", "SHA-256"),
            salt=strategy.get("salt", ""),
            anonymous_only=params.get("anonymousOnly", False),
            emit_identification_event=data.get("emitEvent", False),
        )
    if slot == "ip_lookups":
        geo = params.get("geo", {})
        return slot, IpLookupsConf(geo_path=geo.get("uri"), mmdb_path=geo.get("database"))
    if slot == "currency_conversion":
        return slot, CurrencyConversionConf(base_currency=params.get("baseCurrency", "EUR"))
    if slot == "ua_parser":
        return slot, UaParserConf()
    if slot == "user_agent_utils":
        return slot, UserAgentUtilsConf()
    if slot == "yauaa":
        return slot, YauaaConf()
    if slot == "iab":
        return slot, IabConf()
    if slot == "asn_lookups":
        return slot, AsnLookupsConf(
            ranges_path=(params.get("botAsnsFile") or {}).get("uri"),
            datacenter_asns=[int(a["asn"])
                             for a in params.get("botAsns", [])],
        )
    if slot == "bot_detection":
        return slot, BotDetectionConf(enabled=True)
    if slot == "javascript_script":
        # base64 script + compile semantics live in operators/script
        # (lazy import: script.py imports JavascriptScriptConf from here)
        from .operators.script import javascript_config_to_hook

        return slot, javascript_config_to_hook(doc)
    if slot == "api_request":
        # reference Input keys {{key}} → our column-name template: remap
        # each key to its pojo field (JSON inputs keep the key name and
        # need a json_inputs entry downstream; documented divergence)
        http = ((params.get("api") or {}).get("http") or {})
        uri = http.get("uri", "")
        fields, seen = [], set()
        for inp in params.get("inputs", []):
            pojo = inp.get("pojo")
            if pojo and inp.get("key") not in seen:
                seen.add(inp["key"])
                uri = uri.replace("{{%s}}" % inp["key"],
                                  "{{%s}}" % pojo["field"])
                fields.append(pojo["field"])
        out0 = (params.get("outputs") or [{}])[0]
        cache = params.get("cache") or {}
        from .operators.lookups import ApiRequestConf

        return slot, ApiRequestConf(
            url_template=uri,
            inputs=fields,
            context_schema=out0.get("schema",
                                    ApiRequestConf().context_schema),
            json_path=((out0.get("json") or {}).get("jsonPath") or "$")
            .lstrip("$").lstrip(".") or None,
            cache_size=int(cache.get("size", 1000)),
            cache_ttl_s=float(cache.get("ttl", 3600)),
            ignore_on_error=bool(params.get("ignoreOnError", False)),
            timeout_s=float(http.get("timeout", 5000)) / 1000.0,
        )
    if slot == "sql_query":
        # the reference binds ?-placeholders in arbitrary SQL against a
        # JDBC source; our broadcast path joins a lookup TABLE instead —
        # parse inputs/output into key_map + json_inputs, leaving the
        # table/provider to sql_query_table / sql_query_fn (the SQL text
        # and JDBC creds are deployment wiring, not plan shape)
        from .operators.lookups import SqlJsonInput, SqlQueryConf

        key_map: dict[str, str] = {}
        json_inputs: dict[str, Any] = {}
        for inp in params.get("inputs", []):
            if "pojo" in inp:
                f = inp["pojo"]["field"]
                key_map[f] = f
            elif "json" in inp:
                j = inp["json"]
                name = f"p{inp.get('placeholder', len(json_inputs) + 1)}"
                json_inputs[name] = SqlJsonInput(
                    field=j.get("field", "contexts"),
                    schema_criterion=j.get("schemaCriterion", ""),
                    json_path=j.get("jsonPath", "$"),
                )
                key_map.setdefault(name, name)
        out = params.get("output") or {}
        return slot, SqlQueryConf(
            key_map=key_map,
            context_schema=(out.get("json") or {}).get(
                "schema", SqlQueryConf().context_schema),
            expected_rows=out.get("expectedRows", "AT_MOST_ONE"),
            json_inputs=json_inputs,
        )
    if slot == "weather":
        from .operators.lookups import WeatherConf

        return slot, WeatherConf(cache_size=int(params.get("cacheSize", 5000)))
    return None


def load_enrichments_config(paths: list[str | Path]) -> EnrichmentsConfig:
    """Build an EnrichmentsConfig from reference-style JSON config files."""
    cfg = EnrichmentsConfig()
    for p in paths:
        doc = json.loads(Path(p).read_text())
        parsed = parse_enrichment_sdj(doc)
        if parsed:
            slot, conf = parsed
            setattr(cfg, slot, conf)
    return cfg


def load_enrichments_dir(path: str | Path) -> EnrichmentsConfig:
    """The reference deployment shape: point at a config/enrichments/
    directory of SDJ JSON files; disabled files are skipped (their
    ``enabled`` flag is the policy switch, same as the reference)."""
    return load_enrichments_config(sorted(Path(path).glob("*.json")))


def parse_iglu_resolver(doc: dict) -> IgluConf:
    """Reference resolver-config SDJ → IgluConf: http repositories in
    priority order become the remote-registry chain, embedded
    repositories become static registry dirs (their ``path`` points at
    a resource root whose ``schemas/`` holds the Iglu layout).
    vendorPrefixes are a routing OPTIMIZATION in the reference resolver
    (which registry to ask first) — our chain tries registries in
    priority order for every schema, a correctness-equivalent
    superset."""
    data = doc.get("data", doc)
    repos = sorted(data.get("repositories", []),
                   key=lambda r: r.get("priority", 0))
    http, dirs = [], []
    for r in repos:
        conn = r.get("connection", {})
        if "http" in conn and conn["http"].get("uri"):
            http.append(conn["http"]["uri"])
        elif "embedded" in conn and conn["embedded"].get("path"):
            dirs.append(str(Path(conn["embedded"]["path"]) / "schemas"))
    return IgluConf(registry_dirs=dirs, http_registries=http)


def load_iglu_resolver(path: str | Path) -> IgluConf:
    return parse_iglu_resolver(json.loads(Path(path).read_text()))
