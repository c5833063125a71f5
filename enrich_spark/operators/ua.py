"""User-agent enrichments — user_agent_utils fields + ua_parser context.

Covers SURVEY §2.5 #5 (UserAgentUtilsEnrichment.scala:72-111 → br_*/os_*/
dvce_* atomic fields) and #6 (UaParserEnrichment.scala:96-190 →
ua_parser_context derived context), re-expressed as a single native
CASE-WHEN/regexp expression chain.

DIVERGENCE NOTE (documented per SURVEY §7): the reference binds the Java
`user-agent-utils` and `ua-parser` libraries. The default path
re-derives the same output *fields* with a deterministic native regex
ruleset covering the major browser/OS/device families; exotic UA strings
may classify differently than the Java libs. Users who need EXACT
ua-parser semantics supply the public uap-core regexes.yaml and use
``ua_parser_context_rules`` (bottom of this module) — the real
first-match/$-substitution algorithm, cached per useragent.

The default path is JVM-side regexp — no Python in the hot path; at
100 TB the UA classification is part of the same codegen projection as
the rest of the chain. The rules path bounds its Python cost by UA
cardinality per worker with a per-useragent cache
(``lookups.cached_lookup``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lookups import cached_lookup, worker_state
from .sql_enrichments import DERIVED_COL, ensure_derived

# ordered (family, detect_regex, version_regex) — first match wins
_BROWSERS: list[tuple[str, str, str]] = [
    ("Edge", "(?i)edga?e?/", "Edga?e?/(\\d+[\\.\\d]*)"),
    ("Opera", "(?i)(opr/|opera)", "(?:OPR|Version|Opera)[/ ](\\d+[\\.\\d]*)"),
    ("Samsung Internet", "SamsungBrowser/", "SamsungBrowser/(\\d+[\\.\\d]*)"),
    ("Chrome Mobile", "(?=.*Chrome/)(?=.*Mobile)", "Chrome/(\\d+[\\.\\d]*)"),
    ("Chrome", "Chrome/", "Chrome/(\\d+[\\.\\d]*)"),
    ("Firefox Mobile", "(?=.*Firefox/)(?=.*(Mobile|Android))", "Firefox/(\\d+[\\.\\d]*)"),
    ("Firefox", "Firefox/", "Firefox/(\\d+[\\.\\d]*)"),
    ("Mobile Safari", "(?=.*Safari/)(?=.*(iPhone|iPad|Mobile))", "Version/(\\d+[\\.\\d]*)"),
    ("Safari", "(?=.*Safari/)(?=.*Version/)", "Version/(\\d+[\\.\\d]*)"),
    ("Internet Explorer", "(MSIE |Trident/)", "(?:MSIE |rv:)(\\d+[\\.\\d]*)"),
]

_RENDER_ENGINES: list[tuple[str, str]] = [
    ("GECKO", "Gecko/"),
    ("WEBKIT", "AppleWebKit/"),
    ("TRIDENT", "(MSIE |Trident/)"),
    ("PRESTO", "Presto/"),
]

# (os_name, os_family, manufacturer, regex)
_OSES: list[tuple[str, str, str, str]] = [
    ("Android", "Android", "Google Inc.", "Android"),
    ("iOS", "iOS", "Apple Inc.", "(iPhone|iPad|iPod)"),
    ("Windows 10", "Windows", "Microsoft Corporation.", "Windows NT 10"),
    ("Windows 7", "Windows", "Microsoft Corporation.", "Windows NT 6\\.1"),
    ("Windows", "Windows", "Microsoft Corporation.", "Windows"),
    ("Mac OS X", "Mac OS X", "Apple Inc.", "Mac OS X"),
    ("Chrome OS", "Chrome OS", "Google Inc.", "CrOS"),
    ("Linux", "Linux", "Other", "(Linux|X11)"),
]

_MOBILE_RE = "(?i)(mobile|iphone|ipad|ipod|android|blackberry|windows phone)"
_TABLET_RE = "(?i)(ipad|tablet|kindle|silk)"
_BOT_RE = "(?i)(bot|crawler|spider|slurp|archiver|facebookexternalhit|curl/|wget/|python-requests)"


def _first_match(ua: Column, rules: list[tuple[str, str]], default=None) -> Column:
    out = F.lit(default).cast("string")
    for name, pattern in reversed(rules):
        out = F.when(ua.rlike(pattern), F.lit(name)).otherwise(out)
    return out


def classify_ua(ua: Column) -> dict[str, Column]:
    """All derived UA columns from one useragent Column."""
    family = _first_match(ua, [(n, p) for n, p, _ in _BROWSERS], "Other")
    version = F.lit(None).cast("string")
    for name, detect, ver in reversed(_BROWSERS):
        version = F.when(ua.rlike(detect), F.regexp_extract(ua, ver, 1)).otherwise(version)
    version = F.when(version == "", F.lit(None)).otherwise(version)

    os_name = F.lit("Other").cast("string")
    os_family = F.lit("Other").cast("string")
    os_mfr = F.lit("Other").cast("string")
    for name, fam, mfr, pattern in reversed(_OSES):
        hit = ua.rlike(pattern)
        os_name = F.when(hit, F.lit(name)).otherwise(os_name)
        os_family = F.when(hit, F.lit(fam)).otherwise(os_family)
        os_mfr = F.when(hit, F.lit(mfr)).otherwise(os_mfr)

    is_bot = ua.rlike(_BOT_RE)
    is_tablet = ua.rlike(_TABLET_RE)
    is_mobile = ua.rlike(_MOBILE_RE)
    dvce_type = (
        F.when(is_bot, "Robot/Spider")
        .when(is_tablet, "Tablet")
        .when(is_mobile, "Mobile")
        .otherwise("Computer")
    )
    return {
        "br_name": F.when(version.isNotNull(),
                          F.concat_ws(" ", family, F.split(version, "\\.")[0])).otherwise(family),
        "br_family": family,
        "br_version": version,
        "br_type": F.when(is_bot, "Robot/Spider").otherwise(F.lit("Browser")),
        "br_renderengine": _first_match(ua, _RENDER_ENGINES, "OTHER"),
        "os_name": os_name,
        "os_family": os_family,
        "os_manufacturer": os_mfr,
        "dvce_type": dvce_type,
        "dvce_ismobile": (is_mobile & ~is_bot).cast("byte"),
    }


UA_STRUCT_COL = "_ua"

_UA_FIELDS = (
    "br_name", "br_family", "br_version", "br_type", "br_renderengine",
    "os_name", "os_family", "os_manufacturer", "dvce_type", "dvce_ismobile",
)


def ensure_ua_struct(df: DataFrame) -> DataFrame:
    """Evaluate the ~30-regex classify_ua chain ONCE into a hidden struct
    shared by user_agent_utils / ua_parser / yauaa. Without this,
    CollapseProject re-inlines the full CASE chain into every consumer
    (up to 3× per row when all three are enabled); the stage boundary
    after the struct pins a single evaluation — downstream stages see an
    attribute reference, not the expression tree. The pipeline drops
    ``_ua`` before output."""
    if UA_STRUCT_COL in df.columns:
        return df
    from ..plans.stagecut import stage_boundary

    cols = classify_ua(F.col("useragent"))
    df = df.withColumn(
        UA_STRUCT_COL, F.struct(*[v.alias(k) for k, v in cols.items()])
    )
    return stage_boundary(df)


def _ua_cols(df: DataFrame) -> tuple[DataFrame, dict[str, Column]]:
    df = ensure_ua_struct(df)
    s = F.col(UA_STRUCT_COL)
    return df, {k: s.getField(k) for k in _UA_FIELDS}


def user_agent_utils(df: DataFrame) -> DataFrame:
    """§2.5 #5 — set the br_*/os_*/dvce_* atomic fields."""
    df, cols = _ua_cols(df)
    ua = F.col("useragent")
    guarded = {k: F.when(ua.isNotNull(), v) for k, v in cols.items()}
    return df.withColumns(guarded)


def ua_parser_context(df: DataFrame) -> DataFrame:
    """§2.5 #6 — attach the ua_parser_context derived context."""
    df = ensure_derived(df)
    df, cols = _ua_cols(df)
    ua = F.col("useragent")
    ver_parts = F.split(F.coalesce(cols["br_version"], F.lit("")), "\\.")
    data = F.to_json(
        F.struct(
            cols["br_family"].alias("useragentFamily"),
            ver_parts[0].alias("useragentMajor"),
            F.when(F.size(ver_parts) > 1, ver_parts[1]).alias("useragentMinor"),
            F.when(F.size(ver_parts) > 2, ver_parts[2]).alias("useragentPatch"),
            cols["os_family"].alias("osFamily"),
            cols["dvce_type"].alias("deviceFamily"),
        )
    )
    ctx = F.struct(
        F.lit("iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0").alias("schema"),
        data.alias("data"),
    )
    return df.withColumn(
        DERIVED_COL,
        F.when(ua.isNotNull(), F.array_append(F.col(DERIVED_COL), ctx)).otherwise(F.col(DERIVED_COL)),
    )


def _client_hint(name: str, strip_quotes: bool = True) -> Column:
    """Value of a `Sec-CH-UA*` header from the `headers` array (the
    reference feeds the full header list into YAUAA,
    YauaaEnrichment.scala:76-182). Case-insensitive name match, value
    after the first colon; surrounding quotes stripped for scalar hints
    (NOT for the Sec-CH-UA brand list, whose quotes are structural)."""
    hit = F.try_element_at(
        F.filter(
            F.col("headers"),
            lambda x: F.lower(x).startswith(name.lower() + ":"),
        ),
        F.lit(1),
    )
    val = F.trim(F.regexp_extract(hit, "^[^:]*:\\s*(.*)$", 1))
    if strip_quotes:
        val = F.regexp_replace(val, '^"|"$', "")
    return F.nullif(val, F.lit(""))


def yauaa_context(df: DataFrame) -> DataFrame:
    """§2.5 #16 — YAUAA-style device analysis context
    (YauaaEnrichment.scala:76-182; field whitelist :121-160).

    Client hints: when a `headers` column is present, `Sec-CH-UA`,
    `Sec-CH-UA-Mobile` and `Sec-CH-UA-Platform[-Version]` override the
    UA-string derivation, mirroring YAUAA's header-list analysis — the
    brand list prefers a concrete brand (e.g. "Google Chrome") over
    "Chromium" and skips the "Not A(Brand" GREASE entries; `?1` forces
    Phone (robots keep Robot precedence).

    DIVERGENCE NOTE: YAUAA is a JVM-only analyzer; we emit the same
    context shape (deviceClass/agentName/agentVersion/osName…) from the
    native ruleset above. For rules-driven fidelity, bring a
    YAUAA-format YAML ruleset: operators/yauaa_rules.py implements the
    matcher file format (require/variable/extract/confidence/lookups
    with a documented path-expression subset) over a simplified agent
    tree, cached per useragent — exotic UA strings then classify exactly
    as the rules say, not as this module's built-in regexes guess."""
    df = ensure_derived(df)
    df, cols = _ua_cols(df)
    ua = F.col("useragent")
    device_class = (
        F.when(cols["dvce_type"] == "Robot/Spider", "Robot")
        .when(cols["dvce_type"] == "Tablet", "Tablet")
        .when(cols["dvce_type"] == "Mobile", "Phone")
        .otherwise("Desktop")
    )
    agent_name = cols["br_family"]
    agent_version = F.coalesce(cols["br_version"], F.lit("??"))
    os_name = cols["os_family"]
    os_name_version = cols["os_name"]
    if "headers" in df.columns:
        ch_ua = _client_hint("Sec-CH-UA", strip_quotes=False)
        # `"Brand";v="ver"` pairs → parallel arrays, zipped and filtered
        brands = F.regexp_extract_all(ch_ua, F.lit('"([^"]+)";v='), 1)
        vers = F.regexp_extract_all(ch_ua, F.lit(';v="([^"]+)"'), 1)
        pairs = F.arrays_zip(brands.alias("b"), vers.alias("v"))
        real = F.filter(pairs, lambda p: ~p.getField("b").rlike("(?i)not.?a.?brand"))
        best = F.coalesce(
            F.try_element_at(
                F.filter(real, lambda p: p.getField("b") != "Chromium"), F.lit(1)
            ),
            F.try_element_at(real, F.lit(1)),
        )
        agent_name = F.coalesce(best.getField("b"), agent_name)
        agent_version = F.coalesce(
            F.when(best.isNotNull(),
                   F.coalesce(_client_hint("Sec-CH-UA-Full-Version"),
                              best.getField("v"))),
            agent_version,
        )
        platform = _client_hint("Sec-CH-UA-Platform")
        os_name = F.coalesce(platform, os_name)
        os_name_version = F.coalesce(
            F.when(platform.isNotNull(), F.concat_ws(
                " ", platform, _client_hint("Sec-CH-UA-Platform-Version"))),
            os_name_version,
        )
        mobile = _client_hint("Sec-CH-UA-Mobile")
        device_class = (
            F.when(cols["dvce_type"] == "Robot/Spider", "Robot")
            .when(mobile == "?1", "Phone")
            .when(mobile == "?0", "Desktop")
            .otherwise(device_class)
        )
    is_robot = cols["dvce_type"] == "Robot/Spider"

    # device name/brand (YauaaEnrichment field whitelist :121-160 —
    # deviceName/deviceBrand; derived from the hardware tokens)
    pixel = F.regexp_extract(ua, "(Pixel [0-9A-Za-z ]*?)(?:\\)| Build)", 1)
    samsung = F.regexp_extract(ua, "(SM-[A-Z0-9]+)", 1)
    device_brand = (
        F.when(is_robot, F.lit(None).cast("string"))
        .when(ua.rlike("(iPhone|iPad|iPod|Macintosh|Mac OS X)"), "Apple")
        .when(samsung != "", "Samsung")
        .when(pixel != "", "Google")
        .otherwise(F.lit("Unknown"))
    )
    device_name = (
        F.when(is_robot, F.lit(None).cast("string"))
        .when(ua.contains("iPhone"), "Apple iPhone")
        .when(ua.contains("iPad"), "Apple iPad")
        .when(ua.contains("Macintosh"), "Apple Macintosh")
        .when(samsung != "", F.concat(F.lit("Samsung "), samsung))
        .when(pixel != "", F.concat(F.lit("Google "), pixel))
        .when(ua.contains("Android"), "Android Mobile")
        .when(ua.rlike("(Linux|X11)") & ~ua.contains("Android"), "Linux Desktop")
        .otherwise(F.lit("Desktop"))
    )

    os_class = (
        F.when(is_robot, "Cloud")
        .when(cols["os_family"].isin("Android", "iOS"), "Mobile")
        .when(cols["os_family"].isin("Windows", "Mac OS X", "Linux", "Chrome OS"),
              "Desktop")
        .otherwise(F.lit("Unknown"))
    )
    os_version = F.nullif(
        F.coalesce(
            F.nullif(F.regexp_extract(ua, "Android (\\d+[\\.\\d]*)", 1), F.lit("")),
            F.nullif(F.translate(
                F.regexp_extract(ua, "(?:iPhone|iPad|iPod).*OS (\\d+[_\\d]*)", 1),
                "_", "."),
                F.lit("")),
            F.nullif(F.translate(
                F.regexp_extract(ua, "Mac OS X (\\d+[_\\d]+)", 1), "_", "."),
                F.lit("")),
            F.regexp_extract(ua, "Windows NT (\\d+[\\.\\d]*)", 1),
        ),
        F.lit(""),
    )

    # layout engine: class is the *kind* (Browser/Robot), name is the
    # engine itself — Blink for Chromium≥28, else the render token
    chrome_ver = F.nullif(
        F.regexp_extract(ua, "(?:Chrome|CriOS)/(\\d+[\\.\\d]*)", 1), F.lit(""))
    engine_name = (
        F.when(chrome_ver.isNotNull()
               & (F.split(chrome_ver, "\\.")[0].cast("int") >= 28), "Blink")
        .when(cols["br_renderengine"] == "GECKO", "Gecko")
        .when(cols["br_renderengine"] == "WEBKIT", "AppleWebKit")
        .when(cols["br_renderengine"] == "TRIDENT", "Trident")
        .when(cols["br_renderengine"] == "PRESTO", "Presto")
        .otherwise(F.lit(None).cast("string"))
    )
    engine_version = (
        F.when(engine_name == "Blink", chrome_ver)
        .when(engine_name == "Gecko",
              F.nullif(F.regexp_extract(ua, "rv:(\\d+[\\.\\d]*)", 1), F.lit("")))
        .when(engine_name == "AppleWebKit",
              F.nullif(F.regexp_extract(ua, "AppleWebKit/(\\d+[\\.\\d]*)", 1),
                       F.lit("")))
        .when(engine_name == "Trident",
              F.nullif(F.regexp_extract(ua, "Trident/(\\d+[\\.\\d]*)", 1),
                       F.lit("")))
    )
    engine_class = (
        F.when(is_robot, "Robot")
        .when(engine_name.isNotNull(), "Browser")
        .otherwise(F.lit("Unknown"))
    )
    agent_class = F.when(is_robot, "Robot").otherwise(F.lit("Browser"))
    agent_major = F.when(
        agent_version != "??", F.split(agent_version, "\\.")[0])

    data = F.to_json(
        F.struct(
            device_class.alias("deviceClass"),
            device_name.alias("deviceName"),
            device_brand.alias("deviceBrand"),
            agent_class.alias("agentClass"),
            agent_name.alias("agentName"),
            agent_version.alias("agentVersion"),
            agent_major.alias("agentVersionMajor"),
            F.concat_ws(" ", agent_name, agent_version).alias("agentNameVersion"),
            F.when(agent_major.isNotNull(),
                   F.concat_ws(" ", agent_name, agent_major))
            .alias("agentNameVersionMajor"),
            os_class.alias("operatingSystemClass"),
            os_name.alias("operatingSystemName"),
            os_version.alias("operatingSystemVersion"),
            os_name_version.alias("operatingSystemNameVersion"),
            engine_class.alias("layoutEngineClass"),
            engine_name.alias("layoutEngineName"),
            engine_version.alias("layoutEngineVersion"),
            F.when(engine_version.isNotNull(),
                   F.split(engine_version, "\\.")[0])
            .alias("layoutEngineVersionMajor"),
            F.when(engine_name.isNotNull(),
                   F.concat_ws(" ", engine_name, engine_version))
            .alias("layoutEngineNameVersion"),
        )
    )
    # null/empty useragent → DefaultResult {deviceClass: Unknown}
    # (YauaaEnrichment.scala:104-107)
    data = F.when((ua.isNull()) | (ua == ""),
                  F.lit('{"deviceClass":"Unknown"}')).otherwise(data)
    ctx = F.struct(
        F.lit("iglu:nl.basjes/yauaa_context/jsonschema/1-0-4").alias("schema"),
        data.alias("data"),
    )
    return df.withColumn(DERIVED_COL, F.array_append(F.col(DERIVED_COL), ctx))


def asn_lookups(df: DataFrame, asn_ranges: DataFrame, datacenter_asns: list[int]) -> DataFrame:
    """§2.5 #19 — ASN lookup + likelyBot flag
    (AsnLookupsEnrichment.scala:132-154): broadcast range join on the IP
    (same /16-bucket strategy as geo), then mark likelyBot when the ASN
    is in the datacenter/bot set AND the claimed platform is a browser
    platform (platform-aware rewrite).

    asn_ranges columns: ip_start BIGINT, ip_end BIGINT, asn INT, asn_org STRING.
    """
    from .geo import ip_to_long

    df = ensure_derived(df)
    b0 = (F.col("ip_start") / 65536).cast("bigint")
    b1 = (F.col("ip_end") / 65536).cast("bigint")
    bucketized = asn_ranges.withColumn("_asn_bucket", F.explode(F.sequence(b0, b1)))
    probe = df.withColumn("_ip_long", ip_to_long(F.col("user_ipaddress"))).withColumn(
        "_probe_bucket", (F.col("_ip_long") / 65536).cast("bigint")
    )
    joined = probe.join(
        F.broadcast(bucketized),
        (probe["_probe_bucket"] == bucketized["_asn_bucket"])
        & (probe["_ip_long"] >= bucketized["ip_start"])
        & (probe["_ip_long"] <= bucketized["ip_end"]),
        "left",
    )
    likely_bot = (
        F.col("asn").isin(datacenter_asns) if datacenter_asns else F.lit(False)
    ) & F.col("platform").isin("web", "mob")
    data = F.to_json(
        F.struct(
            F.col("asn").alias("asn"),
            F.col("asn_org").alias("asnOrganization"),
            F.coalesce(likely_bot, F.lit(False)).alias("likelyBot"),
        )
    )
    ctx = F.struct(
        F.lit("iglu:com.snowplowanalytics.snowplow/asn_context/jsonschema/1-0-0").alias("schema"),
        data.alias("data"),
    )
    joined = joined.withColumn(
        DERIVED_COL,
        F.when(F.col("asn").isNotNull(),
               F.array_append(F.col(DERIVED_COL), ctx)).otherwise(F.col(DERIVED_COL)),
    )
    return joined.drop("_ip_long", "_probe_bucket", "_asn_bucket", "ip_start", "ip_end", "asn", "asn_org")


def bot_detection_context(df: DataFrame) -> DataFrame:
    """§2.5 #20 — consolidate bot indicators from the derived contexts
    built so far (IAB spiderOrRobot, ASN likelyBot, UA Robot/Spider) into
    one `bot_detection` context {bot, indicators}
    (BotDetectionEnrichment.scala:94-139). Flags, never filters."""
    df = ensure_derived(df)
    derived = F.col(DERIVED_COL)

    def _flag(schema_frag: str, json_field: str) -> Column:
        hits = F.filter(derived, lambda c: c.getField("schema").contains(schema_frag))
        return F.exists(
            hits,
            lambda c: F.get_json_object(c.getField("data"), f"$.{json_field}") == "true",
        )

    iab_bot = _flag("spiders_and_robots", "spiderOrRobot")
    asn_bot = _flag("asn_context", "likelyBot")
    ua_bot = F.coalesce(F.col("br_type") == "Robot/Spider", F.lit(False))
    indicators = F.array_compact(
        F.array(
            F.when(iab_bot, F.lit("iab_spider_or_robot")),
            F.when(asn_bot, F.lit("datacenter_asn")),
            F.when(ua_bot, F.lit("ua_robot")),
        )
    )
    data = F.to_json(
        F.struct(
            (F.size(indicators) > 0).alias("bot"),
            indicators.alias("indicators"),
        )
    )
    ctx = F.struct(
        F.lit("iglu:com.snowplowanalytics.snowplow/bot_detection/jsonschema/1-0-0").alias("schema"),
        data.alias("data"),
    )
    return df.withColumn(DERIVED_COL, F.array_append(derived, ctx))


def iab_spiders_robots(df: DataFrame, bot_patterns: list[str]) -> DataFrame:
    """§2.5 #4 — IAB spiders & robots flag as a derived context.
    (IabEnrichment.scala:137-199; list-based category simplified to the
    UA-pattern + flag contract.)"""
    df = ensure_derived(df)
    ua = F.col("useragent")
    spider = ua.rlike("|".join(f"({p})" for p in bot_patterns))
    data = F.to_json(
        F.struct(
            spider.alias("spiderOrRobot"),
            F.when(spider, F.lit("UNKNOWN_BOT")).otherwise(F.lit("BROWSER")).alias("category"),
            F.lit("UNKNOWN").alias("reason"),
            F.lit("UNKNOWN").alias("primaryImpact"),
        )
    )
    ctx = F.struct(
        F.lit("iglu:com.iab.snowplow/spiders_and_robots/jsonschema/1-0-0").alias("schema"),
        data.alias("data"),
    )
    return df.withColumn(
        DERIVED_COL,
        F.when(ua.isNotNull(), F.array_append(F.col(DERIVED_COL), ctx)).otherwise(F.col(DERIVED_COL)),
    )


# ---------------------------------------------------------------------------
# uap-core regexes.yaml support (exact ua-parser semantics)
#
# The native ruleset above is the zero-dependency default; when a user
# supplies the public uap-core regexes.yaml, `ua_parser_context_rules`
# replays the REAL ua-parser algorithm (first matching regex per
# category, $-substituted replacements — UaParserEnrichment.scala:96-190
# binds the Java uap library over the same file). Scale shape: an
# Arrow-batched walk behind a per-worker per-useragent cache — the regex
# walk cost is bounded by UA cardinality, not event count.


def load_uap_rules(path: str) -> dict:
    """Parse a uap-core regexes.yaml into rule lists."""
    import yaml

    with open(path) as f:
        doc = yaml.safe_load(f)
    return {
        "user_agent_parsers": doc.get("user_agent_parsers") or [],
        "os_parsers": doc.get("os_parsers") or [],
        "device_parsers": doc.get("device_parsers") or [],
    }


def _uap_sub(template, match, default_group: int):
    """ua-parser replacement semantics: template with $1..$9 substituted
    from the match; no template → the numbered group (or None)."""
    import re as _re

    if template is None:
        try:
            v = match.group(default_group)
        except IndexError:
            return None
        return v if v else None

    def repl(m):
        i = int(m.group(1))
        try:
            return match.group(i) or ""
        except IndexError:
            return ""

    out = _re.sub(r"\$(\d)", repl, template).strip()
    return out or None


def _uap_compile(rules: dict):
    import re as _re

    ua_rules = [
        (_re.compile(r["regex"]), r) for r in rules["user_agent_parsers"]
    ]
    os_rules = [(_re.compile(r["regex"]), r) for r in rules["os_parsers"]]
    dev_rules = [
        (_re.compile(r["regex"],
                     _re.IGNORECASE if r.get("regex_flag") == "i" else 0), r)
        for r in rules["device_parsers"]
    ]
    return ua_rules, os_rules, dev_rules


def _uap_classify_one(ua: str, compiled) -> tuple:
    ua_rules, os_rules, dev_rules = compiled
    fam, v1, v2, v3 = "Other", None, None, None
    for rx, r in ua_rules:
        m = rx.search(ua)
        if m:
            fam = _uap_sub(r.get("family_replacement"), m, 1) or "Other"
            v1 = _uap_sub(r.get("v1_replacement"), m, 2)
            v2 = _uap_sub(r.get("v2_replacement"), m, 3)
            v3 = _uap_sub(r.get("v3_replacement"), m, 4)
            break
    os_fam, os_v1, os_v2 = "Other", None, None
    for rx, r in os_rules:
        m = rx.search(ua)
        if m:
            os_fam = _uap_sub(r.get("os_replacement"), m, 1) or "Other"
            os_v1 = _uap_sub(r.get("os_v1_replacement"), m, 2)
            os_v2 = _uap_sub(r.get("os_v2_replacement"), m, 3)
            break
    dev_fam = "Other"
    for rx, r in dev_rules:
        m = rx.search(ua)
        if m:
            dev_fam = _uap_sub(r.get("device_replacement"), m, 1) or "Other"
            break
    return fam, v1, v2, v3, os_fam, os_v1, os_v2, dev_fam


# ua_parser_context JSON keys, in _uap_classify_one's order
_UAP_FIELDS = ("useragentFamily", "useragentMajor", "useragentMinor",
               "useragentPatch", "osFamily", "osMajor", "osMinor", "deviceFamily")


def ua_parser_context_rules(df: DataFrame, rules: dict) -> DataFrame:
    """ua_parser_context with exact uap-core semantics from a loaded
    regexes.yaml. Classifies each useragent once per worker
    (``lookups.cached_lookup``) and attaches the same ua_parser_context
    derived context as the native path."""
    df = ensure_derived(df)
    token = uuid.uuid4().hex

    def classify(ua):
        return _uap_classify_one(ua, worker_state(token, lambda: _uap_compile(rules)))

    uap = cached_lookup(classify, T.StructType(
        [T.StructField(f, T.StringType()) for f in _UAP_FIELDS]), [F.col("useragent")])
    ctx = F.struct(
        F.lit("iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0").alias("schema"),
        F.to_json(uap).alias("data"),
    )
    return df.withColumn(
        DERIVED_COL,
        F.when(F.col("useragent").isNotNull(),
               F.array_append(F.col(DERIVED_COL), ctx))
        .otherwise(F.col(DERIVED_COL)),
    )
