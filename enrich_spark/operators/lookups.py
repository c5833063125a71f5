"""Service-lookup enrichments: SQL query, API request, weather.

SURVEY §2.5 #22 (sqlquery/SqlQueryEnrichment.scala:156-265),
#23 (apirequest/ApiRequestEnrichment.scala:127-230), #15
(WeatherEnrichment.scala:96-204).

A lookup that is a table (``sql_query_enrichment``) is a broadcast
equi-join on the extracted key columns: zero Python, zero per-row
network I/O. Row-count contracts (EXACTLY_ONE / AT_MOST_ONE /
AT_LEAST_ONE / ALL_ROWS, sqlquery/Output.scala:106-139) are enforced on
the join result.

Every lookup that calls a service (the SQL query function, the API
request, the weather provider, the identity service in identity.py and
the rules-driven UA classifiers in ua.py / yauaa_rules.py) takes one
path, ``cached_lookup``: Spark computes the key columns, and an
Arrow-batched UDF calls the service once per distinct key per Python
worker behind an LRU+TTL cache (CachingEvaluator.scala:27-127). A row
whose keys are all NULL makes no call. The event frame is never
collected or joined back onto itself, so the same plan runs in batch
and over a stream.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .sql_enrichments import (
    DERIVED_COL,
    ENRICH_ERRORS_COL,
    ensure_derived,
    ensure_enrich_errors,
)

# ---------------------------------------------------------------------------
# §2.5 #22 — SQL query enrichment: a broadcast join over a lookup table,
# or a cached query function (sql_query_enrichment_udf)


@dataclass
class SqlJsonInput:
    """JSON ('json'-type) input: pull a placeholder value out of the
    event's unstruct event / contexts / derived contexts by schema
    criterion + JsonPath (sqlquery/Input.scala:92-140). Extraction is
    100% native: variant functions over co_json, get_json_object over
    ue_json, array filter over the derived-context structs."""

    field: str              # "unstruct_event" | "contexts" | "derived_contexts"
    schema_criterion: str   # e.g. "iglu:com.acme/user/jsonschema/1-*-*"
    json_path: str          # "$.email", "$.user.emails[0]"
    cast: str = "string"    # Spark type the placeholder binds as


@dataclass
class SqlQueryConf:
    # event-side key columns → lookup-side key columns
    key_map: dict[str, str] = field(default_factory=dict)
    context_schema: str = "iglu:com.acme/sql_context/jsonschema/1-0-0"
    # EXACTLY_ONE | AT_MOST_ONE | AT_LEAST_ONE | ALL_ROWS
    expected_rows: str = "AT_MOST_ONE"
    # lookup columns to emit into the context (None = all non-key columns)
    output_columns: list[str] | None = None
    # JSON-sourced placeholders: name → SqlJsonInput. Names can be used
    # on the event side of key_map alongside atomic column names
    # (Input.scala Json vs Pojo inputs).
    json_inputs: dict[str, SqlJsonInput] = field(default_factory=dict)


def _json_input_col(spec: SqlJsonInput) -> Column:
    """Compile one SqlJsonInput to a native Column expression."""
    from .sql_enrichments import DERIVED_COL, _criterion_regex

    crit_re = "^" + _criterion_regex(spec.schema_criterion) + "$"
    path_suffix = spec.json_path.lstrip("$")  # "$.email" -> ".email"
    if spec.field == "unstruct_event":
        # envelope {schema: unstruct_event/..., data: {schema, data}}
        matches = F.get_json_object(F.col("ue_json"), "$.data.schema").rlike(crit_re)
        val = F.try_variant_get(
            F.try_parse_json(F.col("ue_json")), "$.data.data" + path_suffix, spec.cast
        )
        return F.when(matches, val)
    if spec.field == "contexts":
        # envelope {schema: contexts/..., data: [{schema, data}, ...]}
        arr = F.try_variant_get(
            F.try_parse_json(F.col("co_json")), "$.data", "array<variant>"
        )
        matched = F.filter(
            arr, lambda e: F.try_variant_get(e, "$.schema", "string").rlike(crit_re)
        )
        return F.try_variant_get(
            F.element_at(matched, 1), "$.data" + path_suffix, spec.cast
        )
    if spec.field == "derived_contexts":
        matched = F.filter(
            F.col(DERIVED_COL), lambda c: c.getField("schema").rlike(crit_re)
        )
        return F.get_json_object(
            F.element_at(matched, 1).getField("data"), "$" + path_suffix
        ).cast(spec.cast)
    raise ValueError(f"unknown json input field [{spec.field}]: "
                     "should be one of unstruct_event, contexts, derived_contexts")


def sql_query_enrichment(df: DataFrame, conf: SqlQueryConf, lookup: DataFrame) -> DataFrame:
    """Per-event lookup join as a broadcast equi-join.

    Mirrors the reference's skip-if-any-placeholder-missing rule
    (SqlQueryEnrichment.scala:232-235): rows with a NULL key skip the
    lookup entirely (left join keeps them, no context, no error).
    """
    df = ensure_enrich_errors(ensure_derived(df))
    # JSON-sourced placeholders become hidden extracted columns so the
    # lookup stays a broadcast equi-join regardless of input source
    json_cols = {f"_sqlin_{name}": _json_input_col(spec)
                 for name, spec in conf.json_inputs.items()}
    if json_cols:
        df = df.withColumns(json_cols)

    def ev_side(name: str):
        return df[f"_sqlin_{name}"] if name in conf.json_inputs else df[name]

    out_cols = conf.output_columns or [
        c for c in lookup.columns if c not in conf.key_map.values()
    ]
    # alias lookup columns to avoid collisions with the 131 atomic names
    aliased = lookup.select(
        *[F.col(c).alias(f"_lk_{c}") for c in lookup.columns]
    )
    cond = None
    for ev_col, lk_col in conf.key_map.items():
        c = ev_side(ev_col).eqNullSafe(aliased[f"_lk_{lk_col}"]) & ev_side(ev_col).isNotNull()
        cond = c if cond is None else (cond & c)

    joined = df.join(F.broadcast(aliased), cond, "left")

    hit = aliased[f"_lk_{list(conf.key_map.values())[0]}"].isNotNull()
    data = F.to_json(F.struct(*[F.col(f"_lk_{c}").alias(c) for c in out_cols]))
    ctx = F.struct(F.lit(conf.context_schema).alias("schema"), data.alias("data"))
    joined = joined.withColumn(
        DERIVED_COL,
        F.when(hit, F.array_append(F.col(DERIVED_COL), ctx)).otherwise(F.col(DERIVED_COL)),
    )

    key_present = None
    for ev_col in conf.key_map:
        name = f"_sqlin_{ev_col}" if ev_col in conf.json_inputs else ev_col
        kp = F.col(name).isNotNull()
        key_present = kp if key_present is None else (key_present & kp)
    if conf.expected_rows in ("EXACTLY_ONE", "AT_LEAST_ONE"):
        # a keyed row with no lookup hit violates the contract
        err = F.when(
            key_present & ~hit,
            F.lit(f"sql_query\tExpected {conf.expected_rows} row(s), got 0\t"),
        )
        joined = joined.withColumn(
            ENRICH_ERRORS_COL,
            F.concat(F.col(ENRICH_ERRORS_COL), F.array_compact(F.array(err))),
        )
    # AT_MOST_ONE/EXACTLY_ONE duplicate-key violations are a property of the
    # lookup table; enforced at load time (cheap, table-side) not per event:
    # callers should dedupe or validate the RHS with validate_lookup_unique.
    return joined.drop(*[f"_lk_{c}" for c in lookup.columns],
                       *[f"_sqlin_{n}" for n in conf.json_inputs])


def validate_lookup_unique(lookup: DataFrame, key_cols: list[str]) -> None:
    """Raise if the lookup side has duplicate keys (AT_MOST_ONE contract)."""
    dupes = lookup.groupBy(*key_cols).count().where(F.col("count") > 1).limit(1).collect()
    if dupes:
        raise ValueError(f"lookup table violates AT_MOST_ONE on {key_cols}: {dupes[0]}")


_SQL_UDF_RESULT = T.StructType([
    T.StructField("ctxs", T.ArrayType(T.StringType())),
    T.StructField("error", T.StringType()),
])


def sql_query_enrichment_udf(
    df: DataFrame,
    conf: SqlQueryConf,
    query_fn: Callable[[dict], list],
    cache_size: int = 1000,
    cache_ttl_s: float = 3600.0,
    describes: str = "EVERY_ROW",
) -> DataFrame:
    """Per-event cached query — the semantics-preserving twin of the
    broadcast join (SqlQueryEnrichment.scala:156-265 + Rdbms.scala:31-66
    + CachingEvaluator.scala:27-127).

    ``query_fn({placeholder: value, ...}) -> list[dict]`` runs the user
    query (a DB-API connection closure in deployment, injectable in
    tests) through ``cached_lookup``, keyed on the bound placeholder
    values — request volume is bounded by key cardinality × workers,
    not event count. Rows with any NULL placeholder skip the lookup
    (SqlQueryEnrichment.scala:232-235). Row-count contracts are enforced
    per event; ``describes`` = EVERY_ROW (one context per result row) or
    ALL_ROWS (single context wrapping the row array), mirroring
    sqlquery/Output.scala:106-139."""
    df = ensure_enrich_errors(ensure_derived(df))
    json_cols = {f"_sqlin_{n}": _json_input_col(s)
                 for n, s in conf.json_inputs.items()}
    if json_cols:
        df = df.withColumns(json_cols)
    names = list(conf.key_map.keys())
    in_cols = [F.col(f"_sqlin_{n}") if n in conf.json_inputs else F.col(n)
               for n in names]
    expected = conf.expected_rows

    def run(*values):
        try:
            rows = query_fn(dict(zip(names, values)))
        except Exception as e:  # noqa: BLE001 — never throw from the pipeline
            return (None, f"sql_query\t{type(e).__name__}: {e}\t")
        n = len(rows)
        if expected == "EXACTLY_ONE" and n != 1:
            return (None, f"sql_query\tExpected EXACTLY_ONE row(s), got {n}\t")
        if expected == "AT_MOST_ONE" and n > 1:
            return (None, f"sql_query\tExpected AT_MOST_ONE row(s), got {n}\t")
        if expected == "AT_LEAST_ONE" and n < 1:
            return (None, "sql_query\tExpected AT_LEAST_ONE row(s), got 0\t")
        if n == 0:
            return (None, None)
        if describes == "ALL_ROWS":
            return ([json.dumps(rows, separators=(",", ":"))], None)
        return ([json.dumps(r, separators=(",", ":")) for r in rows], None)

    all_present = F.lit(True)
    for c in in_cols:
        all_present = all_present & c.isNotNull()
    df = df.withColumn("_sqlq", cached_lookup(
        run, _SQL_UDF_RESULT, in_cols, when=all_present,
        cache_size=cache_size, cache_ttl_s=cache_ttl_s,
    ))
    new_ctxs = F.transform(
        F.col("_sqlq.ctxs"),
        lambda d: F.struct(F.lit(conf.context_schema).alias("schema"), d.alias("data")),
    )
    df = df.withColumn(
        DERIVED_COL,
        F.when(F.col("_sqlq.ctxs").isNotNull(),
               F.concat(F.col(DERIVED_COL), new_ctxs)).otherwise(F.col(DERIVED_COL)),
    )
    df = df.withColumn(
        ENRICH_ERRORS_COL,
        F.concat(F.col(ENRICH_ERRORS_COL), F.array_compact(F.array(F.col("_sqlq.error")))),
    )
    return df.drop("_sqlq", *[f"_sqlin_{n}" for n in conf.json_inputs])


# ---------------------------------------------------------------------------
# per-worker LRU+TTL cache (CachingEvaluator.scala:27-127) and the one
# execution path of every service lookup


class TtlCache:
    """Small LRU+TTL dict — one per lookup per Python worker."""

    def __init__(self, size: int = 1000, ttl_s: float = 3600.0, clock=time.monotonic):
        self.size, self.ttl, self._clock = size, ttl_s, clock
        self._d: dict[Any, tuple[float, Any]] = {}

    def get_or(self, key, fn):
        now = self._clock()
        hitted = self._d.get(key)
        if hitted is not None and now - hitted[0] < self.ttl:
            return hitted[1]
        value = fn()
        if len(self._d) >= self.size:
            # evict oldest-inserted (approximation of LRU, dict is ordered)
            self._d.pop(next(iter(self._d)))
        self._d[key] = (now, value)
        return value


# Python-worker state of the most recently used lookups, by plan-time
# token. A UDF's closure is unpickled afresh for every task, so state
# that must outlive a task lives here, in the worker's module globals.
_WORKER_STATE: dict[str, Any] = {}
_MAX_WORKER_STATE = 64


def worker_state(token: str, make: Callable[[], Any]) -> Any:
    """This worker's state for ``token``, made by ``make()`` on first use.
    Only the ``_MAX_WORKER_STATE`` most recently used tokens are kept."""
    state = _WORKER_STATE.pop(token) if token in _WORKER_STATE else make()
    _WORKER_STATE[token] = state
    if len(_WORKER_STATE) > _MAX_WORKER_STATE:
        _WORKER_STATE.pop(next(iter(_WORKER_STATE)))
    return state


def cached_lookup(
    call: Callable[..., Any],
    return_type: T.DataType,
    keys: list[Column],
    args: list[Column] = (),
    when: Column | None = None,
    cache_size: int = 1000,
    cache_ttl_s: float = 3600.0,
) -> Column:
    """A service lookup as one Column: an Arrow-batched UDF over the
    Spark-computed ``keys`` that runs ``call(*args)`` (``args`` default
    to ``keys``) once per distinct key tuple per Python worker and
    serves repeats from that worker's TtlCache. A key's first row seen
    by a worker supplies the ``args``.

    A row whose keys are all NULL gets NULL and makes no call. ``when``
    masks every input first, so a row it excludes has all-NULL keys and
    makes no call either. ``call`` returns a Python value of ``return_type`` (a tuple
    for a struct)."""
    token = uuid.uuid4().hex
    arrow_type = to_arrow_type(return_type)
    n_keys = len(keys)
    inputs = [*keys, *args]
    if when is not None:
        inputs = [F.when(when, c) for c in inputs]

    def run(*arrays: pa.Array) -> pa.Array:
        cache = worker_state(token, lambda: TtlCache(cache_size, cache_ttl_s))
        out = []
        for row in zip(*(a.to_pylist() for a in arrays)):
            key = row[:n_keys]
            if all(v is None for v in key):
                out.append(None)
            else:
                out.append(cache.get_or(key, lambda: call(*(row[n_keys:] or key))))
        return pa.array(out, type=arrow_type)

    return F.arrow_udf(run, return_type)(*inputs)


# ---------------------------------------------------------------------------
# §2.5 #23 — API request enrichment


@dataclass
class ApiRequestConf:
    url_template: str = ""                       # "http://host/users/{{user_id}}"
    inputs: list[str] = field(default_factory=list)  # atomic columns used
    context_schema: str = "iglu:com.acme/api_context/jsonschema/1-0-0"
    json_path: str | None = None                 # dotted path into the response
    cache_size: int = 1000
    cache_ttl_s: float = 3600.0
    ignore_on_error: bool = False
    # transport: url -> response body str; None = urllib GET. Injectable
    # for tests and for auth/POST variants.
    transport: Callable[[str], str] | None = None
    timeout_s: float = 5.0


def _default_transport(timeout_s: float):
    def fetch(url: str) -> str:
        from urllib.request import urlopen

        with urlopen(url, timeout=timeout_s) as r:  # noqa: S310 — config-driven
            return r.read().decode("utf-8")

    return fetch


def _dig(doc: Any, dotted: str | None):
    if dotted in (None, "", "$"):
        return doc
    cur = doc
    for part in dotted.lstrip("$.").split("."):
        if isinstance(cur, dict):
            cur = cur.get(part)
        elif isinstance(cur, list) and part.isdigit():
            cur = cur[int(part)] if int(part) < len(cur) else None
        else:
            return None
    return cur


_API_RESULT = T.StructType([
    T.StructField("data", T.StringType()),
    T.StructField("error", T.StringType()),
])


def _render_url_column(template: str, inputs: list[str]) -> Column:
    """The rendered URL as a native Column. F.concat propagates NULL, so
    a missing placeholder value nulls the whole URL — exactly the
    skip-if-any-input-missing rule."""
    cols: list[Column] = []
    for part in re.split(r"(\{\{\w+\}\})", template):
        m = re.fullmatch(r"\{\{(\w+)\}\}", part)
        if m:
            if m.group(1) not in inputs:
                raise ValueError(
                    f"url_template placeholder {{{{{m.group(1)}}}}} is not in inputs"
                )
            cols.append(F.col(m.group(1)).cast("string"))
        elif part:
            cols.append(F.lit(part))
    return F.concat(*cols) if cols else F.lit(template)


def _api_fetch_one(fetch, json_path, url):
    try:
        body = fetch(url)
        value = _dig(json.loads(body), json_path)
        if value is None:
            return (None, f"api_request\tno value at {json_path}\t{url}")
        return (json.dumps(value, separators=(",", ":")), None)
    except Exception as e:  # noqa: BLE001 — never throw from the pipeline
        return (None, f"api_request\t{type(e).__name__}: {e}\t{url}")


def api_request_enrichment(df: DataFrame, conf: ApiRequestConf) -> DataFrame:
    """Templated HTTP lookup (apirequest/ApiRequestEnrichment.scala:127-230).

    The URL is rendered as a native column (placeholder values as
    Spark's ``cast("string")`` renders them) and is the cache key of a
    ``cached_lookup``: one fetch per distinct URL per worker. A row with
    any NULL input has a NULL URL and skips the request."""
    df = ensure_enrich_errors(ensure_derived(df))
    fetch = conf.transport or _default_transport(conf.timeout_s)
    json_path = conf.json_path
    df = df.withColumn("_api", cached_lookup(
        lambda url: _api_fetch_one(fetch, json_path, url), _API_RESULT,
        [_render_url_column(conf.url_template, conf.inputs)],
        cache_size=conf.cache_size, cache_ttl_s=conf.cache_ttl_s,
    ))
    ctx = F.struct(
        F.lit(conf.context_schema).alias("schema"),
        F.col("_api.data").alias("data"),
    )
    df = df.withColumn(
        DERIVED_COL,
        F.when(F.col("_api.data").isNotNull(),
               F.array_append(F.col(DERIVED_COL), ctx)).otherwise(F.col(DERIVED_COL)),
    )
    if not conf.ignore_on_error:
        df = df.withColumn(
            ENRICH_ERRORS_COL,
            F.concat(F.col(ENRICH_ERRORS_COL), F.array_compact(F.array(F.col("_api.error")))),
        )
    return df.drop("_api")


# ---------------------------------------------------------------------------
# §2.5 #15 — weather context


@dataclass
class WeatherConf:
    context_schema: str = "iglu:org.openweathermap/weather/jsonschema/1-0-0"
    cache_size: int = 5000
    cache_ttl_s: float = 86400.0
    # provider(lat, lon, epoch_s) -> dict (weather doc); None = deterministic
    # stub (the container has no network; the real OWM client drops in here)
    provider: Callable[[float, float, int], dict] | None = None


def _stub_weather(lat: float, lon: float, epoch_s: int) -> dict:
    """STUB provider — deterministic fake keyed on (lat, lon, day).
    Replace with an OpenWeatherMap history client in deployment."""
    day = epoch_s // 86400
    seed = int(lat * 100) * 31 + int(lon * 100) * 7 + day
    return {
        "main": {"temp": round(273.15 + (seed % 400) / 10.0, 2),
                 "humidity": seed % 100},
        "weather": [{"main": ["Clear", "Clouds", "Rain", "Snow"][seed % 4]}],
        "dt": day * 86400,
    }


def weather_context(df: DataFrame, conf: WeatherConf) -> DataFrame:
    """Weather by (geo_latitude, geo_longitude, derived_tstamp), cached
    per (coords rounded to 0.1°, day) like the reference's LRU+TTL cache.

    Spark computes the bucket key; the provider sees the full-precision
    coords and timestamp of the first event of each bucket a worker
    sees, exactly the reference's cache behavior. A row missing any of
    the three skips the call."""
    df = ensure_derived(df)
    provider = conf.provider or _stub_weather

    def fetch(lat, lon, epoch_s):
        try:
            return json.dumps(provider(lat, lon, epoch_s), separators=(",", ":"))
        except Exception:  # noqa: BLE001
            return None

    lat = F.col("geo_latitude").cast("double")
    lon = F.col("geo_longitude").cast("double")
    epoch = F.unix_timestamp("derived_tstamp")
    df = df.withColumn("_weather", cached_lookup(
        fetch, T.StringType(),
        [F.round(lat, 1), F.round(lon, 1), F.floor(epoch / 86400)],
        args=[lat, lon, epoch],
        when=lat.isNotNull() & lon.isNotNull() & epoch.isNotNull(),
        cache_size=conf.cache_size, cache_ttl_s=conf.cache_ttl_s,
    ))
    ctx = F.struct(F.lit(conf.context_schema).alias("schema"), F.col("_weather").alias("data"))
    return df.withColumn(
        DERIVED_COL,
        F.when(F.col("_weather").isNotNull(),
               F.array_append(F.col(DERIVED_COL), ctx)).otherwise(F.col(DERIVED_COL)),
    ).drop("_weather")
