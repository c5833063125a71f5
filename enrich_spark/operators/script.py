"""Script enrichment — the user-extension hook (SURVEY §2.5 #21).

The reference's JavaScript enrichment
(registry/JavascriptScriptEnrichment.scala:62-228) exposes the contract
``process(event, params, headers) -> null | [context…] | throw | drop``
over a mutable event. Our equivalent extension surface is a Python
callable with the same contract, executed as an Arrow-batched pandas-UDF
stage over the mutable-field struct rendered as a dict (the whole
per-row JSON serialization is amortized across Arrow record batches):

    fn(event: dict, params: dict, headers: list[str])
        -> None                      # keep, unchanged
         | {"drop": True}            # drop the event (OptionIor None)
         | {"error": "..."}          # EnrichmentFailure with this message
         | {"event": {...mutations}, # mutate atomic fields (absent key =
                                     # keep; explicit None = clear, the
                                     # reference's mutate-to-null)
            "contexts": [{"schema": ..., "data": {...}}],  # extra derived
            "replace_contexts": bool}  # use_derived_contexts_from_js_
                                       # enrichment_only (scala:189-200)
         | raise Exception           # EnrichmentFailure bad row

Actual JS-source execution: ``javascript_config_to_hook`` adapts the
reference's base64-script config shape onto this hook. It prefers the
Node.js sidecar engine (functions/jsengine.py — a persistent per-worker
``node`` process; whole Arrow batches cross the pipe in one round trip
via ``JavascriptScriptConf.batch_function``), falling back to any
importable embeddable engine (quickjs / py_mini_racer / dukpy), and
raises a documented NotImplementedError only when no engine exists at
all. Compile failures honor the reference's ``exitOnCompileError`` flag
(JavascriptScriptEnrichment.scala:107-118): raise at config time, or
degrade every event to an EnrichmentFailure bad row.
"""

from __future__ import annotations

import base64
import json

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import JavascriptScriptConf
from ..schema import ATOMIC_FIELDS
from .sql_enrichments import (
    DERIVED_COL,
    ENRICH_ERRORS_COL,
    ensure_derived,
    ensure_enrich_errors,
)

_MUTABLE_KINDS = {"s": str, "i": int, "f": float, "b": int}

# Mutation-override sentinel: "clear this field". The reference mutates
# the event object in place, so setting a field to null (or deleting it)
# removes the value (scala:176-185); an unmarked None in the override
# column means "unchanged" instead, so explicit nulls need a distinct
# representation that survives the string override column.
NULL_MUT = "\x00\x00null"

# Escape prefix for the same channel: a script could legitimately set a
# string field to the exact NULL_MUT bytes (or any \x00-prefixed value);
# encode prefixes such strings with ESC_MUT and the JVM decode strips it,
# so the clear-marker can never collide with a real value (ADVICE r6).
ESC_MUT = "\x00\x01"


def _escape_mut(s: str) -> str:
    return ESC_MUT + s if s.startswith("\x00") else s


def _script_run_one(fn, params, mutable, event_json, headers):
    """Per-event hook invocation → result tuple (drop, error, contexts,
    replace, *mutations) — the per-row core of the Arrow-batched UDF."""
    event = json.loads(event_json) if event_json else {}
    hs = [] if headers is None else list(headers)
    nil = tuple([None] * len(mutable))
    try:
        out = fn(event, params, hs)
    except Exception as e:  # noqa: BLE001 — contract: throw = failure
        return (False, f"Error during execution of script: {e}", None, None) + nil
    return _hook_result_to_row(out, mutable)


def _ctxs_json(ctxs) -> str | None:
    """Context list → ONE JSON string (array of {schema, data-string}).
    The string crosses Arrow as a vectorized column and is parsed back
    to array<struct> JVM-side by from_json — per-row python-dict→struct
    conversion through Arrow measured ~2× slower on the whole stage."""
    if not ctxs:
        return None
    return json.dumps(
        [{"schema": c.get("schema"),
          "data": json.dumps(c.get("data"), separators=(",", ":"))}
         for c in ctxs],
        separators=(",", ":"),
    )


def _hook_result_to_row(out, mutable):
    """Hook-contract result dict → result tuple. Mutations are expressed
    as full-string overrides; an ABSENT key keeps the original value, an
    explicit None clears the field (reference in-place-mutation-to-null
    semantics, scala:176-185, carried by the NULL_MUT sentinel)."""
    nil = tuple([None] * len(mutable))
    if out is None:
        return (False, None, None, None) + nil
    if out.get("drop"):
        return (True, None, None, None) + nil
    if out.get("error") is not None:
        return (False, out["error"], None, None) + nil
    ctxs = _ctxs_json(out.get("contexts"))
    mutations = out.get("event", {})
    muts = tuple(
        None if c not in mutations else
        (NULL_MUT if mutations[c] is None else _escape_mut(str(mutations[c])))
        for c in mutable
    )
    replace = bool(out.get("replace_contexts")) or None
    return (False, None, ctxs, replace) + muts


def _mut_str(v):
    """JSON scalar → the string the typed-cast layer re-casts; JS bools
    render as 1/0 so the byte cast works."""
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _engine_result_to_row(res, orig_event, mutable):
    """Node-sidecar batch result → result tuple. The engine returns the
    FULL mutated event (reference semantics: the JS mutates the event
    object in place, scala:176-185); only fields that actually changed
    become mutation overrides so unchanged values keep their exact
    original representation."""
    nil = tuple([None] * len(mutable))
    if res.get("drop"):
        return (True, None, None, None) + nil
    if res.get("error") is not None:
        return (False, res["error"], None, None) + nil
    ctxs = _ctxs_json(res.get("contexts"))
    ev = res.get("event") or {}

    def mut(c):
        # to_json omits null struct fields, so orig_event holds exactly
        # the non-null originals: a field the script nulled OR deleted
        # clears the value (NULL_MUT); equal values are "unchanged"
        if ev.get(c) is None:
            return NULL_MUT if orig_event.get(c) is not None else None
        return None if ev[c] == orig_event.get(c) else _escape_mut(_mut_str(ev[c]))

    muts = tuple(mut(c) for c in mutable)
    replace = bool(res.get("replace")) or None
    return (False, None, ctxs, replace) + muts


def _raw_result_to_row(res, mutable):
    """batch2 sidecar result → result tuple: the mutation diff and the
    context-data stringification already happened in V8."""
    nil = tuple([None] * len(mutable))
    if res.get("drop"):
        return (True, None, None, None) + nil
    if res.get("error") is not None:
        return (False, res["error"], None, None) + nil
    ctxs = res.get("contexts_json")
    changed = res.get("changed") or {}
    muts = tuple(
        None if c not in changed else
        (NULL_MUT if changed[c] is None else _escape_mut(_mut_str(changed[c])))
        for c in mutable
    )
    replace = bool(res.get("replace")) or None
    return (False, None, ctxs, replace) + muts


def script_enrichment(df: DataFrame, conf: JavascriptScriptConf) -> DataFrame:
    df = ensure_enrich_errors(ensure_derived(df))
    fn = conf.function
    params = dict(conf.params)
    kinds = dict(ATOMIC_FIELDS)
    mutable = [c for c in df.columns if kinds.get(c) in _MUTABLE_KINDS]

    result_fields = [
        T.StructField("_script_drop", T.BooleanType()),
        T.StructField("_script_error", T.StringType()),
        T.StructField("_script_contexts", T.StringType()),
        T.StructField("_script_replace", T.BooleanType()),
    ] + [T.StructField(f"_m_{c}", T.StringType()) for c in mutable]
    result_type = T.StructType(result_fields)
    out_cols = ["_script_drop", "_script_error", "_script_contexts",
                "_script_replace"] + [f"_m_{c}" for c in mutable]
    batch_fn = getattr(conf, "batch_function", None)

    @F.pandas_udf(result_type)
    def run(ev: pd.Series, hdr: pd.Series) -> pd.DataFrame:
        if batch_fn is not None:
            # JS sidecar path: the whole Arrow batch crosses the
            # node pipe in ONE round trip
            hs = [list(h) if h is not None else [] for h in hdr]
            if getattr(batch_fn, "raw", False):
                # batch2 protocol: raw JSON strings both ways — all
                # per-event JSON work happens in V8, not Python
                rows = [_raw_result_to_row(r, mutable)
                        for r in batch_fn(list(ev), hs)]
            else:
                events = [json.loads(e) if e else {} for e in ev]
                rows = [
                    _engine_result_to_row(r, e, mutable)
                    for r, e in zip(batch_fn(events, hs), events)
                ]
        else:
            rows = [_script_run_one(fn, params, mutable, e, h)
                    for e, h in zip(ev, hdr)]
        return pd.DataFrame(rows, columns=out_cols)

    # arbitrary user code is not provably deterministic — and marking it
    # so stops Catalyst pushing the Python stage below an upstream
    # repartition onto a single input split (observed: the whole script
    # stage serialized onto one task on single-split sources)
    run = run.asNondeterministic()

    event_json = F.to_json(F.struct(*[F.col(c) for c in mutable]))
    df = df.withColumn("_script", run(event_json, F.col("headers")))

    cols = {}
    for c in mutable:
        new = F.col("_script").getField(f"_m_{c}")
        kind = kinds[c]
        sqlt = {"s": "string", "i": "int", "f": "float", "b": "byte"}[kind]
        unesc = F.when(new.startswith(ESC_MUT),
                       F.substring(new, 3, 2147483647)).otherwise(new)
        typed = unesc.cast(sqlt)
        # NULL_MUT = the script explicitly cleared the field; plain null
        # = unchanged (coalesce back to the original); an uncastable
        # mutation also keeps the original; ESC_MUT-prefixed values are
        # real strings that collided with the marker prefix
        cols[c] = F.when(new == F.lit(NULL_MUT), F.lit(None).cast(sqlt)) \
                   .otherwise(F.coalesce(typed, F.col(c)))
    new_ctxs = F.coalesce(
        F.from_json(F.col("_script").getField("_script_contexts"),
                    "array<struct<schema:string,data:string>>"),
        F.array().cast("array<struct<schema:string,data:string>>"),
    )
    # use_derived_contexts_from_js_enrichment_only (scala:189-200): the
    # script may declare its contexts REPLACE everything derived so far
    cols[DERIVED_COL] = F.when(
        F.coalesce(F.col("_script").getField("_script_replace"), F.lit(False)),
        new_ctxs,
    ).otherwise(F.concat(F.col(DERIVED_COL), new_ctxs))
    cols[ENRICH_ERRORS_COL] = F.concat(
        F.col(ENRICH_ERRORS_COL),
        F.array_compact(F.array(F.col("_script").getField("_script_error"))),
    )
    df = df.withColumns(cols)
    # drop() semantics: the event vanishes from BOTH good and bad outputs
    df = df.where(~F.coalesce(F.col("_script").getField("_script_drop"), F.lit(False)))
    return df.drop("_script")


# ---------------------------------------------------------------------------
# JavaScript-config adapter (JavascriptScriptEnrichment.scala:62-228)


def _js_call_snippet(source: str, event: dict, params: dict, headers: list) -> str:
    """One self-contained JS expression: run the user script, call
    process() on a JSON round-tripped event, return {event, contexts}."""
    return (
        source + ";\n"
        + "JSON.stringify((function(){"
        + f"var e = {json.dumps(event)};"
        + f"var r = process(e, {json.dumps(params)}, {json.dumps(headers)});"
        + "return {event: e, contexts: r || []};})())"
    )


def _quickjs_engine():
    import quickjs

    def call(source, event, params, headers):
        ctx = quickjs.Context()
        out = json.loads(ctx.eval(_js_call_snippet(source, event, params, headers)))
        return {"event": out["event"], "contexts": out["contexts"]}

    return call


def _mini_racer_engine():
    from py_mini_racer import MiniRacer

    def call(source, event, params, headers):
        out = json.loads(MiniRacer().eval(
            _js_call_snippet(source, event, params, headers)))
        return {"event": out["event"], "contexts": out["contexts"]}

    return call


def _dukpy_engine():
    import dukpy

    def call(source, event, params, headers):
        out = json.loads(dukpy.evaljs(
            _js_call_snippet(source, event, params, headers)))
        return {"event": out["event"], "contexts": out["contexts"]}

    return call


_JS_ENGINES = (
    ("quickjs", _quickjs_engine),
    ("py_mini_racer", _mini_racer_engine),
    ("dukpy", _dukpy_engine),
)


def discover_js_engine():
    """First importable embeddable JS engine, else None."""
    for mod, factory in _JS_ENGINES:
        try:
            __import__(mod)
        except ImportError:
            continue
        return factory()
    return None


def _node_hook(source: str, extra: dict,
               exit_on_compile_error: bool) -> JavascriptScriptConf:
    """Wire the Node sidecar (functions/jsengine.py) into the hook
    contract, honoring exitOnCompileError (scala:107-118): raise now, or
    turn every event into the same EnrichmentFailure bad row."""
    from ..functions.jsengine import JsCompileError, shared_engine

    try:
        shared_engine().compile(source, extra)
    except JsCompileError as ce:
        if exit_on_compile_error:
            raise ValueError(str(ce)) from ce
        msg = str(ce)

        def bad_batch(events, headers_list, _m=msg):
            return [{"error": _m} for _ in events]

        def bad_fn(event, p, headers, _m=msg):
            return {"error": _m}

        return JavascriptScriptConf(function=bad_fn, params=extra,
                                    batch_function=bad_batch)

    # closures capture only strings — the live subprocess stays in the
    # worker-local shared_engine() cache, never in the pickled task
    def batch_fn(event_jsons, headers_list, _src=source, _p=extra):
        from ..functions.jsengine import shared_engine as _se

        return _se().eval_batch_raw(_src, _p, list(zip(event_jsons, headers_list)))

    batch_fn.raw = True  # batch2 protocol: raw JSON strings in/out

    def fn(event, p, headers, _src=source, _p=extra):
        from ..functions.jsengine import shared_engine as _se

        res = _se().eval_batch(_src, {**_p, **p}, [(event, headers)])[0]
        if res.get("drop") or res.get("error") is not None:
            return res
        # the engine returns the FULL mutated event; the hook contract
        # wants a mutation diff (absent = keep, None = clear), so diff
        # against the original — a field the script nulled or deleted
        # becomes an explicit None
        ev = res.get("event") or {}
        muts = {k: v for k, v in ev.items()
                if k not in event or event[k] != v}
        for k in event:
            if k not in ev:
                muts[k] = None
        return {"event": muts,
                "contexts": res.get("contexts") or [],
                "replace_contexts": res.get("replace", False)}

    return JavascriptScriptConf(function=fn, params=extra,
                                batch_function=batch_fn)


def javascript_config_to_hook(config: dict, engine=None,
                              exit_on_compile_error: bool = True,
                              ) -> JavascriptScriptConf:
    """Reference javascript_script_config → a JavascriptScriptConf hook.

    Parses the SDJ config shape ({data: {parameters: {script: <base64>,
    config: {...}}}}, JavascriptScriptEnrichment.scala:49-60), then wires
    a JS engine into the hook contract. Engine preference order:

    1. an injected ``engine`` — a callable ``(source, event, params,
       headers) -> hook-result-dict`` (tests / custom runtimes);
    2. the Node.js sidecar (functions/jsengine.py) when ``node`` is on
       PATH — the production path: persistent per-worker process,
       Arrow-batch round trips via ``batch_function``, compile checked
       eagerly with ``exit_on_compile_error`` semantics (scala:62-119);
    3. any importable embeddable engine (quickjs / py_mini_racer /
       dukpy), per-event;
    4. none → NotImplementedError directing users to the Python hook.
    """
    data = config.get("data", config)
    params = data.get("parameters") or {}
    b64 = params.get("script") or ""
    try:
        source = base64.b64decode(b64, validate=True).decode("utf-8")
    except Exception as e:
        raise ValueError(f"javascript_script_config: script is not valid base64: {e}") from e
    if not source.strip():
        raise ValueError("Provided script for JS enrichment is empty")
    extra = params.get("config") or {}

    if engine is None:
        from ..functions.jsengine import node_available

        if node_available():
            return _node_hook(source, extra, exit_on_compile_error)
        engine = discover_js_engine()

    if engine is None:
        raise NotImplementedError(
            "JavaScript execution requires a JS engine (node on PATH, or "
            "an embeddable quickjs / py_mini_racer / dukpy); none is "
            "available in this environment. Port the script body to a "
            "Python hook with the same contract "
            "(JavascriptScriptConf.function; see module docstring)."
        )

    # per-event engines can't be compile-checked; require the entry
    # point statically (the reference compiles + requires it at init,
    # scala:71-96)
    if "function process" not in source:
        raise ValueError(
            "javascript_script_config: script must declare "
            "`function process(event, params, headers)`"
        )

    def fn(event, p, headers):
        return engine(source, event, {**extra, **p}, headers)

    return JavascriptScriptConf(function=fn, params=extra)
