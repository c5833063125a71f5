"""Iglu self-describing-JSON validation (SURVEY §1.3, §2.5 #27).

Mirrors common/utils/IgluUtils.scala:96-106 (input ue/co validation) and
EnrichmentManager.scala:209-257 (output revalidation): every
self-describing JSON carries an ``iglu:vendor/name/format/m-r-a`` schema
key; the data payload is validated against the resolved JSON Schema.

The container ships no jsonschema library, so a small dependency-free
validator covers the JSON-Schema subset Iglu schemas actually use
(type / properties / required / additionalProperties / items / enum /
min-max / length / pattern / maxItems). A schema registry is a plain
dict broadcast inside the UDF closure — the Spark analogue of the
reference's embedded registry + LRU cache (per-executor, zero network).
Remote registries slot in behind ``SchemaRegistry.loader``.

Max JSON depth guard: 50, matching validation.maxJsonDepth
(reference.conf:47, JsonUtils.scala:126).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_JSON_DEPTH = 50

SCHEMA_KEY_RE = re.compile(
    r"^iglu:([a-zA-Z0-9_.-]+)/([a-zA-Z0-9_-]+)/([a-zA-Z0-9_-]+)/(\d+)-(\d+)-(\d+)$"
)


def parse_schema_key(uri: str):
    m = SCHEMA_KEY_RE.match(uri or "")
    if not m:
        return None
    vendor, name, fmt, model, rev, add = m.groups()
    return (vendor, name, fmt, int(model), int(rev), int(add))


# ---------------------------------------------------------------------------
# minimal JSON-Schema validator


def _depth_ok(doc: Any, limit: int = MAX_JSON_DEPTH, _d: int = 0) -> bool:
    if _d > limit:
        return False
    if isinstance(doc, dict):
        return all(_depth_ok(v, limit, _d + 1) for v in doc.values())
    if isinstance(doc, list):
        return all(_depth_ok(v, limit, _d + 1) for v in doc)
    return True


_TYPES = {
    "string": str,
    "integer": int,
    "number": (int, float),
    "boolean": bool,
    "object": dict,
    "array": list,
    "null": type(None),
}


def _resolve_ref(root: dict, ref: str) -> dict | None:
    """Resolve an intra-document JSON pointer ('#/definitions/foo')."""
    if not isinstance(ref, str) or not ref.startswith("#"):
        return None
    node: Any = root
    for part in ref[1:].lstrip("/").split("/"):
        if part == "":
            continue
        part = part.replace("~1", "/").replace("~0", "~")
        if isinstance(node, dict) and part in node:
            node = node[part]
        elif isinstance(node, list) and part.isdigit() and int(part) < len(node):
            node = node[int(part)]
        else:
            return None
    return node if isinstance(node, dict) else None


def _type_ok(name: str, data: Any) -> bool:
    py = _TYPES.get(name)
    if py is None:
        return True  # unknown type name → permissive
    if name in ("integer", "number") and isinstance(data, bool):
        return False
    if name == "number" and isinstance(data, int):
        return True
    return isinstance(data, py)


def validate_json(
    schema: dict, data: Any, path: str = "$", root: dict | None = None,
    _depth: int = 0,
) -> list[str]:
    """Validate `data` against the supported JSON-Schema keyword set
    (draft-4 core as real Iglu schemas use it: types/bounds/patterns,
    required/properties/patternProperties/additionalProperties, items,
    enum/const, $ref + definitions, oneOf/anyOf/allOf/not); return
    error strings. `root` anchors $ref resolution (defaults to the
    top-level schema)."""
    if root is None:
        root = schema
    if _depth > MAX_JSON_DEPTH:
        return [f"{path}: schema nesting exceeds max depth"]
    errs: list[str] = []

    ref = schema.get("$ref")
    if ref is not None:
        target = _resolve_ref(root, ref)
        if target is None:
            return [f"{path}: unresolvable $ref {ref}"]
        return validate_json(target, data, path, root, _depth + 1)

    for comb, mode in (("allOf", "all"), ("anyOf", "any"), ("oneOf", "one")):
        subs = schema.get(comb)
        if isinstance(subs, list) and subs:
            results = [validate_json(s, data, path, root, _depth + 1) for s in subs]
            n_ok = sum(1 for r in results if not r)
            if mode == "all" and n_ok < len(subs):
                for i, r in enumerate(results):
                    if r:
                        errs.extend(f"{e} (allOf[{i}])" for e in r)
            elif mode == "any" and n_ok == 0:
                errs.append(f"{path}: matches none of anyOf")
            elif mode == "one" and n_ok != 1:
                errs.append(f"{path}: matches {n_ok} of oneOf, expected exactly 1")
    if "not" in schema and not validate_json(schema["not"], data, path, root, _depth + 1):
        errs.append(f"{path}: matches schema in 'not'")

    t = schema.get("type")
    if t is not None:
        types = t if isinstance(t, list) else [t]
        if not any(_type_ok(name, data) for name in types):
            errs.append(f"{path}: expected type {t}, got {type(data).__name__}")
            return errs
    if "enum" in schema and data not in schema["enum"]:
        errs.append(f"{path}: {data!r} not in enum")
    if "const" in schema and data != schema["const"]:
        errs.append(f"{path}: {data!r} != const {schema['const']!r}")
    if isinstance(data, str):
        if "maxLength" in schema and len(data) > schema["maxLength"]:
            errs.append(f"{path}: longer than maxLength {schema['maxLength']}")
        if "minLength" in schema and len(data) < schema["minLength"]:
            errs.append(f"{path}: shorter than minLength {schema['minLength']}")
        if "pattern" in schema:
            try:
                if not re.search(schema["pattern"], data):
                    errs.append(f"{path}: does not match pattern")
            except re.error:
                pass  # unsupported regex dialect → permissive
    if isinstance(data, (int, float)) and not isinstance(data, bool):
        mn, mx = schema.get("minimum"), schema.get("maximum")
        xmn, xmx = schema.get("exclusiveMinimum"), schema.get("exclusiveMaximum")
        if mn is not None:
            if xmn is True:  # draft-4 boolean form
                if data <= mn:
                    errs.append(f"{path}: not above exclusive minimum {mn}")
            elif data < mn:
                errs.append(f"{path}: below minimum {mn}")
        elif isinstance(xmn, (int, float)) and data <= xmn:  # draft-6 numeric form
            errs.append(f"{path}: not above exclusive minimum {xmn}")
        if mx is not None:
            if xmx is True:
                if data >= mx:
                    errs.append(f"{path}: not below exclusive maximum {mx}")
            elif data > mx:
                errs.append(f"{path}: above maximum {mx}")
        elif isinstance(xmx, (int, float)) and data >= xmx:
            errs.append(f"{path}: not below exclusive maximum {xmx}")
        mult = schema.get("multipleOf")
        if mult:
            q = data / mult
            if abs(q - round(q)) > 1e-9:
                errs.append(f"{path}: not a multiple of {mult}")
    if isinstance(data, dict):
        props = schema.get("properties", {})
        pprops = schema.get("patternProperties", {})
        for req in schema.get("required", []):
            if req not in data:
                errs.append(f"{path}: missing required property '{req}'")
        if "maxProperties" in schema and len(data) > schema["maxProperties"]:
            errs.append(f"{path}: more than maxProperties {schema['maxProperties']}")
        if "minProperties" in schema and len(data) < schema["minProperties"]:
            errs.append(f"{path}: fewer than minProperties {schema['minProperties']}")
        for k, v in data.items():
            matched = False
            if k in props:
                matched = True
                errs.extend(validate_json(props[k], v, f"{path}.{k}", root, _depth + 1))
            for pat, sub in pprops.items():
                try:
                    hit = re.search(pat, k)
                except re.error:
                    hit = None
                if hit:
                    matched = True
                    errs.extend(validate_json(sub, v, f"{path}.{k}", root, _depth + 1))
            if not matched:
                extra = schema.get("additionalProperties")
                if extra is False:
                    errs.append(f"{path}: additional property '{k}' not allowed")
                elif isinstance(extra, dict):
                    errs.extend(validate_json(extra, v, f"{path}.{k}", root, _depth + 1))
    if isinstance(data, list):
        if "maxItems" in schema and len(data) > schema["maxItems"]:
            errs.append(f"{path}: more than maxItems {schema['maxItems']}")
        if "minItems" in schema and len(data) < schema["minItems"]:
            errs.append(f"{path}: fewer than minItems {schema['minItems']}")
        if schema.get("uniqueItems"):
            seen = []
            for v in data:
                if v in seen:
                    errs.append(f"{path}: items are not unique")
                    break
                seen.append(v)
        items = schema.get("items")
        if isinstance(items, dict):
            for i, v in enumerate(data):
                errs.extend(validate_json(items, v, f"{path}[{i}]", root, _depth + 1))
        elif isinstance(items, list):  # tuple form + additionalItems
            for i, v in enumerate(data):
                if i < len(items):
                    errs.extend(validate_json(items[i], v, f"{path}[{i}]", root, _depth + 1))
                elif schema.get("additionalItems") is False:
                    errs.append(f"{path}: more items than tuple schema allows")
                    break
    return errs


# ---------------------------------------------------------------------------
# registry


@dataclass
class SchemaRegistry:
    """uri → JSON-Schema dict. Embedded-first (broadcast with the plan);
    a loader callable may lazily fetch unknown uris (remote registry)."""

    schemas: dict[str, dict] = field(default_factory=dict)
    loader: Callable[[str], dict | None] | None = None

    def register(self, uri: str, schema: dict) -> "SchemaRegistry":
        self.schemas[uri] = schema
        return self

    def load_dir(self, root: str | Path) -> "SchemaRegistry":
        """Iglu static-registry layout: <root>/vendor/name/format/m-r-a."""
        root = Path(root)
        for p in root.rglob("*"):
            if p.is_file():
                rel = p.relative_to(root)
                parts = rel.parts
                if len(parts) == 4:
                    uri = "iglu:" + "/".join(parts)
                    try:
                        self.schemas[uri] = json.loads(p.read_text())
                    except (ValueError, OSError):
                        pass
        return self

    def lookup(self, uri: str) -> dict | None:
        hit = self.schemas.get(uri)
        if hit is not None:
            return hit
        key = parse_schema_key(uri)
        if key is not None:
            # model-compatible fallback: newest registered a-/r- within model
            vendor, name, fmt, model, _, _ = key
            best = None
            for cand_uri, schema in self.schemas.items():
                ck = parse_schema_key(cand_uri)
                if ck and ck[:4] == (vendor, name, fmt, model):
                    if best is None or ck[4:] > best[0]:
                        best = (ck[4:], schema)
            if best is not None:
                return best[1]
        if self.loader is not None:
            fetched = self.loader(uri)
            if fetched is not None:
                self.schemas[uri] = fetched
                return fetched
        return None


def http_registry_loader(base_urls: list[str], transport: Callable[[str], str] | None = None,
                         timeout: float = 2.0, max_cache: int = 4096):
    """Remote Iglu registry resolver (reference: Iglu client wired at
    modules/core/.../Environment.scala:116; repo layout
    ``{base}/schemas/{vendor}/{name}/{format}/{version}``).

    Returns a loader callable for ``SchemaRegistry.loader``. Responses —
    including misses — are LRU-cached per executor process so a hot
    schema is fetched once per executor, not once per row (the Spark
    analogue of the reference resolver's ``cacheSize``/``cacheTtl``).
    ``transport(url) -> body`` is injectable for tests / auth wrappers.
    """
    from collections import OrderedDict

    if transport is None:
        def transport(url: str) -> str:  # pragma: no cover - network default
            from urllib.request import urlopen

            with urlopen(url, timeout=timeout) as resp:
                return resp.read().decode("utf-8")

    cache: OrderedDict[str, dict | None] = OrderedDict()
    _MISS = object()

    def loader(uri: str) -> dict | None:
        hit = cache.get(uri, _MISS)
        if hit is not _MISS:
            cache.move_to_end(uri)
            return hit
        key = parse_schema_key(uri)
        result = None
        if key is not None:
            vendor, name, fmt, m, r, a = key
            path = f"schemas/{vendor}/{name}/{fmt}/{m}-{r}-{a}"
            for base in base_urls:
                try:
                    body = transport(f"{base.rstrip('/')}/{path}")
                    doc = json.loads(body)
                    if isinstance(doc, dict):
                        result = doc
                        break
                except Exception:  # noqa: BLE001 — registry down → miss
                    continue
        cache[uri] = result
        if len(cache) > max_cache:
            cache.popitem(last=False)
        return result

    return loader


def check_sdj(registry: SchemaRegistry, envelope: Any, strict: bool):
    """Validate one {schema, data} self-describing JSON.

    Returns (errors, validated_with): ``validated_with`` is the
    superseding version string when the resolved schema declares
    ``$supersededBy`` (IgluUtils.scala:255-287) — validation then runs
    against the newer schema and the caller attaches a validation_info
    context + rewrites the SDJ's version."""
    if not isinstance(envelope, dict):
        return ["self-describing payload is not an object"], None
    uri = envelope.get("schema")
    key = parse_schema_key(uri)
    if key is None:
        return [f"invalid schema key [{uri}]"], None
    if not _depth_ok(envelope.get("data")):
        return [f"JSON exceeds max depth {MAX_JSON_DEPTH}"], None
    schema = registry.lookup(uri)
    if schema is None:
        return ([f"schema [{uri}] could not be resolved"] if strict else []), None
    validated_with = None
    superseded = schema.get("$supersededBy")
    if isinstance(superseded, str) and re.fullmatch(r"\d+-\d+-\d+", superseded):
        vendor, name, fmt = key[0], key[1], key[2]
        new_uri = f"iglu:{vendor}/{name}/{fmt}/{superseded}"
        newer = registry.lookup(new_uri)
        if newer is not None:
            schema = newer
            validated_with = superseded
            uri = new_uri
    return [f"[{uri}] {e}" for e in validate_json(schema, envelope.get("data"))], validated_with


def validate_sdj(registry: SchemaRegistry, envelope: Any, strict: bool) -> list[str]:
    """Back-compat wrapper: errors only."""
    return check_sdj(registry, envelope, strict)[0]


# ---------------------------------------------------------------------------
# pipeline stage


VALIDATION_INFO_SCHEMA = (
    "iglu:com.snowplowanalytics.iglu/validation_info/jsonschema/1-0-0"
)

_VALIDATE_RESULT = T.StructType([
    T.StructField("errors", T.ArrayType(T.StringType())),
    T.StructField("ue_json", T.StringType()),
    T.StructField("co_json", T.StringType()),
    T.StructField("vinfo", T.ArrayType(T.StructType([
        T.StructField("schema", T.StringType()),
        T.StructField("data", T.StringType()),
    ]))),
])


def _rewrite_version(envelope: dict, validated_with: str) -> None:
    key = parse_schema_key(envelope.get("schema") or "")
    if key:
        vendor, name, fmt = key[0], key[1], key[2]
        envelope["schema"] = f"iglu:{vendor}/{name}/{fmt}/{validated_with}"


def _check_event(reg: SchemaRegistry, strict: bool, ue_json, co_json, derived):
    """Per-event validation core of the Arrow-batched UDF. Returns
    (errors, ue_json, co_json, vinfo) and NEVER throws (hostile JSON →
    an `sdj` error entry)."""
    errs: list[str] = []
    vinfo: list[dict] = []
    new_ue, new_co = ue_json, co_json
    try:
        if ue_json:
            env = json.loads(ue_json)
            inner = env.get("data") if isinstance(env, dict) else None
            e, validated_with = check_sdj(reg, inner, strict)
            errs += [f"ue_pr\t{x}\t" for x in e]
            if validated_with and isinstance(inner, dict):
                vinfo.append({"schema": VALIDATION_INFO_SCHEMA, "data": json.dumps(
                    {"originalSchema": inner.get("schema"),
                     "validatedWith": validated_with},
                    separators=(",", ":"))})
                _rewrite_version(inner, validated_with)
                new_ue = json.dumps(env, separators=(",", ":"))
        if co_json:
            env = json.loads(co_json)
            inner = env.get("data") if isinstance(env, dict) else None
            if isinstance(inner, list):
                rewrote = False
                for c in inner:
                    e, validated_with = check_sdj(reg, c, strict)
                    errs += [f"co\t{x}\t" for x in e]
                    if validated_with and isinstance(c, dict):
                        vinfo.append({"schema": VALIDATION_INFO_SCHEMA, "data": json.dumps(
                            {"originalSchema": c.get("schema"),
                             "validatedWith": validated_with},
                            separators=(",", ":"))})
                        _rewrite_version(c, validated_with)
                        rewrote = True
                if rewrote:
                    new_co = json.dumps(env, separators=(",", ":"))
            else:
                errs.append("co\tcontexts data is not an array\t")
        for c in derived if derived is not None else []:
            data = c["data"]
            env = {"schema": c["schema"], "data": json.loads(data) if data else None}
            errs += [f"derived_contexts\t{e}\t"
                     for e in check_sdj(reg, env, strict)[0]]
    except ValueError as e:
        errs.append(f"sdj\tinvalid JSON: {e}\t")
    return (errs, new_ue, new_co, vinfo or None)


def validate_sdjs(df: DataFrame, registry: SchemaRegistry, strict: bool = False) -> DataFrame:
    """Validate ue_json / co_json inputs and the derived contexts
    (EnrichmentManager phases 1 + 3). Appends failures to ``_errors``.

    SupersededBy handling (IgluUtils.scala:255-287): an SDJ whose schema
    declares ``$supersededBy`` validates against the newer version, its
    embedded schema version is rewritten to the superseding one, and a
    ``validation_info`` context recording (originalSchema, validatedWith)
    joins the derived contexts.

    Validation runs as an Arrow-batched pandas UDF — this stage touches
    100% of events when Iglu is configured, and the win is the same
    JVM↔Python amortization measured on the thrift decoder
    (loaders/thrift.py)."""
    reg = registry  # captured in closure → shipped once per executor

    @F.pandas_udf(_VALIDATE_RESULT)
    def check(ue: pd.Series, co: pd.Series, derived: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_check_event(reg, strict, u, c, d)
             for u, c, d in zip(ue, co, derived)],
            columns=["errors", "ue_json", "co_json", "vinfo"],
        )

    derived_col = F.col("_derived") if "_derived" in df.columns else F.lit(None).cast(
        "array<struct<schema:string,data:string>>"
    )
    res = check(F.col("ue_json"), F.col("co_json"), derived_col)
    df = df.withColumn("_validate_res", res)
    r = F.col("_validate_res")
    df = df.withColumns({
        "_errors": F.concat(F.col("_errors"), r.getField("errors")),
        "ue_json": r.getField("ue_json"),
        "co_json": r.getField("co_json"),
    })
    if "_derived" in df.columns:
        empty = F.array().cast("array<struct<schema:string,data:string>>")
        df = df.withColumn(
            "_derived",
            F.when(r.getField("vinfo").isNotNull(),
                   F.concat(F.coalesce(F.col("_derived"), empty), r.getField("vinfo")))
            .otherwise(F.col("_derived")),
        )
    return df.drop("_validate_res")
