"""Event-spec inference enrichment (SURVEY §2.5 #26).

Mirrors registry/EventSpecEnrichment.scala:333-411: match each event
against compiled event specifications — (event schema, required entity
set, per-entity cardinality constraints) — and attach an
``event_specification`` context for every passing spec. Skipped when the
event already declares an event-spec entity.

Spark-first: specs are compiled at plan-build time into a broadcast
lookup keyed by the unstruct event schema; the per-event match is a
single UDF over (ue schema, context schema list) — the spec set is tiny
(config-sized), so this is a map-side-only operation at any scale.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sql_enrichments import DERIVED_COL, ensure_derived

EVENT_SPEC_CTX_SCHEMA = "iglu:com.snowplowanalytics.snowplow/event_specification/jsonschema/1-0-2"


@dataclass
class EntityRule:
    schema: str                      # iglu uri of the required entity
    min_cardinality: int = 0
    max_cardinality: int | None = None


@dataclass
class EventSpec:
    id: str
    name: str
    version: int = 1
    event_schema: str | None = None  # iglu uri of the unstruct event (None = any)
    entities: list[EntityRule] = field(default_factory=list)


@dataclass
class EventSpecConf:
    specs: list[EventSpec] = field(default_factory=list)


_RESULT = T.ArrayType(
    T.StructType([T.StructField("schema", T.StringType()),
                  T.StructField("data", T.StringType())])
)


def _infer_row(by_schema, ue_json, co_json):
    """Per-event spec match — the per-row core of the Arrow-batched UDF."""
    try:
        ue_schema = None
        if ue_json:
            env = json.loads(ue_json)
            inner = env.get("data") if isinstance(env, dict) else None
            if isinstance(inner, dict):
                ue_schema = inner.get("schema")
        entity_keys: list[str] = []
        if co_json:
            env = json.loads(co_json)
            inner = env.get("data") if isinstance(env, dict) else None
            if isinstance(inner, list):
                entity_keys = [
                    c.get("schema") for c in inner if isinstance(c, dict)
                ]
        # skip when the event already declares a spec (reference :348-350)
        if any(k and "event_specification" in k for k in entity_keys):
            return []
        counts: dict[str, int] = {}
        for k in entity_keys:
            counts[k] = counts.get(k, 0) + 1
        out = []
        for spec in by_schema.get(ue_schema, []) + by_schema.get(None, []):
            ok = True
            for rule in spec.entities:
                n = counts.get(rule.schema, 0)
                if n < rule.min_cardinality:
                    ok = False
                    break
                if rule.max_cardinality is not None and n > rule.max_cardinality:
                    ok = False
                    break
            if ok:
                out.append({
                    "schema": EVENT_SPEC_CTX_SCHEMA,
                    "data": json.dumps({"id": spec.id, "name": spec.name,
                                        "version": spec.version},
                                       separators=(",", ":")),
                })
        return out
    except ValueError:
        return []


def event_spec_contexts(df: DataFrame, conf: EventSpecConf) -> DataFrame:
    df = ensure_derived(df)
    # compile: event_schema -> [spec...]; shipped in the UDF closure (broadcast)
    by_schema: dict[str | None, list[EventSpec]] = {}
    for s in conf.specs:
        by_schema.setdefault(s.event_schema, []).append(s)

    # Arrow-batched: one Python invocation per ~10k-row batch — same
    # amortization as the thrift decoder (loaders/thrift.py)
    @F.pandas_udf(_RESULT)
    def infer(ue: pd.Series, co: pd.Series) -> pd.Series:
        return pd.Series([_infer_row(by_schema, u, c) for u, c in zip(ue, co)])

    ctxs = infer(F.col("ue_json"), F.col("co_json"))
    return df.withColumn(
        DERIVED_COL,
        F.concat(F.col(DERIVED_COL), F.coalesce(ctxs, F.array().cast(_RESULT.simpleString()))),
    )
