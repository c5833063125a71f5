"""Identity API step (post-enrichment, core/Identity.scala:32-207 +
core/Processing.scala:339-350).

Batch POST of identifier tuples to an external Identity service; the
returned ``snowplow_id`` is merged back onto events as an identity
context. Rule-based event filtering (In / NotIn over atomic fields,
core/Config.scala:178-204) decides which events participate.

Spark shape: the filter rules compile to native predicates that mask
the identifier columns, and the service call is a
``lookups.cached_lookup`` keyed on the identifier tuple (same LRU+TTL +
injectable-transport pattern as the API enrichment — one request per
DISTINCT identifier tuple per worker, not per event). The reference's
retry + circuit breaker collapse into bounded retries around the
transport; a persistent-failure circuit opens per worker.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lookups import cached_lookup, worker_state
from .sql_enrichments import DERIVED_COL, ensure_derived

IDENTITY_CTX_SCHEMA = "iglu:com.snowplowanalytics.snowplow/identity/jsonschema/1-0-0"


@dataclass
class FilterRule:
    field: str
    op: str            # "in" | "not_in"
    values: list[str] = field(default_factory=list)


@dataclass
class IdentityConf:
    # identifier fields sent to the service
    identifiers: list[str] = field(default_factory=lambda: ["domain_userid", "network_userid"])
    filters: list[FilterRule] = field(default_factory=list)
    # transport(payload_dict) -> {"snowplowId": ...}; None = stub is an error
    transport: Callable[[dict], dict] | None = None
    cache_size: int = 10000
    cache_ttl_s: float = 3600.0
    max_retries: int = 3
    circuit_threshold: int = 5     # consecutive failures → open circuit


def _compile_filters(rules: list[FilterRule]) -> Column:
    cond = F.lit(True)
    for r in rules:
        col = F.col(r.field)
        if r.op == "in":
            cond = cond & col.isin(*r.values)
        elif r.op == "not_in":
            cond = cond & (col.isNull() | ~col.isin(*r.values))
        else:
            raise ValueError(f"unknown identity filter op [{r.op}]")
    return cond


_RESULT = T.StructType([
    T.StructField("snowplow_id", T.StringType()),
    T.StructField("error", T.StringType()),
])


def _resolve_one(transport, names, values, retries, state):
    """One service call with bounded retries and a consecutive-failure
    circuit (state = {'failures': int}, scoped per worker)."""
    payload = {n: v for n, v in zip(names, values)}
    last = None
    for _ in range(retries):
        try:
            resp = transport(payload)
            state["failures"] = 0
            return (str(resp.get("snowplowId")), None)
        except Exception as e:  # noqa: BLE001
            last = e
    state["failures"] += 1
    return (None, f"identity\t{type(last).__name__}: {last}\t")


def add_identity_contexts(df: DataFrame, conf: IdentityConf) -> DataFrame:
    """Identity stitching (core/Identity.scala:32-207).

    The filter rules mask the identifier columns, so an ineligible event
    carries all-NULL identifiers and, like an event with no identifiers,
    never reaches the service. Eligible tuples go through
    ``cached_lookup``: one call per distinct tuple per worker, LRU+TTL,
    and a per-worker circuit that stops calling after
    ``circuit_threshold`` consecutive failures."""
    if conf.transport is None:
        raise ValueError("IdentityConf.transport is required (no default endpoint)")
    df = ensure_derived(df)
    transport = conf.transport
    names = list(conf.identifiers)
    retries, circuit_threshold = conf.max_retries, conf.circuit_threshold
    circuit = uuid.uuid4().hex

    def resolve(*values):
        state = worker_state(circuit, lambda: {"failures": 0})
        if state["failures"] >= circuit_threshold:
            return (None, "identity circuit open")
        return _resolve_one(transport, names, values, retries, state)

    df = df.withColumn("_identity", cached_lookup(
        resolve, _RESULT, [F.col(c) for c in names],
        when=_compile_filters(conf.filters),
        cache_size=conf.cache_size, cache_ttl_s=conf.cache_ttl_s,
    ))
    data = F.to_json(F.struct(F.col("_identity.snowplow_id").alias("snowplowId")))
    ctx = F.struct(F.lit(IDENTITY_CTX_SCHEMA).alias("schema"), data.alias("data"))
    df = df.withColumn(
        DERIVED_COL,
        F.when(F.col("_identity.snowplow_id").isNotNull(),
               F.array_append(F.col(DERIVED_COL), ctx)).otherwise(F.col(DERIVED_COL)),
    )
    # identity failures are non-fatal: recorded, event still flows (reference
    # attaches failure but does not bad-row the event)
    df = df.withColumn(
        "_identity_error", F.col("_identity.error")
    )
    return df.drop("_identity")
