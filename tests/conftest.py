"""Shared fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from enrich_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("enrich-spark-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def rows_of(df, *cols):
    """Collect df as a list of tuples of the given columns (sorted)."""
    out = [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def lookup_chain_payloads(n: int) -> list[tuple[bytes]]:
    """``n`` thrift-encoded tp2 collector payloads, one event each, with
    the app id, domain user id and IP the service lookups key on."""
    from enrich_spark.loaders.thrift import encode_payload

    return [(encode_payload(dict(
        path="/com.snowplowanalytics.snowplow/tp2",
        timestamp=1700000000000 + i,
        collector="ssc-test",
        ip_address="81.2.69.142",
        network_user_id=f"nu-{i % 4}",
        body=json.dumps({
            "schema": "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4",
            "data": [{"e": "pv", "aid": f"app-{i % 3}", "p": "web",
                      "tv": "js-3.0.0", "duid": f"du-{i % 5}"}],
        }),
        content_type="application/json",
    )),) for i in range(n)]


def lookup_chain_config():
    """The default chain plus ip_lookups and the three service lookups
    (api_request, weather, identity) with in-process fake services."""
    from enrich_spark.config import EnrichmentsConfig, IpLookupsConf
    from enrich_spark.operators.identity import IdentityConf
    from enrich_spark.operators.lookups import ApiRequestConf, WeatherConf

    cfg = EnrichmentsConfig.default()
    cfg.ip_lookups = IpLookupsConf()
    cfg.api_request = ApiRequestConf(
        url_template="http://svc/{{app_id}}", inputs=["app_id"],
        transport=lambda url: '{"app": "%s"}' % url.rsplit("/", 1)[-1],
    )
    cfg.weather = WeatherConf()
    cfg.identity = IdentityConf(
        transport=lambda p: {"snowplowId": "id-" + (p.get("domain_userid") or "?")},
    )
    return cfg
