"""External data-provider clients: Open Exchange Rates + OpenWeatherMap.

The reference consumes both through per-event client libraries with LRU
caches (CurrencyConversionEnrichment.scala:100-226 via scala-forex,
WeatherEnrichment.scala:96-204 via scala-weather). The Spark-first
topology differs by design:

* **OER** feeds the *broadcast rates table* consumed by
  operators/currency.py — a bounded driver-side fetch of one document
  per ETL day (the public historical endpoint
  ``/api/historical/YYYY-MM-DD.json``), never a per-event call.
* **OWM** plugs into the per-worker cached lookup
  (operators/lookups.weather_context) as its ``provider`` — request
  volume is bounded by (rounded coord, day) cardinality, not events.

Both take an injectable ``transport(url) -> body`` so tests (and this
offline container) run against fakes; the URL construction, response
parsing, cross-rate arithmetic, and error contracts are the real logic.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import date as _date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _http_transport(timeout_s: float = 10.0):
    def fetch(url: str) -> str:
        from urllib.request import urlopen

        with urlopen(url, timeout=timeout_s) as r:  # noqa: S310 — config-driven
            return r.read().decode("utf-8")

    return fetch


@dataclass
class OerClient:
    """Open Exchange Rates historical endpoint → daily rates rows.

    The free/developer OER plans fix the API base currency to USD; the
    conversion target (the enrichment's baseCurrency) is reached with
    the documented cross-rate: rate(X→base) = rates[base] / rates[X]
    (scala-forex does the same USD pivot for non-USD bases)."""

    app_id: str = ""
    endpoint: str = "https://openexchangerates.org/api"
    transport: object = None

    def _fetch_day(self, day: str) -> dict:
        transport = self.transport or _http_transport()
        url = f"{self.endpoint}/historical/{day}.json?app_id={self.app_id}"
        doc = json.loads(transport(url))
        if "rates" not in doc:
            raise ValueError(f"OER response for {day} has no rates: "
                             f"{doc.get('message', doc.get('description', '?'))}")
        return doc["rates"]

    def rates_rows(self, days: list[str], base: str) -> list[tuple]:
        """[(day, from_ccy, to_ccy, rate)] for every listed currency →
        base, one API call per day (bounded by the ETL window, not by
        event count)."""
        out = []
        for day in days:
            rates = self._fetch_day(day)
            base_rate = rates.get(base)
            if base_rate is None:
                raise ValueError(f"OER rates for {day} lack base currency {base}")
            for ccy, usd_rate in rates.items():
                if ccy == base or not usd_rate:
                    continue
                out.append((day, ccy, base, base_rate / usd_rate))
        return out

    def rates_table(self, spark: SparkSession, days: list[str], base: str) -> DataFrame:
        rows = [(d, f, t, f"{r:.8f}") for d, f, t, r in self.rates_rows(days, base)]
        df = spark.createDataFrame(
            rows, "day_s STRING, from_ccy STRING, to_ccy STRING, rate_s STRING"
        )
        return df.select(
            F.to_date("day_s").alias("day"), "from_ccy", "to_ccy",
            F.col("rate_s").cast("decimal(18,8)").alias("rate"),
        )


@dataclass
class OwmClient:
    """OpenWeatherMap history-by-coordinates provider for
    weather_context (WeatherEnrichment.scala:96-204: one hour-typed
    history entry at the event timestamp)."""

    app_id: str = ""
    endpoint: str = "https://history.openweathermap.org/data/2.5"
    timeout_s: float = 5.0
    transport: object = None

    def provider(self):
        """Returns the (lat, lon, epoch_s) -> weather-dict callable the
        cached weather UDF wants; shipped inside the UDF closure."""
        transport = self.transport or _http_transport(self.timeout_s)
        endpoint, app_id = self.endpoint, self.app_id

        def fetch(lat: float, lon: float, epoch_s: int) -> dict:
            url = (f"{endpoint}/history/city?lat={lat:.4f}&lon={lon:.4f}"
                   f"&type=hour&start={int(epoch_s)}&cnt=1&appid={app_id}")
            doc = json.loads(transport(url))
            items = doc.get("list") or []
            if not items:
                raise ValueError(f"OWM returned no history for {url}")
            return items[0]

        return fetch


def etl_days(start: str, end: str) -> list[str]:
    """Inclusive YYYY-MM-DD day range helper for OerClient.rates_table."""
    d0, d1 = _date.fromisoformat(start), _date.fromisoformat(end)
    out = []
    cur = d0
    while cur <= d1:
        out.append(cur.isoformat())
        cur = _date.fromordinal(cur.toordinal() + 1)
    return out
