"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the seed. Each generator returns the
inputs together with an `Expect` record: what the engine must emit for
them (event ids and spot-checked fields of the good events, the number of
planted-bad inputs per bad-row type). The output checker (checker.py)
compares the engine's sinks against it.
"""

from __future__ import annotations

import base64
import gzip
import json
import random
import struct
import uuid
from dataclasses import dataclass, field
from urllib.parse import urlencode

from enrich_spark.loaders.thrift import encode_payload
from enrich_spark.sources.decompress import encode_batch

TP2_PATH = "/com.snowplowanalytics.snowplow/tp2"
PAYLOAD_DATA = "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4"
UE_ENVELOPE = "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0"
CO_ENVELOPE = "iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0"
CHECKOUT = "iglu:com.acme/checkout/jsonschema/1-0-0"
USER_CTX = "iglu:com.acme/user/jsonschema/1-0-0"

# the Iglu registry the generated events validate against
SCHEMAS = {
    CHECKOUT: {
        "type": "object",
        "properties": {"sku": {"type": "string"},
                       "qty": {"type": "integer", "minimum": 1}},
        "required": ["sku", "qty"],
    },
    USER_CTX: {
        "type": "object",
        "properties": {"email": {"type": "string"}},
        "required": ["email"],
    },
}

JS_SCRIPT = """
function process(event, params, headers) {
    return [{schema: 'iglu:com.acme/js_tag/jsonschema/1-0-0',
             data: {app: event.app_id, n: headers.length, tag: params.tag}}];
}
"""

USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) "
    "Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) "
    "Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
]
REFERERS = ["https://www.google.com/search?q=shoes", "https://www.bing.com/search?q=hat",
            "https://t.co/abc", "https://news.example.org/a/1", ""]
COUNTRIES = ["GB", "US", "SE", "DE", "FR", "JP", "BR", "IN"]

# the geo/ASN databases: 64 /24 networks 100.64.k.0/24, country by k
GEO_NETS = 64


def geo_ranges() -> list[tuple[int, int, dict]]:
    """(ip_start, ip_end, GeoIP2-City record) for `functions.mmdb.build_mmdb`."""
    out = []
    for k in range(GEO_NETS):
        start = (100 << 24) | (64 << 16) | (k << 8)
        cc = COUNTRIES[k % len(COUNTRIES)]
        out.append((start, start + 255, {
            "country": {"iso_code": cc},
            "city": {"names": {"en": f"City{k}"}},
            "location": {"latitude": 10.0 + k, "longitude": 20.0 - k,
                         "time_zone": "Europe/London"},
            "traits": {"isp": f"ISP {k % 7}", "organization": f"Org {k}"},
        }))
    return out


def asn_ranges() -> list[tuple[int, int, dict]]:
    return [(s, e, {"autonomous_system_number": 64500 + (s >> 8 & 255),
                    "autonomous_system_organization": f"AS Org {s >> 8 & 255}"})
            for s, e, _ in geo_ranges()]


def _ip(rng: random.Random) -> tuple[str, str]:
    """(ip, expected geo_country); one IP in eight is outside every range."""
    if rng.random() < 0.125:
        return f"198.51.100.{rng.randrange(1, 255)}", ""
    k = rng.randrange(GEO_NETS)
    return f"100.64.{k}.{rng.randrange(1, 255)}", COUNTRIES[k % len(COUNTRIES)]


@dataclass
class Expect:
    """What the sinks must hold for one set of inputs."""

    # event_id -> (app_id, event, txn_id, page_urlhost, geo_country)
    events: dict = field(default_factory=dict)
    # good events whose id the engine assigns (webhooks): count only
    anonymous_good: int = 0
    # planted-bad inputs per bad-row type (schema name in the badrows URI)
    bad: dict = field(default_factory=dict)

    @property
    def records(self) -> int:
        return len(self.events) + self.anonymous_good + sum(self.bad.values())


class TrackerGen:
    """Snowplow tracker events (tp1 GETs, tp2 POSTs) with known outcomes."""

    def __init__(self, seed: int, geo: bool, base_ms: int = 1704067200000):
        self.rng = random.Random(seed)
        self.geo = geo            # ip_lookups enabled: geo_country expected
        self.base_ms = base_ms    # 2024-01-01: the demo currency rates' day

    def _event(self, exp: Expect, kind: str | None = None, bad: str | None = None):
        r = self.rng
        eid = str(uuid.UUID(int=r.getrandbits(128), version=4))
        aid = f"app{r.randrange(6)}"
        host = f"shop{r.randrange(12)}.example.com"
        tid = r.randrange(1, 10**6)
        ts = self.base_ms + r.randrange(0, 3_600_000)
        kind = kind or r.choice(["pv", "pv", "pv", "se", "tr", "ue"])
        ev = {"e": kind, "eid": eid, "aid": aid, "p": "web", "tv": "js-3.4.0",
              "tid": str(tid), "dtm": str(ts - r.randrange(50, 5000)), "stm": str(ts),
              "url": f"https://{host}/p/{r.randrange(500)}?utm_source=news&utm_medium=email"
                     f"&utm_campaign=c{r.randrange(9)}",
              "refr": r.choice(REFERERS), "page": "Product page",
              "duid": str(uuid.UUID(int=r.getrandbits(128), version=4)),
              "uid": f"user{r.randrange(10_000)}@example.com",
              "vid": str(r.randrange(1, 40)), "res": "1920x1080", "lang": "en-GB"}
        if kind == "se":
            ev.update(se_ca="shop", se_ac=r.choice(["add", "remove", "view"]),
                      se_va=str(r.randrange(100)))
        elif kind == "tr":
            ev.update(tr_id=f"o{r.randrange(10**6)}", tr_tt=f"{r.randrange(1, 999)}.{r.randrange(100):02d}",
                      tr_cu=r.choice(["USD", "GBP", "EUR", "JPY"]))
        elif kind == "ue":
            data = {"sku": f"sku{r.randrange(99)}", "qty": r.randrange(1, 5)}
            if bad == "iglu":
                del data["qty"]
            ev["ue_pr"] = json.dumps({"schema": UE_ENVELOPE,
                                      "data": {"schema": CHECKOUT, "data": data}})
        if r.random() < 0.5:
            ev["co"] = json.dumps({"schema": CO_ENVELOPE, "data": [
                {"schema": USER_CTX, "data": {"email": ev["uid"]}}]})
        if bad == "envelope":
            ev["ue_pr"] = json.dumps({"schema": "iglu:com.acme/not_an_envelope/jsonschema/1-0-0",
                                      "data": {}})
            ev["e"] = "ue"
        if bad:
            exp.bad["schema_violations"] = exp.bad.get("schema_violations", 0) + 1
        else:
            name = {"pv": "page_view", "se": "struct", "tr": "transaction", "ue": "unstruct"}[kind]
            exp.events[eid] = (aid, name, str(tid), host, "")
        return ev, ts

    def tp2(self, exp: Expect, n_events: int, bad_share: float = 0.0,
            collector_ms: int | None = None) -> bytes:
        """One tp2 POST carrying `n_events` events; a `bad_share` of them
        are planted schema violations (invalid envelope or Iglu-invalid)."""
        r = self.rng
        ip, cc = _ip(r)
        ua = r.choice(USER_AGENTS)
        evs, ts = [], self.base_ms
        for _ in range(n_events):
            bad = None
            if r.random() < bad_share:
                bad = r.choice(["envelope", "iglu"])
            ev, ts = self._event(exp, "ue" if bad == "iglu" else None, bad)
            evs.append(ev)
            if not bad and self.geo:
                exp.events[ev["eid"]] = exp.events[ev["eid"]][:4] + (cc,)
        return encode_payload(dict(
            path=TP2_PATH, timestamp=collector_ms or ts, collector="ssc-3.1.0-kinesis",
            body=json.dumps({"schema": PAYLOAD_DATA, "data": evs}),
            content_type="application/json; charset=UTF-8", ip_address=ip, useragent=ua,
            hostname="collector.example.com", encoding="UTF-8",
            headers=["Host: collector.example.com", f"User-Agent: {ua}",
                     "Cookie: sp=abc; _ga=GA1.2.3"],
            network_user_id=str(uuid.UUID(int=r.getrandbits(128), version=4))))

    def tp1(self, exp: Expect) -> bytes:
        r = self.rng
        ip, cc = _ip(r)
        ev, ts = self._event(exp, r.choice(["pv", "se"]))
        if self.geo:
            exp.events[ev["eid"]] = exp.events[ev["eid"]][:4] + (cc,)
        return encode_payload(dict(
            path="/i", timestamp=ts, collector="ssc-3.1.0-kinesis", querystring=urlencode(ev),
            ip_address=ip, useragent=r.choice(USER_AGENTS), encoding="UTF-8",
            headers=["Host: collector.example.com"]))


def backfill_heavy(seed: int, n_payloads: int, n_files: int):
    """tp2 POSTs of ~5 events each, no planted bad inputs, as parquet
    `value BINARY` thrift messages split over `n_files` files."""
    g = TrackerGen(seed, geo=True)
    exp = Expect()
    msgs = [g.tp2(exp, g.rng.randint(3, 7)) for _ in range(n_payloads)]
    return [msgs[i::n_files] for i in range(n_files)], exp


# --- webhook / planted-bad mix --------------------------------------------

def _webhook(r: random.Random, exp: Expect) -> bytes:
    """One vendor webhook POST; every one yields known good events."""
    vendor = r.choice(["mandrill", "mailchimp", "pingdom", "googleanalytics"])
    if vendor == "mandrill":
        n = r.randint(1, 4)
        body = "mandrill_events=" + json.dumps([
            {"event": r.choice(["send", "open", "click"]),
             "msg": {"email": f"u{r.randrange(999)}@example.com"}} for _ in range(n)]
        ).replace(" ", "")
        path, ctype, qs = "/com.mandrill/v1", "application/x-www-form-urlencoded", None
    elif vendor == "mailchimp":
        n = 1
        body = f"type=subscribe&data%5Bemail%5D=u{r.randrange(999)}%40example.com&data%5Bmerges%5D%5BFNAME%5D=Ada"
        path, ctype, qs = "/com.mailchimp/v1", "application/x-www-form-urlencoded", None
    elif vendor == "pingdom":
        n = 1
        body, ctype = None, None
        qs = urlencode({"message": json.dumps({"check": "(u'c1', u'up')", "action": "assign"})})
        path = "/com.pingdom/v1"
    else:
        n = 1
        body, ctype, qs = f"t=pageview&dh=host{r.randrange(9)}&dp=/path{r.randrange(9)}", None, None
        path = "/com.google.analytics/v1"
    exp.anonymous_good += n
    return encode_payload(dict(path=path, timestamp=1704067200000, collector="ssc-3.1.0",
                               querystring=qs, body=body, content_type=ctype,
                               ip_address="198.51.100.7", encoding="UTF-8"))


def _bad_thrift() -> bytes:
    # a string field whose declared length runs past the end of the record
    return struct.pack(">bhi", 11, 320, 9999) + b"/com.snowplowanalytics.snowplow/tp2"


def webhook_badmix(seed: int, n_archives: int, per_archive: int = 40,
                   max_payload: int = 65536):
    """gzip/zstd archives mixing tp1 GETs, high-fan-out tp2 POSTs,
    vendor webhooks and ~20% planted-bad inputs. Returns the archive
    messages and the expected outcome."""
    g = TrackerGen(seed, geo=False)
    r = g.rng
    exp = Expect()

    def cpfv(n=1):
        exp.bad["collector_payload_format_violation"] = (
            exp.bad.get("collector_payload_format_violation", 0) + n)

    archives = []
    for a in range(n_archives):
        if a % 25 == 7:
            # unsupported batching-protocol header: one bad row for the archive
            archives.append(gzip.compress(bytes([2, 1]) + struct.pack(">i", 3) + b"abc", mtime=0))
            cpfv()
            continue
        payloads = []
        for _ in range(per_archive):
            x = r.random()
            if x < 0.10:
                payloads.append(_bad_thrift())
                cpfv()
            elif x < 0.17:
                payloads.append(encode_payload(dict(
                    path="/com.unknown-vendor/v9", timestamp=1704067200000, body="{}",
                    content_type="application/json")))
                exp.bad["adapter_failures"] = exp.bad.get("adapter_failures", 0) + 1
            elif x < 0.18:
                payloads.append(b"\x0b" + b"x" * (max_payload + 10))
                cpfv()
            elif x < 0.42:
                payloads.append(g.tp1(exp))
            elif x < 0.62:
                payloads.append(_webhook(r, exp))
            else:
                payloads.append(g.tp2(exp, r.randint(20, 30), bad_share=0.06))
        codec = "gzip" if a % 2 == 0 else "zstd"
        data = encode_batch(payloads, codec)
        if codec == "gzip":  # zero the header's timestamp: a seed gives the same bytes
            data = data[:4] + bytes(4) + data[8:]
        archives.append(data)
    return archives, exp


# --- document corpus ------------------------------------------------------

WORDS = ("the of and to in is was for that with as on by at from this have are be "
         "it an or which were their has been its more also one other they new first "
         "city river market school history people water music season team island "
         "church station village county building railway museum garden bridge harbour "
         "forest valley mountain library theatre festival council project research "
         "student company program system service network design community report").split()


def _sentence(r: random.Random) -> str:
    n = r.randint(6, 10)
    s = " ".join(r.choice(WORDS) for _ in range(n))
    return s[0].upper() + s[1:] + "."


def corpus(seed: int, n_docs: int):
    """Synthetic English documents with planted exact duplicates,
    near-duplicates and PII strings. Returns (rows, planted) where rows
    are (doc_id, text, source) and planted holds the duplicate groups and
    the PII strings that must not survive curation."""
    r = random.Random(seed)
    rows, dup_groups, near_pairs, pii = [], [], [], []
    i = 0
    while len(rows) < n_docs:
        lines = [" ".join(_sentence(r) for _ in range(r.randint(1, 2)))
                 for _ in range(r.randint(3, 4))]
        if r.random() < 0.15:
            email = f"person{r.randrange(10**6)}.{i}@mail{r.randrange(99)}.example.com"
            lines[r.randrange(len(lines))] += f" Contact {email} for details."
            pii.append(email)
        text = "\n".join(lines)
        rows.append((i, text, f"src{r.randrange(4)}"))
        group = [i]
        i += 1
        x = r.random()
        if x < 0.08:
            for _ in range(r.randint(1, 3)):
                rows.append((i, text, f"src{r.randrange(4)}"))
                group.append(i)
                i += 1
            dup_groups.append(group)
        elif x < 0.14:
            words = text.split(" ")
            words[r.randrange(len(words))] = r.choice(WORDS)
            rows.append((i, " ".join(words), f"src{r.randrange(4)}"))
            near_pairs.append((group[0], i))
            i += 1
    return rows, {"dup_groups": dup_groups, "near_pairs": near_pairs, "pii": pii}


def js_script_config() -> dict:
    return {"data": {"parameters": {
        "script": base64.b64encode(JS_SCRIPT.encode()).decode(),
        "config": {"tag": "bench"}}}}
