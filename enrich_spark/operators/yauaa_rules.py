"""YAUAA-format BYO ruleset engine (SURVEY §2.5 #16, rules path).

The reference embeds the real YAUAA analyzer
(registry/YauaaEnrichment.scala:76-182), which parses a useragent into a
tree (ANTLR grammar) and runs *matcher* rules from YAML files: each
matcher `require`s tree facts, binds `variable`s, and `extract`s fields
with a confidence weight; per field, the highest-confidence extract
across all matchers wins, backed by `lookup` maps.

This module re-implements that rule format over a simplified UA parse
tree so users can bring real YAUAA-style YAML rule files — the same
BYO-database pattern as the uap-core engine
(ua.ua_parser_context_rules). Supported subset (documented fidelity
bound, everything else is rejected loudly at load time rather than
silently misread):

- tree: ``agent`` → ``product`` (name, ``version`` list, ``comments``)
  → ``entry`` (text); top-level bare words parse as version-less
  products, ``(...)`` blocks attach to the preceding product and split
  entries on ``;``.
- paths: ``agent.(1)product.(2)version`` style steps with 1-based
  ``(n)`` / ``(n-m)`` indexes, word ranges ``step[1-2]`` (first words
  of the value, space-split), ``step="literal"`` value conditions
  (case-insensitive, like YAUAA's lowercase matching), and ``^``
  up-steps — e.g. ``agent.product.name="Chrome"^.version``.
- matcher fields: ``require`` (path must resolve; with ``="lit"`` must
  equal), ``variable`` (``Name: expr``, referenced as ``@Name``),
  ``extract`` (``Field : confidence : expr``).
- expressions: a path, a ``"quoted literal"``, ``@variable``,
  ``LookUp[MapName;expr]`` / ``LookUpPrefix[MapName;expr]`` (with
  optional ``;"default"``; prefix form = longest-prefix key match),
  ``CleanVersion[expr]`` (underscores → dots), ``NormalizeBrand[expr]``
  (≤3-char tokens uppercase, longer tokens first-letter capitalized —
  the documented YAUAA brand normalization), and
  ``Concat[expr;expr;...]``.
- requires: positive paths/conditions, ``!=`` negative value
  conditions, and ``IsNull[expr]`` (passes when the expression does NOT
  resolve; require-only, and never counts as PATH evidence).
- ``lookup`` entries with a ``name`` and ``map``.

NOT supported (load_yauaa_rules raises ValueError so divergence is
visible): other matcher functions (WordRangeVisitor specials,
BackToFull, segment ranges beyond word ranges), sub-product trees
inside comment entries; the test-only sections of real rule files are
skipped.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["load_yauaa_rules", "parse_ua_tree", "evaluate_matchers",
           "yauaa_context_rules"]


# ---------------------------------------------------------------------------
# simplified UA parse tree


class _Node:
    __slots__ = ("kind", "value", "children", "parent")

    def __init__(self, kind, value=None, parent=None):
        self.kind = kind
        self.value = value
        self.children = []
        self.parent = parent

    def add(self, kind, value=None):
        n = _Node(kind, value, self)
        self.children.append(n)
        return n

    def kids(self, kind):
        return [c for c in self.children if c.kind == kind]


def _split_top(ua: str) -> list[tuple[str, str]]:
    """Split a UA string into ('word', token) and ('comment', body)
    pieces, respecting nested parentheses."""
    out = []
    i, n = 0, len(ua)
    while i < n:
        c = ua[i]
        if c.isspace():
            i += 1
        elif c == "(":
            depth, j = 1, i + 1
            while j < n and depth:
                if ua[j] == "(":
                    depth += 1
                elif ua[j] == ")":
                    depth -= 1
                j += 1
            out.append(("comment", ua[i + 1:j - 1 if depth == 0 else j]))
            i = j
        else:
            j = i
            while j < n and not ua[j].isspace() and ua[j] != "(":
                j += 1
            out.append(("word", ua[i:j]))
            i = j
    return out


def parse_ua_tree(ua: str) -> _Node:
    """Parse a useragent into the simplified agent tree: products with
    slash-versions, bare words as version-less products, parenthesized
    comment blocks (entries split on ';') attached to the preceding
    product."""
    agent = _Node("agent", ua or "")
    last_product = None
    for kind, tok in _split_top(ua or ""):
        if kind == "word":
            if "/" in tok:
                name, _, ver = tok.partition("/")
                p = agent.add("product", name)
                p.add("name", name)
                for v in ver.split("/"):
                    p.add("version", v)
            else:
                p = agent.add("product", tok)
                p.add("name", tok)
            last_product = p
        else:  # comment block
            owner = last_product if last_product is not None else agent
            cm = owner.add("comments", tok)
            for entry in tok.split(";"):
                e = entry.strip()
                cm.add("entry", e).add("text", e)
    return agent


# ---------------------------------------------------------------------------
# path expressions


_STEP_RE = re.compile(
    r"^(?:\((\d+)(?:-(\d+))?\))?([a-zA-Z]+)(?:\[(\d+)(?:-(\d+))?\])?$")


def _parse_path(expr: str):
    """'agent.(1)product.name="Chrome"^.version' → list of step dicts."""
    steps = []
    i, n = 0, len(expr)
    buf = ""

    def flush(buf):
        if not buf:
            return
        m = _STEP_RE.match(buf)
        if not m:
            raise ValueError(f"unsupported YAUAA path step: {buf!r}")
        lo = int(m.group(1)) if m.group(1) else None
        steps.append({"op": "step", "name": m.group(3),
                      "index": lo,
                      "index_hi": int(m.group(2)) if m.group(2) else lo,
                      "words": (int(m.group(4)),
                                int(m.group(5) or m.group(4)))
                      if m.group(4) else None})

    while i < n:
        c = expr[i]
        if c == ".":
            flush(buf)
            buf = ""
            i += 1
        elif c == "^":
            flush(buf)
            buf = ""
            steps.append({"op": "up"})
            i += 1
        elif c == "=":
            flush(buf)
            buf = ""
            if i + 1 >= n or expr[i + 1] != '"':
                raise ValueError(f"unsupported condition in path: {expr!r}")
            j = expr.index('"', i + 2)
            steps.append({"op": "eq", "value": expr[i + 2:j]})
            i = j + 1
        elif c == "!" and i + 1 < n and expr[i + 1] == "=":
            # negative value condition (YAUAA matcher-format !=): keep
            # nodes whose value differs from the literal
            flush(buf)
            buf = ""
            if i + 2 >= n or expr[i + 2] != '"':
                raise ValueError(f"unsupported condition in path: {expr!r}")
            j = expr.index('"', i + 3)
            steps.append({"op": "ne", "value": expr[i + 3:j]})
            i = j + 1
        else:
            buf += c
            i += 1
    flush(buf)
    return steps


def _walk(agent: _Node, steps) -> list[_Node]:
    nodes = [agent]
    for st in steps:
        if st["op"] == "up":
            nodes = [n.parent for n in nodes if n.parent is not None]
        elif st["op"] == "eq":
            want = st["value"].lower()
            nodes = [n for n in nodes
                     if (n.value or "").lower() == want]
        elif st["op"] == "ne":
            want = st["value"].lower()
            nodes = [n for n in nodes
                     if (n.value or "").lower() != want]
        else:
            name, idx = st["name"], st["index"]
            if name == "agent":
                continue  # root step
            nxt = []
            for n in nodes:
                if name == "entry" and n.kind == "product":
                    # product.comments.entry shorthand: entries of every
                    # comment block under the product
                    kids = [e for cm in n.kids("comments")
                            for e in cm.kids("entry")]
                else:
                    kids = n.kids(name)
                nxt.extend(kids)
            if idx is not None:
                hi = st.get("index_hi") or idx
                nodes = nxt[idx - 1:hi]
            else:
                nodes = nxt
            if st.get("words"):
                # word range: the step value restricted to words lo..hi
                # (space-split, 1-based) — a derived node, parented to
                # the original's parent so ^ still navigates sensibly
                lo, hi = st["words"]
                derived = []
                for n in nodes:
                    ws = (n.value or "").split()
                    if len(ws) < lo:
                        continue
                    d = _Node(n.kind, " ".join(ws[lo - 1:hi]), n.parent)
                    derived.append(d)
                nodes = derived
    return nodes


# ---------------------------------------------------------------------------
# rules loading + matcher evaluation


def load_yauaa_rules(path: str | None = None, text: str | None = None) -> dict:
    """Load a YAUAA-format YAML rule file (a ``config:`` list of
    ``matcher`` and ``lookup`` entries). Unsupported constructs raise
    ValueError naming the construct. ``test`` entries are skipped."""
    import yaml

    if text is None:
        with open(path) as f:
            text = f.read()
    doc = yaml.safe_load(text) or {}
    matchers, lookups = [], {}
    for item in doc.get("config") or []:
        if "lookup" in item:
            lk = item["lookup"]
            lookups[lk["name"]] = {
                str(k).lower(): v for k, v in (lk.get("map") or {}).items()}
        elif "matcher" in item:
            m = item["matcher"]
            for bad in ("options",):
                if bad in m:
                    raise ValueError(f"unsupported matcher key: {bad}")
            parsed = {"require": [], "variable": [], "extract": []}
            for r in m.get("require") or []:
                parsed["require"].append(_parse_expr(r))
            for v in m.get("variable") or []:
                name, _, ex = v.partition(":")
                pe = _parse_expr(ex.strip())
                if pe["op"] == "isnull":
                    raise ValueError("IsNull[...] is require-only")
                parsed["variable"].append((name.strip(), pe))
            for e in m.get("extract") or []:
                field, conf, ex = (s.strip() for s in e.split(":", 2))
                pe = _parse_expr(ex)
                if pe["op"] == "isnull":
                    raise ValueError("IsNull[...] is require-only")
                parsed["extract"].append((field, int(conf), pe))
            matchers.append(parsed)
        elif "test" in item:
            continue  # test fixtures in real rule files — not rules
        else:
            raise ValueError(f"unsupported config entry: {list(item)}")
    return {"matchers": matchers, "lookups": lookups}


def _parse_expr(ex: str):
    ex = ex.strip()
    if ex.startswith('"') and ex.endswith('"'):
        return {"op": "lit", "value": ex[1:-1]}
    if ex.startswith("@"):
        return {"op": "var", "name": ex[1:]}
    m = re.match(r"^LookUp\[\s*([A-Za-z0-9_]+)\s*;(.*?)(?:;\s*\"([^\"]*)\"\s*)?\]$", ex)
    if m:
        return {"op": "lookup", "map": m.group(1),
                "expr": _parse_expr(m.group(2)), "default": m.group(3)}
    m = re.match(r"^LookUpPrefix\[\s*([A-Za-z0-9_]+)\s*;(.*?)(?:;\s*\"([^\"]*)\"\s*)?\]$", ex)
    if m:
        return {"op": "lookupprefix", "map": m.group(1),
                "expr": _parse_expr(m.group(2)), "default": m.group(3)}
    m = re.match(r"^CleanVersion\[(.*)\]$", ex)
    if m:
        return {"op": "clean", "expr": _parse_expr(m.group(1))}
    m = re.match(r"^NormalizeBrand\[(.*)\]$", ex)
    if m:
        return {"op": "normbrand", "expr": _parse_expr(m.group(1))}
    m = re.match(r"^IsNull\[(.*)\]$", ex)
    if m:
        return {"op": "isnull", "expr": _parse_expr(m.group(1))}
    m = re.match(r"^Concat\[(.*)\]$", ex)
    if m:
        # split on top-level ';' only (quoted literals may contain ;)
        parts, depth, buf, inq = [], 0, "", False
        for c in m.group(1):
            if c == '"':
                inq = not inq
            depth += (c == "[") - (c == "]") if not inq else 0
            if c == ";" and depth == 0 and not inq:
                parts.append(buf)
                buf = ""
            else:
                buf += c
        parts.append(buf)
        return {"op": "concat", "exprs": [_parse_expr(p) for p in parts]}
    if re.match(r"^[A-Za-z]+\[", ex):
        raise ValueError(f"unsupported YAUAA function: {ex!r}")
    return {"op": "path", "steps": _parse_path(ex)}


def _eval_expr(expr, agent, variables, lookups):
    op = expr["op"]
    if op == "lit":
        return expr["value"]
    if op == "var":
        return variables.get(expr["name"])
    if op == "lookup":
        v = _eval_expr(expr["expr"], agent, variables, lookups)
        if v is None:
            return expr["default"]
        return lookups.get(expr["map"], {}).get(v.lower(), expr["default"])
    if op == "lookupprefix":
        # value of the LONGEST map key that prefixes the argument (the
        # documented LookUpPrefix semantics — device-brand files key on
        # model-number prefixes like "GT-", "SM-")
        v = _eval_expr(expr["expr"], agent, variables, lookups)
        if v is None:
            return expr["default"]
        lv = v.lower()
        best_key = None
        for k in lookups.get(expr["map"], {}):
            if lv.startswith(k) and (best_key is None or len(k) > len(best_key)):
                best_key = k
        if best_key is None:
            return expr["default"]
        return lookups[expr["map"]][best_key]
    if op == "clean":
        v = _eval_expr(expr["expr"], agent, variables, lookups)
        return v.replace("_", ".") if v is not None else None
    if op == "normbrand":
        # documented YAUAA brand normalization: short tokens (≤3 chars)
        # are brand acronyms and go fully uppercase (LG, HTC); longer
        # tokens get first-letter capitalization; -, _ and spaces all
        # delimit tokens and are preserved
        v = _eval_expr(expr["expr"], agent, variables, lookups)
        if v is None:
            return None
        out, tok = [], ""
        for ch in v + "\0":
            if ch in " -_\0":
                if tok:
                    out.append(tok.upper() if len(tok) <= 3
                               else tok[0].upper() + tok[1:].lower())
                    tok = ""
                if ch != "\0":
                    out.append(ch)
            else:
                tok += ch
        return "".join(out)
    if op == "concat":
        vs = [_eval_expr(e, agent, variables, lookups)
              for e in expr["exprs"]]
        # YAUAA Concat: every piece must resolve
        return "".join(vs) if all(v is not None for v in vs) else None
    nodes = _walk(agent, expr["steps"])
    return nodes[0].value if nodes else None


def _has_path(expr) -> bool:
    op = expr["op"]
    if op == "path":
        return True
    if op in ("lookup", "lookupprefix", "clean", "normbrand", "isnull"):
        return _has_path(expr["expr"])
    if op == "concat":
        return any(_has_path(e) for e in expr["exprs"])
    return False


def evaluate_matchers(ua: str, rules: dict) -> dict:
    """Run every matcher against one useragent; per extracted field the
    highest-confidence value wins (YAUAA's confidence semantics). A
    matcher only fires with at least one piece of PATH evidence — a
    resolved require, variable, or path-based extract — mirroring
    YAUAA's rule that a matcher cannot consist of fixed values alone
    (literal extracts ride along with the evidence, they are not
    evidence)."""
    agent = parse_ua_tree(ua)
    best: dict[str, tuple[int, str]] = {}
    for m in rules["matchers"]:
        variables = {}
        ok = True
        evidence = 0
        for name, ex in m["variable"]:
            v = _eval_expr(ex, agent, variables, rules["lookups"])
            if v is None:
                ok = False
                break
            variables[name] = v
            evidence += 1
        if not ok:
            continue
        for ex in m["require"]:
            if ex["op"] == "isnull":
                # negative require: passes when the inner expression does
                # NOT resolve; absence is not PATH evidence (a matcher
                # still needs at least one positive fact to fire)
                if _eval_expr(ex["expr"], agent, variables,
                              rules["lookups"]) is not None:
                    ok = False
                    break
                continue
            if _eval_expr(ex, agent, variables, rules["lookups"]) is None:
                ok = False
                break
            evidence += 1
        if not ok:
            continue
        resolved = []
        for field, conf, ex in m["extract"]:
            v = _eval_expr(ex, agent, variables, rules["lookups"])
            if v is None:
                continue
            if _has_path(ex):
                evidence += 1
            resolved.append((field, conf, v))
        if evidence == 0:
            continue
        for field, conf, v in resolved:
            if field not in best or conf > best[field][0]:
                best[field] = (conf, v)
    return {f: v for f, (c, v) in best.items()}


# ---------------------------------------------------------------------------
# the Spark operator (per-useragent cached walk, ua.py pattern)


_YAUAA_FIELD_MAP = {
    # matcher field -> yauaa_context JSON key
    "DeviceClass": "deviceClass",
    "DeviceName": "deviceName",
    "DeviceBrand": "deviceBrand",
    "OperatingSystemClass": "operatingSystemClass",
    "OperatingSystemName": "operatingSystemName",
    "OperatingSystemVersion": "operatingSystemVersion",
    "LayoutEngineClass": "layoutEngineClass",
    "LayoutEngineName": "layoutEngineName",
    "LayoutEngineVersion": "layoutEngineVersion",
    "AgentClass": "agentClass",
    "AgentName": "agentName",
    "AgentVersion": "agentVersion",
}


def yauaa_context_rules(df: DataFrame, rules: dict) -> DataFrame:
    """YAUAA context from a loaded YAUAA-format ruleset: run the matcher
    walk once per useragent per worker (``lookups.cached_lookup``) and
    attach the yauaa_context derived context (fields the rules don't set
    default to Unknown/??, YAUAA's own defaults)."""
    from pyspark.sql import types as T

    from .lookups import cached_lookup
    from .sql_enrichments import DERIVED_COL, ensure_derived

    df = ensure_derived(df)
    # YAUAA defaults: Unknown for classes/names, ?? for versions
    defaults = {f: "??" if f.endswith("Version") else "Unknown" for f in _YAUAA_FIELD_MAP}

    def classify(ua):
        got = evaluate_matchers(ua, rules)
        return tuple(got[f] if got.get(f) is not None else d for f, d in defaults.items())

    ctx_type = T.StructType(
        [T.StructField(k, T.StringType()) for k in _YAUAA_FIELD_MAP.values()])
    ctx = F.struct(
        F.lit("iglu:nl.basjes/yauaa_context/jsonschema/1-0-4").alias("schema"),
        F.to_json(cached_lookup(classify, ctx_type, [F.col("useragent")])).alias("data"),
    )
    return df.withColumn(
        DERIVED_COL,
        F.when(F.col("useragent").isNotNull(),
               F.array_append(F.col(DERIVED_COL), ctx))
        .otherwise(F.col(DERIVED_COL)),
    )
