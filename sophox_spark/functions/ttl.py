"""Typed-literal TTL statement grammar — reference-fixture compat layer.

Re-derives (does NOT copy) the statement grammar the reference
implements twice — Python /root/reference/osm2rdf/osmutils.py:107-132 +
utils.py:23-24,90-98 and Rust osm2rdf.rs/src/utils.rs:19-154 — so our
Spark conversion output is byte-identical to what the reference's two
engines agree on:

  Bool   k + ' "true|false"^^xsd:boolean'
  Date   k + ' "%Y-%m-%dT%H:%M:%SZ"^^xsd:dateTime'
  Int    k + ' "' + str(v) + '"^^xsd:integer'
  Ref    k + ' ' + v                       (raw prefixed IRI)
  Str    k + ' ' + json.dumps(v, ensure_ascii=False)
  Tag    badkey → 'osmm:badkey ' + Str(key)
         key contains 'wikidata' and value matches ^Q[1-9][0-9]{0,18}$
           (or the ;-joined multi form) → 'osmt:'+key+' wd:Q…[,wd:Q…]'
         key contains 'wikipedia' and value matches ^([-a-z]+):(.+)$ →
           'osmt:'+key+' <https://LANG.wikipedia.org/wiki/TITLE>' with
           spaces→_ and quote(safe=';@$!*(),/~:#')
         otherwise 'osmt:'+key+' '+Str(value)
  Point  k + ' "Point(' + str(x) + ' ' + str(y) + ')"^^geo:wktLiteral'
         (str() = Python float repr — both reference impls print the
         shortest round-trip representation)
  loc:error → Str statement 'osmm:loc:error' with the error message

Subjects are osmnode:/osmway:/osmrel:{id}; Turtle blocks are
``subject\\n stmt;\\n …\\n stmt.\\n\\n`` with the @prefix header and a
``osmroot: schema:dateModified`` footer (RdfFileHandler.py:25-46).

Functions below are pandas-Series-vectorized (unique-value maps for the
regex-heavy rewrites) for use inside Arrow batches.
"""

from __future__ import annotations

import json
import re
from urllib.parse import quote

import pandas as pd

from .normalize import KEY_RE

WIKIDATA_VALUE_RE = re.compile(r"^Q[1-9][0-9]{0,18}$")
WIKIDATA_MULTI_RE = re.compile(r"^Q[1-9][0-9]{0,18}(;Q[1-9][0-9]{0,18})+$")
WIKIPEDIA_VALUE_RE = re.compile(r"^([-a-z]+):(.+)$")

PREFIXES = [
    "prefix wd: <http://www.wikidata.org/entity/>",
    "prefix xsd: <http://www.w3.org/2001/XMLSchema#>",
    "prefix geo: <http://www.opengis.net/ont/geosparql#>",
    "prefix schema: <http://schema.org/>",
    "prefix osmroot: <https://www.openstreetmap.org>",
    "prefix osmnode: <https://www.openstreetmap.org/node/>",
    "prefix osmway: <https://www.openstreetmap.org/way/>",
    "prefix osmrel: <https://www.openstreetmap.org/relation/>",
    "prefix osmt: <https://wiki.openstreetmap.org/wiki/Key:>",
    "prefix osmm: <https://www.openstreetmap.org/meta/>",
]


def file_header() -> str:
    return "\n".join("@" + p + " ." for p in PREFIXES) + "\n\n"


def stringify(v: str) -> str:
    return json.dumps(v, ensure_ascii=False)


def xsd_date(dt) -> str:
    return f'"{dt:%Y-%m-%dT%H:%M:%S}Z"^^xsd:dateTime'


def tag_statement(key: str, value: str) -> str:
    if not KEY_RE.match(key):
        return "osmm:badkey " + stringify(key)
    val = None
    if "wikidata" in key:
        if WIKIDATA_VALUE_RE.match(value):
            val = "wd:" + value
        elif WIKIDATA_MULTI_RE.match(value):
            val = ",".join("wd:" + v for v in value.split(";"))
    elif "wikipedia" in key:
        m = WIKIPEDIA_VALUE_RE.match(value)
        if m:
            val = (
                "<https://" + m.group(1) + ".wikipedia.org/wiki/"
                + quote(m.group(2).replace(" ", "_"), safe=";@$!*(),/~:#") + ">"
            )
    if val is None:
        return "osmt:" + key + " " + stringify(value)
    return "osmt:" + key + " " + val


def tag_statements(keys: pd.Series, values: pd.Series) -> pd.Series:
    """Vectorized over unique (key, value) pairs."""
    pairs = pd.Series(zip(keys, values), index=keys.index)
    uniq = {p: tag_statement(p[0], p[1]) for p in set(pairs)}
    return pairs.map(uniq)


def point_statement(pred: str, x: float, y: float) -> str:
    return pred + ' "Point(' + str(x) + " " + str(y) + ')"^^geo:wktLiteral'


def point_statements(pred: str, xs: pd.Series, ys: pd.Series) -> pd.Series:
    return pd.Series(
        [point_statement(pred, x, y) for x, y in zip(xs, ys)], index=xs.index
    )


def loc_error_statement(msg: str = "Unable to parse location data") -> str:
    return "osmm:loc:error " + stringify(msg)


def str_statements(pred: str, values: pd.Series) -> pd.Series:
    uniq = {v: pred + " " + stringify(v) for v in values.dropna().unique()}
    return values.map(uniq)


def turtle_block(subject: str, statements: list[str]) -> str:
    """One element → one Turtle block, byte-identical to
    RdfFileHandler.write_file (osm-NNNNNN.ttl.gz body lines)."""
    return subject + "\n" + ";\n".join(statements) + ".\n\n"


def footer(last_timestamp) -> str:
    return f"\nosmroot: schema:dateModified {xsd_date(last_timestamp)} ."
