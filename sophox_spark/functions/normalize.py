"""Tag-key/value normalization — the reference's rewrite rules, re-derived.

Pins the exact semantics of /root/reference/osm2rdf/osmutils.py:13-65 and
osm2rdf.rs/src/utils.rs:71-179 (the two reference implementations agree;
our goldens assert the same grammar):

  * key validity: local name of ≤60 chars drawn from ``[-:0-9a-zA-Z_]``,
    not starting/ending with ``-`` or ``:`` → valid keys become
    ``osmt:{key}`` statements; invalid keys demote to ``osmm:badkey``
    (value = the raw key).
  * ``wikidata`` (and ``*:wikidata``) values: ``^Q[1-9][0-9]{0,18}$`` →
    a ``wd:`` IRI; ``Q1;Q2;…`` (``;``-separated, no whitespace —
    reWikidataMultiValue) → list of IRIs when every part matches;
    anything else stays a plain string.
  * ``wikipedia`` (and ``*:wikipedia``) values: ``lang:Title`` →
    ``https://{lang}.wikipedia.org/wiki/{quoted}`` with spaces→``_`` and
    percent-encoding using the custom safe set ``;@$!*(),/~:#-_.`` (the
    reference passes safe=';@$!*(),/~:#' to urllib.parse.quote, which
    additionally never encodes ``-_.~`` and alphanumerics).
  * ``created_by`` is dropped before any of the above
    (RdfHandler.py:38-47).

Everything here is batch-level: vectorized pandas string ops, with the
one Python call (urllib quote) applied to *unique* values only.
"""

from __future__ import annotations

import re
from urllib.parse import quote

import pandas as pd

KEY_RE = re.compile(r"^[0-9a-zA-Z_]([-:0-9a-zA-Z_]{0,58}[0-9a-zA-Z_])?$")
WIKIDATA_RE = re.compile(r"^Q[1-9][0-9]{0,18}$")
WIKIPEDIA_RE = re.compile(r"^([-a-z]+):(.+)$")
WIKIPEDIA_SAFE = ";@$!*(),/~:#"


def valid_keys(keys: pd.Series) -> pd.Series:
    """Boolean mask: which tag keys are valid local names."""
    return keys.astype("string").str.match(KEY_RE.pattern).fillna(False).astype(bool)


def wikidata_iris(values: pd.Series) -> pd.Series:
    """Value → list[str] of ``wd:`` IRIs, or None when not a clean Q-id
    (or Q-id list). Mirrors osmutils.py:49-53 exactly: multi-values are
    split on ``;`` with NO whitespace tolerance (reWikidataMultiValue
    rejects ``Q1; Q2``), same grammar as ttl.tag_statement."""

    def conv(v):
        if v is None:
            return None
        parts = str(v).split(";")
        if all(WIKIDATA_RE.match(p) for p in parts) and parts:
            return ["wd:" + p for p in parts]
        return None

    uniq = {v: conv(v) for v in values.dropna().unique()}
    return values.map(lambda v: uniq.get(v))


def wikipedia_urls(values: pd.Series) -> pd.Series:
    """``lang:Title`` → full wikipedia URL per the reference encoding
    (spaces→_, percent-quote with the custom safe set); None otherwise."""

    def conv(v):
        if v is None:
            return None
        m = WIKIPEDIA_RE.match(str(v))
        if not m:
            return None
        lang, title = m.group(1), m.group(2)
        return f"https://{lang}.wikipedia.org/wiki/" + quote(
            title.replace(" ", "_"), safe=WIKIPEDIA_SAFE
        )

    uniq = {v: conv(v) for v in values.dropna().unique()}
    return values.map(lambda v: uniq.get(v))


# polygon classification (osm-to-pgsql/wikidata.lua:4-25,80-84): a way is
# a polygon if it carries any of these keys, unless area=no; area=yes
# forces polygon.
POLYGON_KEYS = frozenset(
    {
        "aeroway", "amenity", "area", "building", "harbour", "historic",
        "landuse", "leisure", "man_made", "military", "natural", "office",
        "place", "power", "public_transport", "shop", "sport", "tourism",
        "water", "waterway", "wetland",
    }
)


def is_polygon_tags(tags: dict | None) -> bool:
    if not tags:
        return False
    area = tags.get("area")
    if area == "no":
        return False
    if area == "yes":
        return True
    return any(k in POLYGON_KEYS for k in tags)
