"""OSM-wiki description pages → normalized item rows (metabot's
DescriptionParser stage) + concept-item construction.

Mirrors the data logic of the reference's description-parsing pipeline:

* page-title classification — ``Key:``/``Tag:``/``Relation:`` pages
  with an optional language prefix or a language namespace
  (/root/reference/metabot/metabot/utils.py:180-213 ``parse_wiki_page_title``,
  consts.py:3-12 ``LANG_NS``);
* template-parameter normalization — synonym folding, ``*`` prefix
  strip, lang folding (``pt-br``→``pt``), wikidata id validation,
  status lower-casing, use-on yes/no/? gating, image sanitization,
  combination/implies/seealso/requires tag extraction
  (/root/reference/metabot/metabot/DescriptionParserItem.py:12-33
  ``templ_param_map``, :111-173 ``parse_template_param``,
  :225-258 ``parse_tag``);
* item-id extraction — key[=value] ids, Relation type ids, and the
  title-vs-params consistency check through the sitelink normalizer
  (DescriptionParserItem.py:260-291 ``id_extractor``, utils.py:78-79);
* the Deprecated template's restricted parameter set
  (DescriptionParserItem.py:74-76);
* cross-language claim merge by preference order (metabot
  ``lang_pick``, utils.py:130-131) — `merged_descriptions`;
* concept (Locale) item construction
  (/root/reference/metabot/metabot/ItemFromConcept.py:8-36) —
  `concept_items`.

The reference walks pages one-by-one through pywikibot; here the parse
runs vectorized over Arrow batches (one python crossing) and the merge
is native ``min_by``-over-language-rank expressions. Out-of-scope
(documented subset): the data-item-cache strid lookup, statuslink URL
resolution, and the relation ``members`` free-text grammar.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .wikipages import LANG_ORDER, _split_top_level, parse_template

# languages the engine recognizes in title prefixes (subset of the
# reference's 100+ entry list — consts.py:36-70)
LANGUAGES = frozenset(
    "en de fr es it nl ru ja cs pl pt fi sv da no hu uk zh ko ar tr".split()
)

# language wiki namespaces (consts.py:3-12; odd ns = talk pages)
LANG_NS = {
    "en": 0, "de": 200, "fr": 202, "es": 204,
    "it": 206, "nl": 208, "ru": 210, "ja": 212,
}
_NS_LANG = {v: k for k, v in LANG_NS.items()}

# parameter synonyms (DescriptionParserItem.py:12-30)
TEMPL_PARAM_MAP = {
    "descrizione": "description",
    "leírás": "description",
    "описание": "description",
    "descrição": "description",
    "descripción": "description",
    "descrition": "description",
    "groupe": "group",
    "gruppo": "group",
    "gruppe": "group",
    "csoport": "group",
    "required": "requires",
    "polska nazwa": "nativekey",
    "combinazioni": "combination",
    "combinations": "combination",
    "language": "lang",
    "wikdata": "wikidata",
    "siehe auch": "seealso",
}

# lower-cased images never to add (DescriptionParserItem.py:33)
BAD_IMAGES = ("osm element key.svg", "mf key.svg", "none yet.jpg",
              "fi none yet.jpg")

_PASSTHROUGH = frozenset(
    "key value oldkey oldvalue newtext type label nativekey nativevalue "
    "group groups category description osmcarto-rendering-size "
    "image_caption website displayname proposal".split()
)
_ON_KEYS = frozenset(
    "onnode onarea onway onrelation onclosedway onchangeset".split()
)
_LIST_KEYS = frozenset("combination implies seealso requires".split())
_IGNORED = frozenset("languagelinks float debug dir rtl members".split())

_RE_WIKIDATA = re.compile(r"^(Q|Property:P)[1-9][0-9]{0,11}$")
_GOOD_VALUE = re.compile(r"^[a-zA-Z0-9]+([-: _.][a-zA-Z0-9]+)*:?$")
_KEYS_RE = re.compile(r"^(Key|Tag|Relation):(.+)$", re.IGNORECASE)

# free-text links like [[Relation:route|route]] inside combination
# lists (utils.py:123 re_tag_link, optional language prefix)
_RE_TAG_LINK = re.compile(
    r"\[\[(?:(" + "|".join(sorted(LANGUAGES)) + r"):)?"
    r"(Key|Tag|Relation):([^|\]]+)(?:\|([^|\]]+))?\]\]",
    re.IGNORECASE,
)

_DESCRIPTION_TEMPLATES = (
    "keydescription", "template:keydescription", "pl:keydescription",
    "valuedescription", "template:valuedescription", "pl:valuedescription",
    "deprecated", "relationdescription", "template:relationdescription",
)


def sitelink_normalizer(strid: str, prefix: str = "") -> str:
    """utils.py:78-79 — underscores to spaces, trimmed."""
    return (prefix + strid).replace("_", " ").strip()


def parse_page_title(ns: int, title: str) -> tuple:
    """(type_from_title, lang, id_from_title, has_suspect_lang) —
    utils.py:186-213. The language comes from the page namespace
    (LANG_NS, talk namespaces fold to their subject ns) or, on the
    main namespace, from a known ``xx:Key:...`` prefix."""
    type_from_title: str | bool = False
    id_from_title: str | bool = False
    suspect = False
    primens = ns - ns % 2
    lang = _NS_LANG.get(primens, "en")
    t = title if ns == 0 else title.split(":", 1)[1]
    m = _KEYS_RE.match(t)
    if m:
        type_from_title = m.group(1).capitalize()
        id_from_title = m.group(2)
    elif primens == 0:
        parts = t.split(":", 2)
        if len(parts) == 3 and parts[1].capitalize() in ("Key", "Tag", "Relation"):
            if parts[0].lower() in LANGUAGES:
                lang = parts[0].lower()
                type_from_title = parts[1].capitalize()
                id_from_title = parts[2]
            elif parts[0].lower() not in ("translation",):
                suspect = True
    return type_from_title, lang, id_from_title, suspect


def _extract_templates(text: str) -> list[tuple[str, dict]]:
    """All top-level ``{{name|...}}`` occurrences → (name, params) —
    the textlib.extract_templates_and_params subset the combination
    values use."""
    out = []
    i, n = 0, len(text)
    while i < n - 1:
        if text[i : i + 2] != "{{":
            i += 1
            continue
        depth, j = 1, i + 2
        while j < n - 1:
            two = text[j : j + 2]
            if two == "{{":
                depth += 1
                j += 2
            elif two == "}}":
                depth -= 1
                if depth == 0:
                    break
                j += 2
            else:
                j += 1
        if depth != 0:
            break
        inner = text[i + 2 : j]
        parts = _split_top_level(inner)
        name = parts[0].strip()
        params: dict[str, str] = {}
        pos = 0
        for p in parts[1:]:
            if "=" in p:
                k, _, v = p.partition("=")
                params[k.strip()] = v.strip()
            else:
                pos += 1
                params[str(pos)] = p.strip()
        out.append((name, params))
        i = j + 2
    return out


def _parse_tag_template(name: str, params: dict, messages: list) -> list:
    """{{Tag|k|v}} / {{Key|k}} → ('Tag', 'k=v') / ('Key', 'k') items —
    DescriptionParserItem.py:225-258 incl. subkey composition and
    ``/``- or ``;``-separated multi-values."""
    name = name.lower()
    if ":" in name:
        prefix, name = name.split(":", 1)
        if prefix not in LANGUAGES:
            messages.append(f'Bad Tag value "{prefix}:{name}" (unknown prefix)')
            return []
    if name not in ("tag", "key", "tagkey", "tagvalue"):
        return []
    key = params.get("1", "").strip()
    for sub in ("subkey", ":", "::", ":::"):
        if sub in params:
            key += ":" + params[sub].strip()
    value = params.get("2", "").strip()
    if value == "" and "3" in params and params["3"].strip() == "yes":
        value = "yes"
    items = []
    for val in re.split(r"[/;]+", value):
        val = val.strip()
        if val and not _GOOD_VALUE.match(val):
            # reference (DescriptionParserItem.py:251-255) logs but
            # STILL yields the item — mirror that
            messages.append(f"Bad Tag val {val}")
        if _GOOD_VALUE.match(key):
            items.append(("Tag", f"{key}={val}") if val else ("Key", key))
    return items


def normalize_params(template: str, params: dict, messages: list) -> dict:
    """Template params → normalized result dict
    (DescriptionParserItem.py:74-86 gating + :111-173 per-key rules).
    List-valued keys (combination/...) become ``;``-joined
    ``Type item`` strings plus a ``<key>!text`` raw copy."""
    template = template.lower()
    result: dict[str, str] = {}

    def setter(key, value):
        if key in result and result[key] != value:
            messages.append(f"Key {key} is already set to {result[key]}")
            return
        result[key] = value

    for tkey, tval in params.items():
        tkey = tkey.lower()
        tval = (tval or "").strip()
        if not tval:
            continue
        if template == "deprecated" and tkey not in ("oldkey", "oldvalue", "newtext"):
            continue
        tkey = TEMPL_PARAM_MAP.get(tkey, tkey)
        if tval.startswith("*"):
            tval = tval[1:].strip()
        if tkey in _PASSTHROUGH:
            setter(tkey, tval)
        elif tkey == "lang":
            v = tval.lower()
            setter(tkey, "pt" if v == "pt-br" else v)
        elif tkey == "wikidata":
            if _RE_WIKIDATA.match(tval):
                setter(tkey, tval)
            else:
                messages.append(f"Bad wikidata {tval}")
        elif tkey == "status":
            setter(tkey, tval.lower())
        elif tkey in _ON_KEYS:
            v = tval.lower()
            if v in ("yes", "no"):
                setter(tkey, v)
            elif v != "?":
                messages.append(f"Unrecognized {tkey}={tval}")
        elif tkey in ("image", "osmcarto-rendering"):
            low = tval.lower()
            if any(b in low for b in BAD_IMAGES):
                messages.append(f'image="{tval}" is not a valid image')
            else:
                for pref in ("Image:", "image:", "file:"):
                    if tval.startswith(pref):
                        tval = "File:" + tval[len(pref):]
                        break
                setter(tkey, tval)
        elif tkey in _LIST_KEYS:
            items: list = []
            for name, tparams in _extract_templates(tval):
                items.extend(_parse_tag_template(name, tparams, messages))
            # free-text [[Relation:...]] links (parse_combinations,
            # DescriptionParserItem.py:184-191): Relation links become
            # items; Key/Tag links are only logged by the reference
            for _lang, typ, lnk, _freetext in _RE_TAG_LINK.findall(tval):
                if typ.lower() == "relation":
                    items.append(("Relation", lnk))
                else:
                    messages.append(
                        f"Parsed link in {tkey} is unrecognized: "
                        f"{typ}:{lnk}"
                    )
            if items:
                setter(tkey, ";".join(f"{t} {i}" for t, i in items))
                setter(tkey + "!text", tval)
        elif tkey in _IGNORED:
            pass
        else:
            pass  # unknown params are info-level in the reference
    return result


def id_extractor(type_from_title, id_from_title, result: dict,
                 messages: list):
    """DescriptionParserItem.py:260-291 minus the data-item-cache
    lookup (absent params fall back to the title id directly)."""
    item_key = result.get("key") or result.get("oldkey") or False
    if type_from_title == "Relation":
        if "type" in result:
            return result["type"]
        if result.get("oldkey") == "type" and "oldvalue" in result:
            return result["oldvalue"]
        return False
    item_id = False
    if item_key:
        item_id = item_key
        item_value = result.get("value") or result.get("oldvalue") or False
        if item_value and type_from_title == "Tag":
            item_id += "=" + item_value
    if id_from_title and item_id and item_id != id_from_title:
        if sitelink_normalizer(item_id) != sitelink_normalizer(id_from_title):
            messages.append(
                f"Item keys don't match: {item_id} vs {id_from_title}"
            )
            return False
        return item_id
    return item_id or id_from_title or False


def parse_description_page(ns: int, title: str, wikitext: str) -> dict | None:
    """One page → parsed item dict or None (DescriptionParser.py:25-37 +
    DescriptionParserItem.parse). Talk pages (odd ns) and user pages
    (ns 2) are skipped like the reference's ``ns % 2 != 1 and ns != 2``
    gate."""
    if ns % 2 == 1 or ns == 2:
        return None
    found = None
    for tname in _DESCRIPTION_TEMPLATES:
        params = parse_template(wikitext, (tname,))
        if params is not None:
            found = (tname, params)
            break
    if found is None:
        return None
    template, params = found
    for pref in ("template:", "pl:"):  # fold name variants to canonical
        if template.startswith(pref):
            template = template[len(pref):]
    type_from_title, lang, id_from_title, _suspect = parse_page_title(ns, title)
    messages: list[str] = []
    result = normalize_params(template, params, messages)
    if not result:
        return None
    if not type_from_title:
        type_from_title = {
            "keydescription": "Key",
            "valuedescription": "Tag",
            "relationdescription": "Relation",
        }.get(template)
        if not type_from_title:
            return None
    if "lang" in result and lang != result["lang"]:
        messages.append(
            f"Title language {lang} does not match lang={result['lang']}"
        )
        if lang == "en":
            lang = result["lang"]
    str_id = id_extractor(type_from_title, id_from_title, result, messages)
    return {
        "type": type_from_title,
        "str_id": str_id if str_id else None,
        "lang": lang,
        "ns": ns,
        "full_title": title,
        "template": template,
        "params": result,
        "messages": messages,
    }


_ITEMS_SCHEMA = (
    "ns long, full_title string, type string, str_id string, lang string, "
    "template string, params map<string,string>, messages array<string>"
)


def description_items(
    pages_df: DataFrame,
    ns_col: str = "ns",
    title_col: str = "title",
    text_col: str = "wikitext",
) -> DataFrame:
    """Pages (ns, title, wikitext) → one parsed item row per page with
    a description template; pages without one drop out (the
    WikiPagesWithTemplate filter). One Arrow crossing, page-parallel."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for ns, title, text in zip(
                pdf[ns_col], pdf[title_col], pdf[text_col]
            ):
                r = parse_description_page(int(ns), str(title), str(text))
                if r:
                    rows.append(
                        (r["ns"], r["full_title"], r["type"], r["str_id"],
                         r["lang"], r["template"], r["params"], r["messages"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["ns", "full_title", "type", "str_id", "lang",
                         "template", "params", "messages"],
            )

    return pages_df.mapInPandas(gen, _ITEMS_SCHEMA)


def merged_descriptions(
    items_df: DataFrame, lang_order: tuple[str, ...] = LANG_ORDER
) -> DataFrame:
    """Per (type, str_id): cross-language merge by preference rank —
    description/status/wikidata from the most-preferred language that
    bound them (lang_pick semantics: en first, then the order list,
    unknown languages last alphabetically); use-on booleans OR across
    languages. All native expressions over the parsed map column."""
    p = F.col("params")
    rank = F.coalesce(
        *[F.when(F.col("lang") == lang, F.lit(i))
          for i, lang in enumerate(lang_order)],
        F.lit(len(lang_order)),
    )
    lrank = F.concat(F.lpad(rank.cast("string"), 3, "0"), F.lit(":"),
                     F.col("lang"))
    base = items_df.filter(F.col("str_id").isNotNull()).select(
        "type", "str_id", "lang",
        lrank.alias("__lrank"),
        p.getItem("description").alias("__desc"),
        p.getItem("status").alias("__status"),
        p.getItem("wikidata").alias("__wd"),
        (p.getItem("onnode") == "yes").alias("__on_node"),
        (p.getItem("onway") == "yes").alias("__on_way"),
        (p.getItem("onarea") == "yes").alias("__on_area"),
        (p.getItem("onrelation") == "yes").alias("__on_rel"),
    )

    def pick(col):
        # min_by over languages WHERE the claim is bound (a preferred
        # page without the param must not shadow a less-preferred page
        # that has it — the reference merges per-claim, not per-page)
        return F.min_by(col, F.when(col.isNotNull(), F.col("__lrank")))

    return base.groupBy("type", "str_id").agg(
        pick(F.col("__desc")).alias("description"),
        F.min_by("lang", F.when(F.col("__desc").isNotNull(),
                                F.col("__lrank"))).alias("description_lang"),
        pick(F.col("__status")).alias("status"),
        pick(F.col("__wd")).alias("wikidata"),
        F.max("__on_node").alias("on_node"),
        F.max("__on_way").alias("on_way"),
        F.max("__on_area").alias("on_area"),
        F.max("__on_rel").alias("on_relation"),
        F.count("*").alias("n_pages"),
    )


Q_LOCALE_INSTANCE = "Q6999"  # consts.py:32
P_INSTANCE_OF = "P2"         # Properties.py:170
P_LANG_CODE = "P32"          # Properties.py:201


def concept_items(
    concepts_df: DataFrame,
    lang_code_col: str = "lang_code",
    lang_name_col: str = "lang_name",
    label_en_col: str | None = None,
) -> DataFrame:
    """Locale concept → item header + claims
    (ItemFromConcept.py:8-36): every locale gets instance-of Q6999 and
    a lang-code claim, the ``Locale:xx`` sitelink, and — when no
    existing item supplied its labels (``label_en_col``) — the
    synthesized English label/description pair."""
    code = F.col(lang_code_col)
    name = F.col(lang_name_col)
    existing = F.col(label_en_col) if label_en_col else F.lit(None).cast("string")
    return concepts_df.select(
        code.alias("lang_code"),
        F.lit(P_INSTANCE_OF).alias("instance_of_prop"),
        F.lit(Q_LOCALE_INSTANCE).alias("instance_of"),
        F.lit(P_LANG_CODE).alias("lang_code_prop"),
        F.concat(F.lit("Locale:"), F.regexp_replace(code, "_", " ")).alias(
            "sitelink"
        ),
        F.coalesce(existing, F.concat(name, F.lit("-speaking region"))).alias(
            "label_en"
        ),
        F.when(existing.isNotNull(), F.lit(None).cast("string")).otherwise(
            F.concat(
                F.lit("This region includes "), name,
                F.lit("-speaking countries to document the difference in"
                      " rules. Use it with P26 qualifier."),
            )
        ).alias("description_en"),
    )
