"""Seeded DBpedia-shaped TTL corpus for the pipeline workloads.

Writes ``{root}/{lang}/{dataset}_{lang}.ttl`` (and, for the long-tail
shape, ``{root}/{lang}/{dataset}_en_uris_{lang}.ttl``) as plain N-Triples
lines, the layout ``plans.ingest.ingest`` discovers. The same seed gives
byte-identical files; a different seed changes the subject ids, the link
targets, the predicate popularity and the datatype mix, while every
row count stays fixed, so one shape does the same amount of work under
every seed.

While writing, the generator keeps what it needs to state the expected
output exactly: the rows per ingest dataset, the rows per transform
sink, and the infobox (lang, predicate) pairs the schema must list.
``Expected`` is derived from the generated rows by the transform's
documented rules (top-k per language with the ``en-*`` remap, majority
datatype per predicate, negative-date drop, distinct ``(node, lang)``
external ids and ``(node, lang, class)`` types), never by running the
program.
"""

from __future__ import annotations

import itertools
import os
import random
from collections import Counter
from dataclasses import dataclass, field

LABEL_P = "<http://www.w3.org/2000/01/rdf-schema#label>"
SUBJECT_P = "<http://purl.org/dc/terms/subject>"
SAME_AS_P = "<http://www.w3.org/2002/07/owl#sameAs>"
WIKILINK_P = "<http://dbpedia.org/ontology/wikiPageWikiLink>"
POINT_P = "<http://www.georss.org/georss/point>"
RDF_TYPE_P = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
PREF_LABEL_P = "<http://www.w3.org/2004/02/skos/core#prefLabel>"
BROADER_P = "<http://www.w3.org/2004/02/skos/core#broader>"
CONCEPT = "<http://www.w3.org/2004/02/skos/core#Concept>"

XSD_DATE = "<http://www.w3.org/2001/XMLSchema#date>"
XSD_DOUBLE = "<http://www.w3.org/2001/XMLSchema#double>"
XSD_INTEGER = "<http://www.w3.org/2001/XMLSchema#integer>"
XSD_STRING = "<http://www.w3.org/2001/XMLSchema#string>"
URI_TYPE = "<uri>"
#: a datatype the transform does not support: it is coerced to xsd:string
UNKNOWN_TYPE = "<http://dbpedia.org/datatype/squareKilometre>"
KINDS = (XSD_INTEGER, XSD_DOUBLE, XSD_DATE, XSD_STRING, URI_TYPE)

DATASETS = (
    "labels", "infobox_properties", "interlanguage_links", "page_links",
    "article_categories", "skos_categories", "geo_coordinates",
)
SINKS = DATASETS + ("external_ids", "types")
TOP_K = 100
N_CATEGORIES = 50


@dataclass(frozen=True)
class Shape:
    """One corpus shape. ``subjects`` is per language."""

    name: str
    langs: tuple[str, ...]
    subjects: int
    #: distinct infobox predicates per language
    predicates: int
    #: infobox rows per subject, for a Zipf shape
    infobox_per_subject: int
    #: Zipf-distributed infobox predicates; otherwise the fixed five of
    #: the repository's benchmark corpus generator
    zipf: bool
    en_uris: bool
    #: share of interlanguage links into a language outside the corpus
    foreign_links: float = 0.0


CORE = Shape("pipeline_core", ("de", "en", "vi"), 8_000, 5, 0, False, False)
LONGTAIL = Shape(
    "pipeline_longtail", ("de", "en", "es", "fr", "ja", "vi"), 1_600, 2_000, 4,
    True, True, foreign_links=0.1,
)
SHAPES = {s.name: s for s in (CORE, LONGTAIL)}


def host(lang: str) -> str:
    return "dbpedia.org" if lang == "en" else f"{lang}.dbpedia.org"


def res(lang: str, ident: int) -> str:
    return f"<http://{host(lang)}/resource/A{ident}>"


def cat(lang: str, ident: int) -> str:
    return f"<http://{host(lang)}/resource/Category:C{ident}>"


def prop(lang: str, name: str) -> str:
    return f"<http://{host(lang)}/property/{name}>"


def remap(lang: str) -> str:
    return "en" if "-" in lang else lang


@dataclass
class Expected:
    """What ingest and transform must produce for one generated corpus."""

    input_triples: int
    ingest: dict[str, int]
    sinks: dict[str, int]
    #: infobox (lang, predicate) pairs the schema lists, ``en-*`` remapped
    schema_infobox: set[tuple[str, str]]
    schema_lines: int

    @property
    def output_triples(self) -> int:
        return sum(self.sinks.values())


@dataclass
class _Acc:
    """Rows kept while writing, at the granularity the rules need."""

    ingest: Counter = field(default_factory=Counter)
    #: (s, p, t, negative_date, lang) per infobox row
    infobox: list = field(default_factory=list)
    #: (s, lang) of every URI endpoint except infobox's
    xid: set = field(default_factory=set)
    #: (s, lang, class) of every type row except infobox's
    types: set = field(default_factory=set)
    sinks: Counter = field(default_factory=Counter)


def _literal(rng: random.Random, t: str, lang: str, neg_share: float) -> tuple[str, bool]:
    """(object text, is negative date) for one infobox value of kind ``t``."""
    if t == XSD_INTEGER:
        return f'"{rng.randrange(1, 10**7)}"^^{XSD_INTEGER}', False
    if t == XSD_DOUBLE:
        return f'"{rng.randrange(1, 10**6) / 8}"^^{XSD_DOUBLE}', False
    if t == XSD_DATE:
        neg = rng.random() < neg_share
        year = rng.randrange(1, 2000)
        text = f"-{year:04d}" if neg else f"{year:04d}"
        return f'"{text}-0{rng.randrange(1, 10)}-1{rng.randrange(0, 10)}"^^{XSD_DATE}', neg
    # the string kind comes in the three spellings the transform folds
    # into xsd:string: a language-tagged literal, an unsupported
    # datatype and an explicit xsd:string
    k = rng.randrange(3)
    word = f"w{rng.randrange(10**6)}"
    if k == 0:
        return f'"{word} {lang}"@{lang}', False
    if k == 1:
        return f'"{rng.randrange(10**4)}"^^{UNKNOWN_TYPE}', False
    return f'"{word}"^^{XSD_STRING}', False


class _Writer:
    def __init__(self, root: str, acc: _Acc):
        self.root = root
        self.acc = acc

    def write(self, lang: str, dataset: str, triples: list[tuple[str, str, str]]) -> None:
        """``lang`` is the directory language; ``dataset`` may carry the
        ``_en_uris`` suffix. Counts go to the parent dataset."""
        path = os.path.join(self.root, lang, f"{dataset}_{lang}.ttl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(f"# started {dataset} {lang}\n")
            f.writelines(f"{s} {p} {o} .\n" for s, p, o in triples)
            f.write(f"# completed {dataset} {lang}\n")
        self.acc.ingest[dataset.replace("_en_uris", "")] += len(triples)


def _infobox_rows(rng: random.Random, shape: Shape, lang: str,
                  subjects: list[str], uri_pool: list[str],
                  ptypes: dict[str, str], cum_weights: list[float],
                  names: list[str]) -> list[tuple[str, str, str, str, bool]]:
    """(s, p, o, t, negative) infobox rows for one file; the predicates
    and literals are ``lang``'s."""
    rows = []
    if not shape.zipf:
        # name, pop (an eighth typed as string), area, leader every 2nd
        # subject, born every 3rd
        for i, s in enumerate(subjects):
            rows.append((s, prop(lang, "name"), f'"N{i} {lang}"@{lang}', XSD_STRING, False))
            pt = XSD_STRING if rng.random() < 0.125 else XSD_INTEGER
            o, _ = _literal(rng, pt, lang, 0)
            rows.append((s, prop(lang, "pop"), o, pt, False))
            o, _ = _literal(rng, XSD_DOUBLE, lang, 0)
            rows.append((s, prop(lang, "area"), o, XSD_DOUBLE, False))
            if i % 2 == 0:
                rows.append((s, prop(lang, "leader"), rng.choice(uri_pool), URI_TYPE, False))
            if i % 3 == 0:
                o, neg = _literal(rng, XSD_DATE, lang, 0.02)
                rows.append((s, prop(lang, "born"), o, XSD_DATE, neg))
        return rows
    for s in subjects:
        for name in rng.choices(names, cum_weights=cum_weights, k=shape.infobox_per_subject):
            t = ptypes[name]
            if rng.random() < 0.25:
                # mixed datatypes per predicate: a quarter of the rows
                # disagree with the predicate's usual type
                t = rng.choice(KINDS)
            if t == URI_TYPE:
                rows.append((s, prop(lang, name), rng.choice(uri_pool), t, False))
            else:
                o, neg = _literal(rng, t, lang, 0.02)
                rows.append((s, prop(lang, name), o, t, neg))
    return rows


def generate(root: str, shape: Shape, seed: int) -> Expected:
    """Write the corpus for ``shape`` under ``root``; returns what the
    pipelines must produce from it."""
    rng = random.Random(f"{shape.name}:{seed}")
    acc = _Acc()
    w = _Writer(root, acc)
    langs = shape.langs
    n = shape.subjects
    ids = {lang: rng.sample(range(20 * n), n) for lang in langs}
    subjects = {lang: [res(lang, i) for i in ids[lang]] for lang in langs}
    names = [f"p{j}" for j in range(shape.predicates)]
    # predicate popularity: a Zipf law over a per-seed, per-language
    # ranking of the predicate pool; each predicate has a usual datatype
    ptypes = {name: rng.choice(KINDS) for name in names}
    cum_weights = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(len(names))))
    outside = "pt"

    for li, lang in enumerate(langs):
        subs = subjects[lang]
        rank = names[:]
        rng.shuffle(rank)

        labels = [(s, LABEL_P, f'"Label {i} {lang}"@{lang}') for i, s in zip(ids[lang], subs)]
        w.write(lang, "labels", labels)
        acc.sinks["labels"] += len(labels)
        for s, _, _ in labels:
            acc.xid.add((s, lang))
            acc.types.add((s, lang, 0))

        ib = _infobox_rows(rng, shape, lang, subs, subs, ptypes, cum_weights, rank)
        w.write(lang, "infobox_properties", [(s, p, o) for s, p, o, _, _ in ib])
        acc.infobox.extend((s, p, t, neg, lang) for s, p, _, t, neg in ib)

        links = [(s, WIKILINK_P, rng.choice(subs)) for s in subs for _ in range(2)]
        w.write(lang, "page_links", links)
        acc.sinks["page_links"] += len(links)
        for s, _, o in links:
            acc.xid.update(((s, lang), (o, lang)))
            acc.types.add((s, lang, 0))

        other = langs[(li + 1) % len(langs)]
        inter = []
        for j, s in enumerate(subs):
            if rng.random() < shape.foreign_links:
                inter.append((s, SAME_AS_P, res(outside, ids[lang][j])))
            else:
                inter.append((s, SAME_AS_P, res(other, ids[other][j])))
        w.write(lang, "interlanguage_links", inter)
        for s, _, o in inter:
            if o.startswith(f"<http://{host(outside)}/"):
                continue
            acc.sinks["interlanguage_links"] += 1
            acc.xid.update(((s, lang), (o, lang)))
            acc.types.update(((s, lang, 0), (o, lang, 0)))

        cats = [(s, SUBJECT_P, cat(lang, rng.randrange(N_CATEGORIES))) for s in subs]
        w.write(lang, "article_categories", cats)
        acc.sinks["article_categories"] += len(cats)
        for s, _, o in cats:
            acc.xid.update(((s, lang), (o, lang)))
            acc.types.update(((s, lang, 0), (o, lang, 1)))

        skos = []
        for c in range(N_CATEGORIES):
            skos.append((cat(lang, c), RDF_TYPE_P, CONCEPT))
            skos.append((cat(lang, c), PREF_LABEL_P, f'"Cat {c} {lang}"@{lang}'))
            if c:
                skos.append((cat(lang, c), BROADER_P, cat(lang, rng.randrange(c))))
        w.write(lang, "skos_categories", skos)
        acc.sinks["skos_categories"] += len(skos)
        for s, p, o in skos:
            acc.xid.add((s, lang))
            acc.types.add((s, lang, 2))
            if p == BROADER_P:
                acc.xid.add((o, lang))

        geo = [
            (s, POINT_P, f'"{rng.randrange(-89, 90)}.5 {rng.randrange(-179, 180)}.25"')
            for s in subs[::2]
        ]
        w.write(lang, "geo_coordinates", geo)
        acc.sinks["geo_coordinates"] += len(geo)
        for s, _, _ in geo:
            acc.xid.add((s, lang))
            acc.types.add((s, lang, 0))

        if shape.en_uris and lang != "en":
            # English articles about this language's topics: en subjects,
            # written under the pseudo-language en-{lang} by ingest
            pl = f"en-{lang}"
            en_ids = rng.sample(ids["en"], n // 4)
            en_subs = [res("en", i) for i in en_ids]
            rows = [(s, LABEL_P, f'"Label {i} en"@en') for i, s in zip(en_ids, en_subs)]
            w.write(lang, "labels_en_uris", rows)
            acc.sinks["labels"] += len(rows)
            for s, _, _ in rows:
                acc.xid.add((s, pl))
                acc.types.add((s, pl, 0))
            en_rank = names[:]
            rng.shuffle(en_rank)
            ib = _infobox_rows(rng, shape, "en", en_subs, subjects["en"], ptypes,
                               cum_weights, en_rank)
            w.write(lang, "infobox_properties_en_uris", [(s, p, o) for s, p, o, _, _ in ib])
            acc.infobox.extend((s, p, t, neg, pl) for s, p, _, t, neg in ib)
            rows = [(s, SUBJECT_P, cat("en", rng.randrange(N_CATEGORIES))) for s in en_subs]
            w.write(lang, "article_categories_en_uris", rows)
            acc.sinks["article_categories"] += len(rows)
            for s, _, o in rows:
                acc.xid.update(((s, pl), (o, pl)))
                acc.types.update(((s, pl, 0), (o, pl, 1)))
    return _expect(acc)


def _expect(acc: _Acc) -> Expected:
    # top-k per real language by (count desc, predicate asc)
    per_lang: dict[str, Counter] = {}
    for _, p, _, _, lang in acc.infobox:
        if "-" not in lang:
            per_lang.setdefault(lang, Counter())[p] += 1
    topk = {
        (lang, p)
        for lang, c in per_lang.items()
        for p, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    }
    kept = [r for r in acc.infobox if (remap(r[4]), r[1]) in topk]
    # majority datatype per predicate over the kept rows, ties to the
    # smallest datatype string
    by_pt = Counter((p, t) for _, p, t, _, _ in kept)
    best: dict[str, tuple[int, str]] = {}
    for (p, t), c in by_pt.items():
        if p not in best or (-c, t) < (-best[p][0], best[p][1]):
            best[p] = (c, t)
    cleaned = [r for r in kept if best[r[1]][1] == r[2] and not (r[2] == XSD_DATE and r[3])]

    sinks = Counter(acc.sinks)
    sinks["infobox_properties"] = len(cleaned)
    xid = set(acc.xid)
    xid.update((s, lang) for s, _, _, _, lang in kept)
    xid.add((CONCEPT, "any"))
    sinks["external_ids"] = len(xid)
    types = set(acc.types)
    types.update((s, lang, 0) for s, _, _, _, lang in cleaned)
    sinks["types"] = len(types)
    schema_infobox = {(remap(lang), p) for _, p, _, _, lang in kept}
    n_static = 9
    return Expected(
        input_triples=sum(acc.ingest.values()),
        ingest=dict(acc.ingest),
        sinks={k: sinks[k] for k in SINKS},
        schema_infobox=schema_infobox,
        schema_lines=n_static + len(schema_infobox) + 1,
    )
