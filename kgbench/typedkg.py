"""Seeded typed-KG generator for the assess and append workloads.

One process, no Spark. ``generate(n_entities, seed)`` returns the data
triples, the Turtle OWL vocabulary and the VoID description as text, plus
the expected DQA measure of every checked (metric, item) shape.

The vocabulary covers the functional, inverse-functional, irreflexive and
asymmetric characteristics, class domain and range, a datatype range,
``owl:disjointWith``, ``rdfs:subClassOf``, a deprecated class and a
deprecated property, and labels. The data plants violations of those
constraints, and of the entity-scoped shapes, at seeded rates.

The expected measures are computed here, from the generated triples, by
the rules of the reference SHACL shapes: a count metric scores
``1 - |distinct focus nodes| / denominator`` (1.0 when nothing violates),
a binary metric scores 0 on any violation. Nothing here calls the engine.
"""

from __future__ import annotations

import random
import re
from collections import defaultdict
from dataclasses import dataclass

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"
VOID = "http://rdfs.org/ns/void#"
DCT = "http://purl.org/dc/terms/"

RDF_TYPE = f"{RDF}type"
RDFS_LABEL = f"{RDFS}label"
OWL_SAME_AS = f"{OWL}sameAs"

ONTO = "http://bench.example.org/onto#"
BASE = "http://bench.example.org/r/"          # --base-uri and void:uriSpace
ELSEWHERE = "http://elsewhere.example.org/r/"  # outside the URI space
EXTERNAL = "http://dbpedia.example.net/resource/"

A, A1, B, C, D, OLD = (f"{ONTO}{n}" for n in ("A", "A1", "B", "C", "D", "OldThing"))
LINKS_TO, PART_OF, CODE, CREATED, OLD_PROP = (
    f"{ONTO}{n}" for n in ("linksTo", "partOf", "code", "created", "oldProp"))
URIS_MAX_LENGTH = 80

# planted-violation rates (per entity unless noted)
RATES = {
    "untyped": 0.02,        # subject without rdf:type (not an entity)
    "no_label": 0.05,
    "plain_label": 0.04,    # label without a language tag
    "no_same_as": 0.10,
    "internal_same_as": 0.03,
    "long_iri": 0.01,
    "param_iri": 0.01,
    "hash_iri": 0.01,
    "foreign_iri": 0.02,
    "disjoint": 0.01,       # typed A (or A1) and B
    "deprecated_class": 0.005,
    "deprecated_prop": 0.01,
    "bad_domain": 0.03,     # a C entity that uses linksTo
    "bad_range": 0.04,      # linksTo a non-B object
    "literal_link": 0.01,   # linksTo with a literal object
    "self_part": 0.01,      # partOf itself
    "mutual_part": 0.02,    # per pair (2k, 2k+1): partOf each other
    "second_code": 0.01,
    "shared_code": 0.005,
    "malformed_date": 0.02,
    "wrong_dtype": 0.01,
    "iri_date": 0.005,
}


@dataclass
class Triple:
    s: str
    p: str
    o: str
    kind: str = "iri"           # iri | literal
    dtype: str | None = None
    lang: str | None = None

    def nt(self) -> str:
        if self.kind == "iri":
            obj = f"<{self.o}>"
        elif self.lang:
            obj = f'"{self.o}"@{self.lang}'
        elif self.dtype:
            obj = f'"{self.o}"^^<{self.dtype}>'
        else:
            obj = f'"{self.o}"'
        return f"<{self.s}> <{self.p}> {obj} .\n"


@dataclass
class TypedKG:
    triples: list[Triple]
    vocab_ttl: str
    void_ttl: str


def _rng(seed: int, *key) -> random.Random:
    return random.Random(f"{seed}:" + ":".join(map(str, key)))


def entity_class(seed: int, i: int) -> str | None:
    r = _rng(seed, "class", i).random()
    if r < RATES["untyped"]:
        return None
    if r < RATES["untyped"] + RATES["deprecated_class"]:
        return OLD
    return (A, A, A1, B, B, B, C, C)[_rng(seed, "cls", i).randrange(8)]


def entity_iri(seed: int, i: int) -> str:
    r = _rng(seed, "iri", i).random()
    cut = 0.0
    for kind in ("long_iri", "param_iri", "hash_iri", "foreign_iri"):
        cut += RATES[kind]
        if r < cut:
            return {
                "long_iri": f"{BASE}e{i}/" + "segment" * 9,
                "param_iri": f"{BASE}e{i}?rev=2",
                "hash_iri": f"{BASE}e{i}#it",
                "foreign_iri": f"{ELSEWHERE}e{i}",
            }[kind]
    return f"{BASE}e{i}"


def _entity_triples(seed: int, i: int, n: int) -> list[Triple]:
    rng = _rng(seed, "ent", i)

    def hit(rate: str) -> bool:
        return rng.random() < RATES[rate]

    s = entity_iri(seed, i)
    cls = entity_class(seed, i)
    out: list[Triple] = []
    if cls is not None:
        out.append(Triple(s, RDF_TYPE, cls))
        if cls in (A, A1) and hit("disjoint"):
            out.append(Triple(s, RDF_TYPE, B))
    no_label, plain = hit("no_label"), hit("plain_label")
    if not no_label:
        out.append(Triple(s, RDFS_LABEL, f"Entity {i}", "literal",
                          lang=None if plain else "en"))
    no_same, internal = hit("no_same_as"), hit("internal_same_as")
    if not no_same:
        target = f"{BASE}e{(i + 1) % n}" if internal else f"{EXTERNAL}x{i}"
        out.append(Triple(s, OWL_SAME_AS, target))

    # linksTo: domain A (A1 by subclass), range B
    bad_dom = cls == C and hit("bad_domain")
    if cls in (A, A1) or bad_dom:
        if hit("literal_link"):
            out.append(Triple(s, LINKS_TO, f"target {i}", "literal"))
        else:
            want_b = not hit("bad_range")
            for _ in range(20):
                j = rng.randrange(n)
                if (entity_class(seed, j) == B) == want_b:
                    break
            out.append(Triple(s, LINKS_TO, entity_iri(seed, j)))

    # partOf: irreflexive + asymmetric
    pair = i // 2
    partner = i ^ 1
    if partner < n and _rng(seed, "mutual", pair).random() < RATES["mutual_part"]:
        out.append(Triple(s, PART_OF, entity_iri(seed, partner)))
    elif hit("self_part"):
        out.append(Triple(s, PART_OF, s))
    elif rng.random() < 0.5:
        out.append(Triple(s, PART_OF, entity_iri(seed, rng.randrange(n))))

    # code: functional + inverse-functional, range xsd:string
    shared = hit("shared_code") and i > 0
    out.append(Triple(s, CODE, f"K{i - 1 if shared else i}", "literal"))
    if hit("second_code"):
        out.append(Triple(s, CODE, f"K{i}-b", "literal"))

    # created: range xsd:date
    y, m, d = 1990 + rng.randrange(30), 1 + rng.randrange(12), 1 + rng.randrange(28)
    if hit("malformed_date"):
        out.append(Triple(s, CREATED, f"{y:04d}-{m + 12:02d}-{d:02d}",
                          "literal", dtype=f"{XSD}date"))
    elif hit("wrong_dtype"):
        out.append(Triple(s, CREATED, f"{y:04d}", "literal", dtype=f"{XSD}gYear"))
    elif hit("iri_date"):
        out.append(Triple(s, CREATED, f"http://bench.example.org/date/{y}"))
    else:
        out.append(Triple(s, CREATED, f"{y:04d}-{m:02d}-{d:02d}",
                          "literal", dtype=f"{XSD}date"))
    if hit("deprecated_prop"):
        out.append(Triple(s, OLD_PROP, f"legacy {i}", "literal"))
    return out


VOCAB_TTL = f"""@prefix : <{ONTO}> .
@prefix owl: <{OWL}> .
@prefix rdfs: <{RDFS}> .
@prefix xsd: <{XSD}> .

:A a owl:Class ; rdfs:label "A"@en .
:A1 a owl:Class ; rdfs:subClassOf :A ; rdfs:label "A1"@en .
:B a owl:Class ; owl:disjointWith :A ; rdfs:label "B"@en .
:C a owl:Class ; rdfs:label "C"@en .
:D a owl:Class ; rdfs:label "D"@en .
:OldThing a owl:DeprecatedClass ; rdfs:label "old thing"@en .
:linksTo a owl:ObjectProperty ; rdfs:domain :A ; rdfs:range :B ;
    rdfs:label "links to"@en .
:partOf a owl:ObjectProperty , owl:IrreflexiveProperty , owl:AsymmetricProperty ;
    rdfs:label "part of"@en .
:code a owl:DatatypeProperty , owl:FunctionalProperty ,
        owl:InverseFunctionalProperty ;
    rdfs:range xsd:string ; rdfs:label "code"@en .
:created a owl:DatatypeProperty ; rdfs:range xsd:date ; rdfs:label "created"@en .
:oldProp a owl:DatatypeProperty ; owl:deprecated true ; rdfs:label "old"@en .
"""

VOID_TTL = f"""@prefix void: <{VOID}> .
@prefix dcterms: <{DCT}> .
@prefix rdfs: <{RDFS}> .

<http://bench.example.org/dataset> a void:Dataset ;
    rdfs:label "generated typed KG"@en ;
    dcterms:license <http://creativecommons.org/licenses/by/4.0/> ;
    void:dataDump <http://bench.example.org/dump.nt> ;
    void:uriSpace "{BASE}" ;
    void:vocabulary <{ONTO}> .
"""

_DATE = re.compile(r"^-?([1-9][0-9]{3,}|0[0-9]{3})-(0[1-9]|1[0-2])"
                   r"-(0[1-9]|[12][0-9]|3[01])$")


def _measure(n_bad: int, denom: int) -> float:
    if n_bad == 0:
        return 1.0
    return max(0.0, 1.0 - n_bad / denom) if denom else 1.0


def expected_measures(triples: list[Triple], with_void: bool) -> tuple[dict, dict]:
    """(metric, item) → measure, and metric → instantiated items, computed
    from the triples by the shape rules. ``with_void`` adds the
    URISpaceComplianceEntities shape that the VoID ``void:uriSpace``
    enables (batch ``dqa`` only; ``dqa-append`` reads no metadata)."""
    by_p: dict[str, list[Triple]] = defaultdict(list)
    types: dict[str, set[str]] = defaultdict(set)
    for t in triples:
        by_p[t.p].append(t)
        if t.p == RDF_TYPE:
            types[t.s].add(t.o)
    ancestors = {A1: {A}}
    ext = {s: cs | set().union(*(ancestors.get(c, set()) for c in cs))
           for s, cs in types.items()}
    entities = set(types)
    n_ent = len(entities)
    spp = defaultdict(int, {p: len({t.s for t in ts}) for p, ts in by_p.items()})
    epc = defaultdict(int)
    for cs in types.values():
        for c in cs:
            epc[c] += 1

    def subjects(p, cond):
        return {t.s for t in by_p[p] if cond(t)}

    ex: dict[tuple, float] = {}
    fam: dict[str, list[str]] = defaultdict(list)

    def count(metric, item, bad, denom):
        ex[(metric, item)] = _measure(len(bad), denom)
        if item is not None:
            fam[metric].append(item)

    def binary(metric, item, violated):
        ex[(metric, item)] = 0.0 if violated else 1.0
        if item is not None:
            fam[metric].append(item)

    labelled = subjects(RDFS_LABEL, lambda t: True)
    linked = subjects(OWL_SAME_AS, lambda t: True)
    count("LabelForEntities", None, entities - labelled, n_ent)
    count("InterlinkingCompleteness", None, entities - linked, n_ent)
    count("URIsLengthEntities", None,
          {e for e in entities if len(e) > URIS_MAX_LENGTH}, n_ent)
    count("URIsParametersEntities", None,
          {e for e in entities if re.search(r"\?.+=.*", e)}, n_ent)
    count("UsageHashURIsEntities", None, {e for e in entities if "#" in e}, n_ent)
    if with_void:
        count("URISpaceComplianceEntities", None,
              {e for e in entities if not e.startswith(BASE)}, n_ent)
    count("DifferentLanguagesLabelsEntities", RDFS_LABEL,
          subjects(RDFS_LABEL, lambda t: t.lang is None), spp[RDFS_LABEL])
    count("UsageExternalURIEntities", OWL_SAME_AS,
          subjects(OWL_SAME_AS, lambda t: t.o.startswith(BASE)), spp[OWL_SAME_AS])

    codes = defaultdict(list)
    holders = defaultdict(set)
    for t in by_p[CODE]:
        codes[t.s].append(t.o)
        holders[t.o].add(t.s)
    count("FunctionalProperty", CODE,
          {s for s, v in codes.items() if len(set(v)) > 1}, spp[CODE])
    binary("InverseFunctionalPropertyUniqueness", CODE,
           any(len(h) > 1 for h in holders.values()))

    part = {(t.s, t.o) for t in by_p[PART_OF]}
    count("IrreflexiveProperty", PART_OF, {s for s, o in part if s == o}, spp[PART_OF])
    count("AsymmetricProperty", PART_OF,
          {s for s, o in part if (o, s) in part}, spp[PART_OF])

    count("CorrectDomain", LINKS_TO,
          subjects(LINKS_TO, lambda t: A not in ext.get(t.s, ())), spp[LINKS_TO])

    def bad_literal(t: Triple, dtype: str) -> bool:
        eff = t.dtype or (f"{RDF}langString" if t.lang else f"{XSD}string")
        return (t.kind != "literal" or eff != dtype
                or (dtype == f"{XSD}date" and not _DATE.match(t.o)))

    count("CorrectRange", LINKS_TO,
          subjects(LINKS_TO, lambda t: B not in ext.get(t.o, ())), spp[LINKS_TO])
    for p, dtype in ((CODE, f"{XSD}string"), (CREATED, f"{XSD}date")):
        bad = subjects(p, lambda t: bad_literal(t, dtype))
        count("CorrectRange", p, bad, spp[p])
        count("MalformedLiteral", p, bad, spp[p])

    for p in (LINKS_TO, PART_OF):
        count("MisuseOwlObjectProperties", p,
              subjects(p, lambda t: t.kind == "literal"), spp[p])
    for p in (CODE, CREATED):
        count("MisuseOwlDatatypeProperties", p,
              subjects(p, lambda t: t.kind != "literal"), spp[p])

    count("DeprecatedProperties", OLD_PROP, subjects(OLD_PROP, lambda t: True), n_ent)
    binary("DeprecatedClasses", None, epc[OLD] > 0)

    both = {s for s, cs in ext.items() if A in cs and B in cs}
    count("EntitiesDisjointClasses", f"{A}|{B}", both, epc[A])
    count("EntitiesDisjointClasses", f"{B}|{A}", both, epc[B])
    for c in (A, A1, B, C, D):
        binary("SchemaCompletenessClassUsage", c, epc[c] == 0)
    for p in sorted(by_p):
        binary("SelfDescriptiveFormatProperties", p,
               any(t.kind != "iri" for t in by_p[p]))
    return ex, dict(fam)


def generate(n_entities: int, seed: int) -> TypedKG:
    triples = [t for i in range(n_entities)
               for t in _entity_triples(seed, i, n_entities)]
    return TypedKG(triples, VOCAB_TTL, VOID_TTL)


def split_by_subject(triples: list[Triple], k: int) -> list[list[Triple]]:
    """K deltas, each holding every triple of its subjects (subjects dealt
    round-robin in first-seen order, so deltas are near-equal in size)."""
    slot: dict[str, int] = {}
    out: list[list[Triple]] = [[] for _ in range(k)]
    for t in triples:
        out[slot.setdefault(t.s, len(slot) % k)].append(t)
    return out


def write_nt(triples: list[Triple], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(t.nt() for t in triples)
