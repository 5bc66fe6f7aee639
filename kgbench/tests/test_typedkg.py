"""The typed-KG generator: seeded output, subject-complete deltas, and the
expected-measure rules on a hand-built graph."""

import typedkg as g
from typedkg import Triple


def test_same_seed_same_graph():
    a, b = g.generate(300, 7), g.generate(300, 7)
    assert a.triples == b.triples and a.triples != g.generate(300, 8).triples
    assert "".join(t.nt() for t in a.triples).count("\n") == len(a.triples)


def test_deltas_split_by_subject():
    kg = g.generate(300, 7)
    deltas = g.split_by_subject(kg.triples, 3)
    assert sorted(map(repr, sum(deltas, []))) == sorted(map(repr, kg.triples))
    owners = [{t.s for t in d} for d in deltas]
    assert not (owners[0] & owners[1] or owners[0] & owners[2] or owners[1] & owners[2])


def test_expected_measures_on_a_small_graph():
    e1, e2, e3 = (f"{g.BASE}e{i}" for i in (1, 2, 3))
    lit = dict(kind="literal")
    triples = [
        Triple(e1, g.RDF_TYPE, g.A), Triple(e1, g.RDF_TYPE, g.B),
        Triple(e2, g.RDF_TYPE, g.A1), Triple(e3, g.RDF_TYPE, g.C),
        Triple(e1, g.RDFS_LABEL, "one", lang="en", **lit),
        Triple(e2, g.RDFS_LABEL, "two", **lit),
        Triple(e1, g.LINKS_TO, e1), Triple(e2, g.LINKS_TO, e3),
        Triple(e3, g.LINKS_TO, e1),
        Triple(e1, g.PART_OF, e2), Triple(e2, g.PART_OF, e1),
        Triple(e3, g.PART_OF, e3),
        Triple(e1, g.CODE, "K1", **lit), Triple(e2, g.CODE, "K1", **lit),
        Triple(e2, g.CODE, "K2", **lit),
        Triple(e1, g.CREATED, "2020-13-01", dtype=f"{g.XSD}date", **lit),
        Triple(e2, g.CREATED, "2020-12-01", dtype=f"{g.XSD}date", **lit),
    ]
    ex, fam = g.expected_measures(triples, with_void=False)
    assert ex[("LabelForEntities", None)] == 1 - 1 / 3
    assert ex[("DifferentLanguagesLabelsEntities", g.RDFS_LABEL)] == 0.5
    assert ex[("InterlinkingCompleteness", None)] == 0.0
    # e3 (typed C) breaks the domain; A1 reaches A through subClassOf
    assert ex[("CorrectDomain", g.LINKS_TO)] == 1 - 1 / 3
    # e2 -> e3 and e3 -> e1 (e1 is typed B) : only e2 breaks the range
    assert ex[("CorrectRange", g.LINKS_TO)] == 1 - 1 / 3
    assert ex[("AsymmetricProperty", g.PART_OF)] == 0.0
    assert ex[("IrreflexiveProperty", g.PART_OF)] == 1 - 1 / 3
    assert ex[("FunctionalProperty", g.CODE)] == 0.5
    assert ex[("InverseFunctionalPropertyUniqueness", g.CODE)] == 0.0
    assert ex[("MalformedLiteral", g.CREATED)] == 0.5
    assert ex[("EntitiesDisjointClasses", f"{g.A}|{g.B}")] == 0.0
    assert ex[("SchemaCompletenessClassUsage", g.D)] == 0.0
    assert ("URISpaceComplianceEntities", None) not in ex
    assert sorted(fam["SchemaCompletenessClassUsage"]) == sorted(
        [g.A, g.A1, g.B, g.C, g.D])
