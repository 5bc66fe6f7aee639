"""C1–C32 — the data-shape constraint compiler.

Replaces the reference's Jinja2-template → pySHACL-interpretation stack
(/root/reference/shacl_shape_builder.py + dq_assessment/shapes/
data_shapes.template.ttl) with a driver-side planner that compiles every
shape family to ONE fused DataFrame job (filters, semi/anti joins, hash
aggregates over the triple table T), emitting a uniform violations
DataFrame V(metric, item, focus, value).

Key semantics preserved from the reference (citations per family below):
  * the sh:or exemption wrapper — focus nodes typed rdfs:Class /
    rdf:Property / owl:NamedIndividual are exempt from entity-scoped shapes
    (data_shapes.template.ttl:16-33) → one reusable anti-join set X;
  * shape pruning by usage — per-property shapes only for vocab properties
    actually used in the data (shacl_shape_builder.py:318,345,370,…);
  * sh:datatype = datatype-IRI match AND well-formed lexical form;
  * one physical job fanned out to two metrics where the reference
    instantiates both (CorrectRange+MalformedLiteral, SelfDescriptiveFormat
    +BlankNodesUsage).

Scale notes: T is the only big input; every vocab dim is broadcast; every
family is a single scan+join/agg so the whole plan is O(#families) jobs,
not O(#shapes) — the reference's 344 pizza shapes compile to ~20 jobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.functions.terms import (
    EXEMPT_TYPES,
    OWL,
    OWL_NAMED_INDIVIDUAL,
    OWL_SAME_AS,
    PROLIX_CLASSES,
    RDF_LANGSTRING,
    RDF_TYPE,
    RDFS_LABEL,
    DCT,
    RDFS,
    XSD,
)
from shacl_dqa_prototype_spark.functions.xsd import ill_formed_literal
from shacl_dqa_prototype_spark.schemas import VIOLATIONS_SCHEMA


@dataclass
class DQAConfig:
    """Engine equivalent of the reference INI config
    (/root/reference/config/config_template.ini → dq_assessment.py:53-86)."""

    type_property: str = RDF_TYPE
    labeling_property: str = RDFS_LABEL
    description_property: str = f"{DCT}description"
    interlinking_property: str = OWL_SAME_AS
    uris_max_length: int = 80
    base_uri: str | None = None
    uri_regex_pattern: str | None = None   # from VoID metadata (C4)
    uri_space: str | None = None           # from VoID metadata (C5)
    check_languages: bool = True


@dataclass(frozen=True)
class ShapeSpec:
    """One instantiated shape = one (metric, item) scoring row.

    denom ∈ {binary, entities, subjects_per_property, entities_per_class}
    selects the score rule + denominator family (const.py:33-104)."""

    metric: str
    item: str | None
    denom: str
    denom_key: str | None = None


@dataclass
class VocabTerm:
    term: str
    term_kind: str          # class | object_property | datatype_property | rdf_property
    domain: str | None = None
    range: str | None = None
    range_kind: str | None = None
    deprecated: bool = False
    functional: bool = False
    inverse_functional: bool = False
    irreflexive: bool = False
    asymmetric: bool = False


@dataclass
class ConstraintPlan:
    violations: DataFrame
    shapes: list[ShapeSpec] = field(default_factory=list)
    # intermediate DataFrames compile cached (e.g. the exempt-entity set);
    # long-lived sessions call unpersist() once scoring results are
    # materialized — per-job drivers can ignore it
    cached: list[DataFrame] = field(default_factory=list)
    # the union's branches, for per-family plan auditing/attribution
    # (tools/plan_audit-style timing) — evaluation always goes through
    # `violations`, never through these
    parts: list[DataFrame] = field(default_factory=list)
    # metrics each branch can emit (parallel to `parts`): callers that
    # need a metric SUBSET (e.g. the incremental monotone tier) union only
    # the branches that can contribute, skipping e.g. the per-subject
    # flags aggregation entirely
    part_metrics: list[frozenset] = field(default_factory=list)
    # the usage-pruning sets the shapes were instantiated from
    used_props: set[str] = field(default_factory=set)
    used_classes: set[str] = field(default_factory=set)

    def violations_for(self, metrics) -> DataFrame:
        """Union of only the branches that can emit `metrics`, filtered —
        branch pruning the optimizer can't do through the fused explode."""
        want = frozenset(metrics)
        keep = [part.filter(F.col("metric").isin(list(want)))
                for part, ms in zip(self.parts, self.part_metrics)
                if ms & want]
        if not keep:
            return self.violations.sparkSession.createDataFrame(
                [], VIOLATIONS_SCHEMA)
        return reduce(DataFrame.unionByName, keep)

    def unpersist(self) -> None:
        for df in [self.violations, *self.cached]:
            try:
                df.unpersist()
            except Exception:
                pass


def _v(df: DataFrame, metric: str, item: Column | str | None,
       focus: Column, value: Column | None = None) -> DataFrame:
    item_col = (
        F.lit(None).cast("string") if item is None
        else (F.lit(item) if isinstance(item, str) else item)
    )
    return df.select(
        F.lit(metric).alias("metric"),
        item_col.alias("item"),
        focus.cast("string").alias("focus"),
        (value if value is not None else F.lit(None)).cast("string").alias("value"),
    )


# ---------------------------------------------------------------------------
# Families shared by the batch compiler and the incremental state path
# (plans/incremental.py). Each is written ONCE over inputs with fixed
# column names, so batch and state evaluation cannot drift apart.
# ---------------------------------------------------------------------------

OWL_THING = f"{OWL}Thing"

# C9: a query string in the IRI (template:180-202)
URI_PARAMS_PATTERN = r"\?.+=.*"

# per-subject boolean flags, in subject_flags' column order
SUBJECT_FLAGS = ["is_entity", "is_exempt", "has_label", "has_ilp", "has_desc",
                 "is_prolix", "lbl_nolang", "dsc_nolang"]


def subject_flags(T: DataFrame, cfg: DQAConfig) -> DataFrame:
    """(s, *SUBJECT_FLAGS): ONE per-subject aggregation feeds every
    entity-scoped family. Booleans combine map-side (and bool-max merges
    across appends), so this costs a single #distinct-subjects-wide
    shuffle instead of the separate distinct + anti/semi-join shuffles
    each family would otherwise run."""
    p, o = F.col("p"), F.col("o")
    return T.groupBy("s").agg(
        F.max(p == cfg.type_property).alias("is_entity"),
        F.max((p == cfg.type_property) & o.isin(EXEMPT_TYPES)).alias("is_exempt"),
        F.max(p == cfg.labeling_property).alias("has_label"),
        F.max(p == cfg.interlinking_property).alias("has_ilp"),
        F.max(p == cfg.description_property).alias("has_desc"),
        F.max((p == cfg.type_property) & o.isin(PROLIX_CLASSES)).alias("is_prolix"),
        F.max((p == cfg.labeling_property) & F.col("o_lang").isNull()).alias("lbl_nolang"),
        F.max((p == cfg.description_property) & F.col("o_lang").isNull()).alias("dsc_nolang"),
    )


def entity_families(cfg: DQAConfig) -> list[tuple[str, str | None, str, Column]]:
    """The entity-scoped families C2-C6, C8-C13 and C15 as (metric, item,
    denom, violation predicate over subject_flags columns).

    Entity targets minus the sh:or exemption set (rdfs:Class/rdf:Property/
    owl:NamedIndividual focus nodes are exempt — template:16-33) are the
    `ent` predicate. sh:pattern and sh:maxLength always fail for
    blank-node focus nodes (SHACL spec; the pizza golden lists its 3
    bnodes as violations)."""
    s = F.col("s")
    ent = F.col("is_entity") & ~F.col("is_exempt")
    bnode = s.startswith("_:")
    fams = [
        # C2 UsageHashURIsEntities (template:12-34)
        ("UsageHashURIsEntities", None, "entities",
         ent & (s.contains("#") | bnode)),
        # C3 LabelForEntities (template:36-59): minCount 1
        ("LabelForEntities", None, "entities", ent & ~F.col("has_label")),
    ]
    # C4/C5 URI regex/space compliance (template:61-107, gated on VoID)
    if cfg.uri_regex_pattern:
        fams.append(("URIRegexComplianceEntities", None, "entities",
                     ent & (bnode | ~s.rlike("^" + cfg.uri_regex_pattern))))
    if cfg.uri_space:
        fams.append(("URISpaceComplianceEntities", None, "entities",
                     ent & ~s.startswith(cfg.uri_space)))
    fams += [
        # C6 InterlinkingCompleteness (template:109-132)
        ("InterlinkingCompleteness", None, "entities", ent & ~F.col("has_ilp")),
        # C8/C9 URI length / query params (template:156-202)
        ("URIsLengthEntities", None, "entities",
         ent & ((F.length("s") > cfg.uris_max_length) | bnode)),
        ("URIsParametersEntities", None, "entities",
         ent & s.rlike(URI_PARAMS_PATTERN)),
        # C10 ProlixFeatures (template:204-234)
        ("ProlixFeatures", None, "entities", ent & F.col("is_prolix")),
    ]
    # C11/C12 DifferentLanguages* (template:236-284, gated): subjects with
    # >=1 untagged value of the property, minus the exemption set (the
    # target here is NOT restricted to entities)
    if cfg.check_languages:
        fams += [
            ("DifferentLanguagesLabelsEntities", cfg.labeling_property,
             "subjects_per_property", ~F.col("is_exempt") & F.col("lbl_nolang")),
            ("DifferentLanguagesDescriptionsEntities", cfg.description_property,
             "subjects_per_property", ~F.col("is_exempt") & F.col("dsc_nolang")),
        ]
    # C13/C15 SelfDescriptiveFormat + BlankNodesUsage (286-340): identical
    # filter, two metrics
    fams += [("SelfDescriptiveFormat", None, "entities", ent & bnode),
             ("BlankNodesUsageEntities", None, "entities", ent & bnode)]
    return fams


def fused_violations(base: DataFrame, fams: list[tuple]) -> DataFrame:
    """Every per-row filter family over one base DF — (metric, item_col,
    focus_col, value_col, condition) — emitted by ONE scan + explode
    instead of one union branch (= one scan of the base) per family."""
    entries = [
        F.when(cond, F.struct(
            F.lit(metric).alias("metric"),
            item.cast("string").alias("item"),
            focus.cast("string").alias("focus"),
            value.cast("string").alias("value"),
        ))
        for metric, item, focus, value, cond in fams
    ]
    return (base.select(F.explode(F.array_compact(F.array(*entries)))
                        .alias("_f"))
            .select("_f.metric", "_f.item", "_f.focus", "_f.value"))


def entity_violations(flags: DataFrame, cfg: DQAConfig) -> DataFrame:
    """entity_families evaluated over a subject_flags-shaped DF."""
    null = F.lit(None).cast("string")
    return fused_violations(flags, [
        (metric, null if item is None else F.lit(item), F.col("s"), null, cond)
        for metric, item, _denom, cond in entity_families(cfg)])


@dataclass
class TermRoutes:
    """Which shape families each vocabulary property instantiates (see
    route_terms)."""

    domain: list[str]                      # props with a CorrectDomain shape
    class_domain: list[tuple[str, str]]    # (prop, class): sh:class anti-join
    range: list[str]                       # props with a CorrectRange shape
    class_range: list[tuple[str, str]]     # (prop, class): sh:class anti-join
    datatype_range: list[tuple[str, str]]  # (prop, datatype): + MalformedLiteral
    literal_kind: list[str]                # nodeKind sh:Literal
    iri_kind: list[str]                    # nodeKind sh:BlankNodeOrIRI
    asymmetric: list[str]
    functional: list[str]
    inverse_functional: list[str]


def route_terms(vocab_terms: list[VocabTerm],
                used_props: set[str] | None = None) -> TermRoutes:
    """Route the vocabulary's properties to their shape families; with
    ``used_props``, only properties used in the data (shape pruning).

    Range routing differs BY TERM KIND (shacl_shape_builder.py):
      * datatype_property (builder:340-362): ALWAYS sh:datatype(range) +
        MalformedLiteral(range) — including range rdfs:Literal (which no
        literal satisfies, so every value violates);
      * object_property (builder:330-336): owl:Thing → nodeKind
        BlankNodeOrIRI; rdfs:Resource → both (vacuous); else sh:class;
      * rdf_property (builder:433-455): literal-kind range != rdfs:Literal
        → sh:datatype + MalformedLiteral; == rdfs:Literal → nodeKind
        Literal; class-kind → sh:class, ALWAYS — the reference's
        rdf_property branch compares info['range'] (a dict) to the
        owl:Thing / rdfs:Resource strings, which is always false.
    An owl:Thing domain is nodeKind BlankNodeOrIRI, structurally
    satisfied for RDF subjects: the shape exists, nothing can violate it.
    Deprecated terms are excluded from the IFP/functional sets (reference
    utils.py:313-318) but not from the asymmetric set."""
    props = [t for t in vocab_terms if t.term_kind != "class"
             and (used_props is None or t.term in used_props)]
    live = [t for t in props if not t.deprecated]
    routes = TermRoutes(
        domain=[t.term for t in live if t.domain],
        class_domain=[(t.term, t.domain) for t in live
                      if t.domain and t.domain != OWL_THING],
        range=[t.term for t in live if t.range],
        class_range=[], datatype_range=[], literal_kind=[], iri_kind=[],
        asymmetric=sorted({t.term for t in props if t.asymmetric}),
        functional=sorted({t.term for t in live if t.functional}),
        inverse_functional=sorted({t.term for t in live if t.inverse_functional}),
    )
    for t in live:
        if not t.range:
            continue
        if t.term_kind == "object_property":
            if t.range == OWL_THING:
                routes.iri_kind.append(t.term)
            elif t.range != f"{RDFS}Resource":
                routes.class_range.append((t.term, t.range))
        elif t.term_kind == "rdf_property" and t.range_kind != "literal":
            routes.class_range.append((t.term, t.range))
        elif t.term_kind == "rdf_property" and t.range == f"{RDFS}Literal":
            routes.literal_kind.append(t.term)
        else:
            routes.datatype_range.append((t.term, t.range))
    return routes


def extend_typing(typing: DataFrame,
                  subclass_pairs: list[tuple[str, str]] | None) -> DataFrame:
    """(s, o) typing extended through the transitive rdfs:subClassOf
    closure — sh:class in SHACL matches instances of subclasses too
    (broadcast join; the closure is TBox-small)."""
    if not subclass_pairs:
        return typing
    closure = typing.sparkSession.createDataFrame(subclass_pairs, ["o", "anc"])
    return typing.unionByName(
        typing.join(F.broadcast(closure), "o").select("s", F.col("anc").alias("o"))
    ).distinct()


def directed_disjoint_pairs(disjoint_pairs: list[tuple[str, str]],
                            used_classes: set[str]) -> list[tuple[str, str]]:
    """owl:disjointWith is symmetric: one directed shape per ordered pair
    whose target class is used in the data."""
    both = set(disjoint_pairs) | {(b, a) for (a, b) in disjoint_pairs}
    return [(a, b) for (a, b) in both if a in used_classes]


def class_usage_violations(typing: DataFrame, classes: list[str]) -> DataFrame:
    """C7 SchemaCompletenessClassUsage (template:134-154): vocab classes
    without an instance that is not typed owl:NamedIndividual (the
    NotNamedIndividualShape is a property shape on rdf:type —
    template:136-140). ``typing`` is (s, o), direct typing only."""
    cls_df = typing.sparkSession.createDataFrame([(c,) for c in classes], ["cls"])
    ni_typed = typing.filter(F.col("o") == OWL_NAMED_INDIVIDUAL).select("s").distinct()
    with_instances = (typing.join(ni_typed, "s", "left_anti")
                      .select(F.col("o").alias("cls")).distinct())
    # hint the BUILD (right) side: a left-anti join can only broadcast its
    # right input — with_instances is #distinct-classes small
    missing = cls_df.join(F.broadcast(with_instances), "cls", "left_anti")
    return _v(missing, "SchemaCompletenessClassUsage", F.col("cls"), F.col("cls"))


def disjoint_violations(typing: DataFrame,
                        dpairs: list[tuple[str, str]]) -> DataFrame:
    """C16 EntitiesDisjointClasses (342-350): subjects typed as both
    classes of a directed pair. ``typing`` is closure-extended (s, o)."""
    pair_df = typing.sparkSession.createDataFrame(dpairs, ["class_a", "class_b"])
    ta = typing.withColumnsRenamed({"o": "class_a"})
    tb = typing.withColumnsRenamed({"o": "class_b"})
    both = ta.join(tb, "s").join(F.broadcast(pair_df), ["class_a", "class_b"], "semi")
    return _v(both, "EntitiesDisjointClasses",
              F.concat_ws("|", "class_a", "class_b"), F.col("s"))


def ifp_violations(pos: DataFrame, props: list[str]) -> DataFrame:
    """C23 InverseFunctionalPropertyUniqueness (462-471): an object shared
    by more than one subject. ``pos`` has columns p, o, s."""
    shared = (
        pos.filter(F.col("p").isin(props))
        .groupBy("p", "o").agg(F.countDistinct("s").alias("n"))
        .filter(F.col("n") > 1)
    )
    return _v(shared, "InverseFunctionalPropertyUniqueness", F.col("p"), F.col("o"))


def functional_violations(ps_counts: DataFrame, props: list[str]) -> DataFrame:
    """C24 FunctionalProperty (473-482): maxCount 1 per subject.
    ``ps_counts`` has columns p, s, n (values per subject)."""
    multi = ps_counts.filter(F.col("p").isin(props) & (F.col("n") > 1))
    return _v(multi, "FunctionalProperty", F.col("p"), F.col("s"))


def asymmetric_violations(spo: DataFrame, props: list[str]) -> DataFrame:
    """C25 AsymmetricProperty (484-493): pair-swap semi self-join.
    ``spo`` has columns p, s, o."""
    R = spo.filter(F.col("p").isin(props)).select("p", "s", "o")
    Rswap = R.select(F.col("p").alias("p2"), F.col("o").alias("s2"),
                     F.col("s").alias("o2"))
    mutual = R.join(
        Rswap, (R.p == Rswap.p2) & (R.s == Rswap.s2) & (R.o == Rswap.o2), "semi")
    return _v(mutual, "AsymmetricProperty", F.col("p"), F.col("s"), F.col("o"))


def class_domain_violations(ps: DataFrame, typing: DataFrame,
                            class_domain: list[tuple[str, str]]) -> DataFrame:
    """C26 CorrectDomain (495-509), sh:class: (p, s) pairs whose subject
    lacks the domain typing. ``ps`` has columns p, s; ``typing`` is
    closure-extended (s, o)."""
    dom_df = typing.sparkSession.createDataFrame(class_domain, ["p", "domain"])
    subj_prop = ps.join(F.broadcast(dom_df), "p").select("p", "s", "domain").distinct()
    typed_as = typing.withColumnsRenamed({"o": "domain"})
    bad = subj_prop.join(typed_as, ["s", "domain"], "left_anti")
    return _v(bad, "CorrectDomain", F.col("p"), F.col("s"))


def class_range_violations(spo: DataFrame, typing: DataFrame,
                           class_range: list[tuple[str, str]]) -> DataFrame:
    """C29 CorrectRange (511-590), sh:class: (p, s, o) rows whose object
    lacks the range typing. ``typing`` is closure-extended (s, o)."""
    rng_df = typing.sparkSession.createDataFrame(class_range, ["p", "range"])
    vals = spo.join(F.broadcast(rng_df), "p").select("p", "s", "o", "range")
    typed_obj = typing.select(F.col("s").alias("o"), F.col("o").alias("range"))
    bad = vals.join(typed_obj, ["o", "range"], "left_anti")
    return _v(bad, "CorrectRange", F.col("p"), F.col("s"), F.col("o"))


def compile_data_constraints(
    T: DataFrame,
    vocab_terms: list[VocabTerm],
    disjoint_pairs: list[tuple[str, str]],
    cfg: DQAConfig,
    used_props: set[str] | None = None,
    used_classes: set[str] | None = None,
    subclass_pairs: list[tuple[str, str]] | None = None,
) -> ConstraintPlan:
    """Compile + evaluate all data shapes. Returns the violations DF
    (lazy; caller caches before scoring) and the instantiated shape list.

    ``used_props``/``used_classes`` override the usage-pruning sets — the
    reference prunes by the PRE-TBox-merge data profile
    (shacl_shape_builder.py reads graph_profile) while shapes validate the
    merged graph, so callers that merge pass the raw-graph sets here.
    ``subclass_pairs`` is the transitive (descendant, ancestor) closure of
    rdfs:subClassOf — sh:class in SHACL matches instances of subclasses,
    so domain/range/disjoint checks extend the typing table through it."""
    spark = T.sparkSession
    p, s, o = F.col("p"), F.col("s"), F.col("o")

    # ---- shared sub-plans (each used by several families) ----------------
    typing = T.filter(p == cfg.type_property).select("s", "o")
    subj = subject_flags(T, cfg).cache()
    typing_ext = extend_typing(typing, subclass_pairs)

    if used_props is None or used_classes is None:
        # usage pruning inputs (tiny: O(#properties), O(#classes)) — ONE
        # fused aggregation job for both sets, shared with the raw-graph
        # pruning path so the usage semantics can never desynchronize
        from shacl_dqa_prototype_spark.plans.vocab import raw_usage_sets

        props_set, classes_set = raw_usage_sets(T, cfg.type_property)
        used_props = props_set if used_props is None else used_props
        used_classes = classes_set if used_classes is None else used_classes

    classes = [t for t in vocab_terms if t.term_kind == "class" and not t.deprecated]
    depr_classes = [t.term for t in vocab_terms if t.term_kind == "class" and t.deprecated]
    props = [t for t in vocab_terms if t.term_kind != "class"]
    depr_props = [t.term for t in props if t.deprecated]
    obj_props = [t.term for t in props if t.term_kind == "object_property" and not t.deprecated]
    dt_props = [t.term for t in props if t.term_kind == "datatype_property" and not t.deprecated]
    routes = route_terms(vocab_terms, used_props)

    shapes: list[ShapeSpec] = []
    parts: list[DataFrame] = []
    part_metrics: list[frozenset] = []
    # per-row filter families over the triple table, emitted by ONE fused
    # scan (fused_violations): (metric, item_col, focus_col, value_col,
    # condition)
    row_fams: list[tuple] = []

    def add(metric: str, item: str | None, denom: str, denom_key: str | None = None):
        shapes.append(ShapeSpec(metric, item, denom, denom_key))

    def branch(df: DataFrame, metric: str):
        parts.append(df)
        part_metrics.append(frozenset({metric}))

    _null = F.lit(None).cast("string")

    # ---- C1 UsageExternalURIEntities (template:1-10) ----------------------
    # Violation: interlinking value inside the dataset's own base URI.
    if cfg.base_uri:
        ilp = cfg.interlinking_property
        row_fams.append(("UsageExternalURIEntities", F.lit(ilp), s, o,
                         (p == ilp) & o.startswith(cfg.base_uri)))
        add("UsageExternalURIEntities", cfg.interlinking_property,
            "subjects_per_property", cfg.interlinking_property)

    # ---- C2-C6, C8-C13, C15: entity-scoped flag filters -------------------
    ent_fams = entity_families(cfg)
    for metric, item, denom, _cond in ent_fams:
        add(metric, item, denom, item)

    # ---- C7 SchemaCompletenessClassUsage (template:134-154) ---------------
    if classes:
        branch(class_usage_violations(typing, [c.term for c in classes]),
               "SchemaCompletenessClassUsage")
        for c in classes:
            add("SchemaCompletenessClassUsage", c.term, "binary")

    # ---- C14 SelfDescriptiveFormatProperties (310-316): per used property --
    # targetObjectsOf <prop>: object must be IRI.
    row_fams.append(("SelfDescriptiveFormatProperties", p, o, _null,
                     F.col("o_kind") != "iri"))
    for prop in sorted(used_props):
        add("SelfDescriptiveFormatProperties", prop, "binary")

    # ---- C16 EntitiesDisjointClasses (342-350): directed pairs ------------
    dpairs = directed_disjoint_pairs(disjoint_pairs, used_classes)
    if dpairs:
        branch(disjoint_violations(typing_ext, dpairs), "EntitiesDisjointClasses")
        for a, b in sorted(dpairs):
            add("EntitiesDisjointClasses", f"{a}|{b}", "entities_per_class", a)

    # ---- C17 MisplacedProperties (352-361): prop IRI used as a class ------
    if props:
        prop_df = spark.createDataFrame([(t.term,) for t in props], ["term"])
        misplaced_p = (
            typing.select(F.col("o").alias("term")).distinct()
            .join(F.broadcast(prop_df), "term", "semi")
        )
        branch(_v(misplaced_p, "MisplacedProperties", F.col("term"), F.col("term")),
               "MisplacedProperties")
        for t in props:
            add("MisplacedProperties", t.term, "binary")

    # ---- C18 MisplacedClasses (363-386): class IRI used as predicate ------
    if classes:
        row_fams.append(("MisplacedClasses", p, s, _null,
                         p.isin([c.term for c in classes])))
        for c in classes:
            add("MisplacedClasses", c.term, "binary")

    # ---- C19/C20 Misuse of object/datatype properties (388-408) -----------
    used_obj = sorted(set(obj_props) & used_props)
    if used_obj:
        row_fams.append(("MisuseOwlObjectProperties", p, s, o,
                         p.isin(used_obj) & (F.col("o_kind") == "literal")))
        for prop in used_obj:
            add("MisuseOwlObjectProperties", prop, "subjects_per_property", prop)
    used_dt = sorted(set(dt_props) & used_props)
    if used_dt:
        row_fams.append(("MisuseOwlDatatypeProperties", p, s, o,
                         p.isin(used_dt) & (F.col("o_kind") != "literal")))
        for prop in used_dt:
            add("MisuseOwlDatatypeProperties", prop, "subjects_per_property", prop)

    # ---- C21 DeprecatedClasses (410-435): single binary shape -------------
    if depr_classes:
        row_fams.append(("DeprecatedClasses", _null, s, o,
                         (p == cfg.type_property) & o.isin(depr_classes)))
        add("DeprecatedClasses", None, "binary")

    # ---- C22 DeprecatedProperties (437-460): per deprecated prop ----------
    if depr_props:
        row_fams.append(("DeprecatedProperties", p, s, _null,
                         p.isin(depr_props)))
        for prop in sorted(depr_props):
            add("DeprecatedProperties", prop, "entities")  # const.py:76-86

    # ---- C23 InverseFunctionalPropertyUniqueness (462-471) ----------------
    if routes.inverse_functional:
        branch(ifp_violations(T, routes.inverse_functional),
               "InverseFunctionalPropertyUniqueness")
        for prop in routes.inverse_functional:
            add("InverseFunctionalPropertyUniqueness", prop, "binary")

    # ---- C24 FunctionalProperty (473-482): maxCount 1 per subject ---------
    if routes.functional:
        ps_counts = (T.filter(p.isin(routes.functional))
                     .groupBy("p", "s").agg(F.count("*").alias("n")))
        branch(functional_violations(ps_counts, routes.functional),
               "FunctionalProperty")
        for prop in routes.functional:
            add("FunctionalProperty", prop, "subjects_per_property", prop)

    # ---- C25 AsymmetricProperty (484-493) ---------------------------------
    if routes.asymmetric:
        branch(asymmetric_violations(T, routes.asymmetric), "AsymmetricProperty")
        for prop in routes.asymmetric:
            add("AsymmetricProperty", prop, "subjects_per_property", prop)

    # ---- C31 IrreflexiveProperty (573-579): s==o loops ---------------------
    irr = sorted({t.term for t in props if t.irreflexive} & used_props)
    if irr:
        row_fams.append(("IrreflexiveProperty", p, s, _null,
                         p.isin(irr) & (s == o)))
        for prop in irr:
            add("IrreflexiveProperty", prop, "subjects_per_property", prop)

    # ---- C26/C27 CorrectDomain (495-509) -----------------------------------
    if routes.class_domain:
        branch(class_domain_violations(T, typing_ext, routes.class_domain),
               "CorrectDomain")
    for prop in routes.domain:
        add("CorrectDomain", prop, "subjects_per_property", prop)

    # ---- C28/C29/C30/C32 CorrectRange + MalformedLiteral (511-590) --------
    if routes.datatype_range:
        # per-row range lookup as a chained CASE instead of a broadcast
        # join — the dt-prop list is TBox-small, and CASE keeps the branch
        # inside the fused single scan of T
        rng_expr = F.lit(None).cast("string")
        for prop, rng in routes.datatype_range:
            rng_expr = F.when(p == prop, F.lit(rng)).otherwise(rng_expr)
        # plain literals carry xsd:string (RDF 1.1); lang-tagged carry
        # rdf:langString. All in-repo parsers set o_dtype for lang-tagged
        # literals, but user-supplied triple DataFrames may leave it NULL —
        # coalesce through o_lang so such literals never masquerade as
        # xsd:string (they'd escape CorrectRange/MalformedLiteral).
        eff_dtype = F.coalesce(
            F.col("o_dtype"),
            F.when(F.col("o_lang").isNotNull(), F.lit(RDF_LANGSTRING)),
            F.lit(f"{XSD}string"),
        )
        is_langstring = F.when(
            rng_expr == RDF_LANGSTRING,
            (F.col("o_kind") != "literal") | F.col("o_lang").isNull(),
        )
        bad_dt_cond = p.isin([q for q, _ in routes.datatype_range]) & F.coalesce(
            is_langstring,
            (F.col("o_kind") != "literal")
            | (eff_dtype != rng_expr)
            | ill_formed_literal(o, eff_dtype),
        )
        row_fams.append(("CorrectRange", p, s, o, bad_dt_cond))
        # Same physical violations, second metric (builder:361-362,440)
        row_fams.append(("MalformedLiteral", p, s, o, bad_dt_cond))
    if routes.literal_kind:
        row_fams.append(("CorrectRange", p, s, o,
                         p.isin(sorted(routes.literal_kind))
                         & (F.col("o_kind") != "literal")))
    if routes.iri_kind:
        row_fams.append(("CorrectRange", p, s, o,
                         p.isin(sorted(routes.iri_kind))
                         & (F.col("o_kind") == "literal")))
    if routes.class_range:
        branch(class_range_violations(T, typing_ext, routes.class_range),
               "CorrectRange")
    for prop in routes.range:
        add("CorrectRange", prop, "subjects_per_property", prop)
    for prop, _rng in routes.datatype_range:
        add("MalformedLiteral", prop, "subjects_per_property", prop)

    # ---- the fused single scans: subject flags, triple table --------------
    parts.append(entity_violations(subj, cfg))
    part_metrics.append(frozenset(f[0] for f in ent_fams))
    parts.append(fused_violations(T, row_fams))
    part_metrics.append(frozenset(f[0] for f in row_fams))

    violations = reduce(DataFrame.unionByName, parts)
    return ConstraintPlan(violations=violations, shapes=shapes, cached=[subj],
                          parts=parts, part_metrics=part_metrics,
                          used_props=used_props, used_classes=used_classes)
