"""Incremental DQA: exact maintenance of profile + EVERY constraint
family across snapshot APPENDs, without rescanning old triples.

At 100 TB a corpus grows by appends; re-running the whole DQA per append
re-reads everything. Incremental coverage comes in TWO tiers that
together cover all families — no family re-scans historical triples:

1. Mergeable state (classic incremental-view-maintenance aggregates) —
   each merge is ONE co-partitioned shuffle of (delta-aggregate ∪ touched
   state buckets), never a scan of historical triples:

     subj_flags  (s, is_entity, is_exempt, has_label, has_ilp, is_prolix,
                  lbl_nolang, dsc_nolang)        merge: groupBy(s) bool-max
     ps_counts   (p, s, n)                       merge: groupBy(p,s) sum
     cls_pairs   (cls, s)                        merge: union-distinct
     po_pairs    (p, o, s)  [IFP props only]     merge: union-distinct
     dom_pairs   (p, s)    [class-domain props]  merge: union-distinct
     spo_pairs   (p, s, o) [class-range + asymmetric props]
                                                 merge: union-distinct

   Commits are BUCKET-PRUNED (SnapshotTable.commit_merge_buckets): only
   the hash buckets the delta touches are rewritten; untouched buckets
   are carried by reference. Appending 1k triples to a 10⁹-subject state
   rewrites O(1k-rows-worth of buckets), not the whole table.

2. Append-monotone filter families (delta_monotone_violations): families
   whose violations are decided per-triple against broadcast vocab dims —
   Misuse/Misplaced/Deprecated/Irreflexive/CorrectRange(datatype+nodeKind)
   /MalformedLiteral/UsageExternalURIEntities/SelfDescriptiveFormat-
   Properties. A delta's violations are FINAL (no later triple can create
   or retract them), so they are evaluated on the delta alone and
   commit_append-ed to a violations log — zero state, zero rewrite.

Derived EXACTLY from tier-1 state (parity asserted in
tests/test_incremental.py):
  * profile: num_triples / num_properties / triples_per_property (sums
    over ps_counts), subjects_per_property (row counts), num_entities /
    label/ilp coverage (subj_flags), entities_per_class (cls_pairs);
  * entity-scoped families C2-C6/C8-C13/C15 (filters on subj_flags);
  * C24 FunctionalProperty (ps_counts n > 1 for functional props);
  * C23 IFP uniqueness (po_pairs grouped, >1 distinct subject);
  * the RETRACTABLE anti-join families — a later type-triple can retract
    their violations, so they can't be monotone, but the anti-join only
    needs (pair-state, typing-state), both maintained:
      C26 CorrectDomain(class)   dom_pairs anti-join cls_pairs on s
      C29 CorrectRange(class)    spo_pairs anti-join cls_pairs on o
      C25 AsymmetricProperty     spo_pairs self-join pair swap
      C16 EntitiesDisjointClasses cls_pairs self-join on s
      C7  SchemaCompletenessClassUsage  vocab classes anti-join cls_pairs
    (dom_pairs is bucketed by s and spo_pairs by o to co-partition with
    cls_pairs(s) for the anti-joins; usage-pruning sets are read from
    ps_counts/cls_pairs — O(#terms) collects, no triple scan.)

State emits violations per DISTINCT (item, focus[, value]) — duplicate
raw triples don't produce duplicate violation rows the way a batch scan
does. Scoring is unaffected (it distincts focus nodes), and the parity
tests compare distinct sets.

Input contract: apply_delta dedups WITHIN each delta (matching the batch
path's dropDuplicates at read), but a triple RE-ASSERTED in a later
delta is the caller's responsibility — the sum-merged ps_counts has no
per-triple memory, so re-assertion inflates num_triples /
triples_per_property and can surface a false FunctionalProperty
violation. Appends produced by the construction pipeline are set-new by
construction; an at-least-once upstream should anti-join its delta
against the served triple table first.

State lives in SnapshotTables, so DQA state itself is atomic, resumable,
and time-travelable. apply_delta is IDEMPOTENT per delta_id: every table
commit records the delta id, and a retried apply skips tables whose log
already carries it — a crash between the seven commits is healed by
re-running the same delta (same scheme as the streaming sink's
(run, epoch) key in streaming/ingest.py).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from shacl_dqa_prototype_spark.plans.constraints import (
    SUBJECT_FLAGS,
    DQAConfig,
    VocabTerm,
    asymmetric_violations,
    class_domain_violations,
    class_range_violations,
    class_usage_violations,
    compile_data_constraints,
    directed_disjoint_pairs,
    disjoint_violations,
    entity_violations,
    extend_typing,
    functional_violations,
    ifp_violations,
    route_terms,
    subject_flags,
)
from shacl_dqa_prototype_spark.schemas import VIOLATIONS_SCHEMA
from shacl_dqa_prototype_spark.sources.snapshots import SnapshotTable

SUBJ_FLAGS_SCHEMA = StructType(
    [StructField("s", StringType(), False)]
    + [StructField(f, BooleanType(), True) for f in SUBJECT_FLAGS]
)
PS_COUNTS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("s", StringType(), False),
    StructField("n", LongType(), False),
])
CLS_PAIRS_SCHEMA = StructType([
    StructField("cls", StringType(), False),
    StructField("s", StringType(), False),
])
PO_PAIRS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("o", StringType(), False),
    StructField("s", StringType(), False),
])
DOM_PAIRS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("s", StringType(), False),
])
SPO_PAIRS_SCHEMA = StructType([
    StructField("p", StringType(), False),
    StructField("s", StringType(), False),
    StructField("o", StringType(), False),
])

# Families whose violations are decided per-triple against broadcast vocab
# dims only — append-monotone: a delta's violations are final and complete.
MONOTONE_METRICS = (
    "UsageExternalURIEntities",
    "SelfDescriptiveFormatProperties",
    "MisplacedProperties",
    "MisplacedClasses",
    "MisuseOwlObjectProperties",
    "MisuseOwlDatatypeProperties",
    "DeprecatedClasses",
    "DeprecatedProperties",
    "IrreflexiveProperty",
    "CorrectRange",
    "MalformedLiteral",
)

# concurrent table folds per apply_delta (Spark schedules concurrent jobs)
_FOLD_THREADS = 4


@dataclass
class IncrementalDQAState:
    subj_flags: SnapshotTable
    ps_counts: SnapshotTable
    cls_pairs: SnapshotTable
    po_pairs: SnapshotTable
    dom_pairs: SnapshotTable
    spo_pairs: SnapshotTable
    mono_violations: SnapshotTable

    @classmethod
    def open(cls, spark: SparkSession, state_dir: str) -> "IncrementalDQAState":
        return cls(
            subj_flags=SnapshotTable(
                spark, os.path.join(state_dir, "subj_flags"), SUBJ_FLAGS_SCHEMA),
            ps_counts=SnapshotTable(
                spark, os.path.join(state_dir, "ps_counts"), PS_COUNTS_SCHEMA),
            cls_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "cls_pairs"), CLS_PAIRS_SCHEMA),
            po_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "po_pairs"), PO_PAIRS_SCHEMA),
            dom_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "dom_pairs"), DOM_PAIRS_SCHEMA),
            spo_pairs=SnapshotTable(
                spark, os.path.join(state_dir, "spo_pairs"), SPO_PAIRS_SCHEMA),
            mono_violations=SnapshotTable(
                spark, os.path.join(state_dir, "mono_violations"),
                VIOLATIONS_SCHEMA),
        )

    def tables(self) -> dict[str, SnapshotTable]:
        return {
            "subj_flags": self.subj_flags, "ps_counts": self.ps_counts,
            "cls_pairs": self.cls_pairs, "po_pairs": self.po_pairs,
            "dom_pairs": self.dom_pairs, "spo_pairs": self.spo_pairs,
            "mono_violations": self.mono_violations,
        }

    def vacuum(self, keep_last: int = 1,
               orphan_grace_s: float = 3600.0) -> dict[str, int]:
        """Periodic maintenance for long streaming runs (r4 verdict item
        7): every epoch appends one merge commit per state table, so a
        many-epoch drain grows each table's dir chain and log without
        bound. vacuum() folds each chain back (compact) and drops the
        history no longer needed for time travel (expire_snapshots) —
        Iceberg's rewrite_data_files + expire_snapshots maintenance pair.
        Returns dirs-deleted per table; the before/after state-dir file
        count and bytes are measured in ``bench.py --streaming``.

        ``keep_last`` > 1 preserves rollback depth. Replay idempotence
        survives the vacuum: apply_delta's dedup is keyed on the
        ``delta_id`` log records, so before expiring them the compaction
        commit carries every applied id forward as
        ``applied_delta_ids`` (Iceberg's snapshot-summary-properties
        analog) and _already() consults both."""
        deleted: dict[str, int] = {}
        for name, t in self.tables().items():
            seen: set[str] = set()
            for s in t.snapshots():
                if s.get("delta_id"):
                    seen.add(s["delta_id"])
                seen.update(s.get("applied_delta_ids") or [])
            # force the fold whenever history will be dropped — the tip
            # record must carry the full applied-id set before expire
            # removes the per-delta records
            if len(t.snapshots()) > keep_last:
                t.compact(
                    max_dirs=0,
                    extra={"applied_delta_ids": sorted(seen)} if seen
                    else None)
            deleted[name] = len(t.expire_snapshots(
                keep_last=keep_last, orphan_grace_s=orphan_grace_s))
        return deleted


def delta_monotone_violations(
    delta: DataFrame, vocab_terms: list[VocabTerm], cfg: DQAConfig,
) -> DataFrame:
    """Violations of the append-monotone families for ONE delta batch.

    Reuses the batch compiler on the delta so the per-triple predicates
    (incl. the CorrectRange datatype/lexical-form logic) cannot drift from
    batch semantics, with two adjustments that make the evaluation
    delta-safe:
      * class-kind range info is stripped from object/rdf-property terms —
        the sh:class range branch is an anti-join against the FULL typing
        table and is NOT monotone (a later type-triple retracts the
        violation), so those stay with the batch re-evaluation tier;
      * usage pruning is bypassed (used_props = all vocab props): a prop
        unused in this delta simply matches no triples, and pruning by
        delta-local usage would need a profile job per append.
    The surviving branches are pure per-triple filters against broadcast
    dims, so union-over-deltas == batch-over-union (asserted in
    tests/test_incremental.py)."""
    safe = [replace(t, range=None, range_kind=None)
            if route_terms([t]).class_range else t
            for t in vocab_terms]
    plan = compile_data_constraints(
        delta, safe, [], cfg,
        used_props={t.term for t in safe if t.term_kind != "class"},
        used_classes=set(),
    )
    # violations_for unions ONLY the branches that can emit monotone
    # metrics — the per-subject flags aggregation and the anti-join
    # branches are never executed for a delta. Unpersist the plan's
    # never-materialized caches immediately: compile registers the subj
    # aggregate with the CacheManager eagerly, and a long-running
    # streaming job would otherwise leak one entry per microbatch.
    out = plan.violations_for(MONOTONE_METRICS)
    plan.unpersist()
    return out


def _changed_buckets(df: DataFrame, key: str, n_buckets: int) -> list[int]:
    """Distinct hash buckets the delta aggregate touches (≤ n_buckets rows
    collected — same bucket expression SnapshotTable._write_data uses)."""
    return [
        r["b"] for r in df.select(
            F.pmod(F.xxhash64(key), F.lit(n_buckets)).alias("b")
        ).distinct().collect()
    ]


def apply_delta(
    state: IncrementalDQAState,
    delta: DataFrame,
    cfg: DQAConfig,
    vocab_terms: list[VocabTerm],
    n_buckets: int = 32,
    delta_id: str | None = None,
) -> None:
    """Fold one appended triple batch into the DQA state.

    Each mergeable state table gets ONE bucket-pruned merge snapshot =
    merge(touched state buckets, delta aggregate); untouched buckets are
    carried by reference — the parquet write is O(|touched buckets|), not
    O(|state|). The monotone-family violations of the delta are appended
    to the violations log (append-only, no merge at all). Historical
    triples are never re-read.

    The seven table folds are mutually INDEPENDENT (disjoint state dirs
    and logs, all reading the one persisted delta), so they are submitted
    from a thread pool — the per-delta floor is the SLOWEST table's
    bucket-probe + merge-write, not the SUM of seven driver-synchronized
    round trips. The delta is materialized once before forking so
    concurrent jobs never race to compute the same cached partitions.

    Pass ``delta_id`` (any stable string — a snapshot id, an epoch) to
    make the apply IDEMPOTENT: every table commit records it, and a retry
    after a crash that landed only some of the seven commits skips the
    tables already carrying the id (sum-merged ps_counts would otherwise
    double-count) — unchanged under parallel folding: each table's commit
    is still atomic and individually keyed. Old snapshots stay readable
    (time travel / rollback); call expire_snapshots to vacuum."""
    extra = {"delta_id": delta_id} if delta_id is not None else None
    routes = route_terms(vocab_terms)

    def _already(table: SnapshotTable) -> bool:
        # per-delta records, plus the applied-id sets a vacuum compaction
        # carries forward when it expires those records
        return delta_id is not None and any(
            s.get("delta_id") == delta_id
            or delta_id in (s.get("applied_delta_ids") or ())
            for s in table.snapshots())

    def _fold_flags() -> None:
        # subj_flags: bool-max merge, bucketed by s so successive merges
        # and downstream per-subject work share the layout
        if _already(state.subj_flags):
            return
        d_flags = subject_flags(delta, cfg)
        bs = _changed_buckets(d_flags, "s", n_buckets)
        merged_flags = (
            state.subj_flags.read_buckets(bs)
            .unionByName(d_flags)
            .groupBy("s")
            .agg(*[F.max(f).alias(f) for f in SUBJECT_FLAGS])
        )
        state.subj_flags.commit_merge_buckets(
            merged_flags, bs, bucket_col="s", n_buckets=n_buckets,
            extra=extra)

    def _fold_ps() -> None:
        if _already(state.ps_counts):
            return
        d_ps = delta.groupBy("p", "s").agg(F.count("*").alias("n"))
        bs = _changed_buckets(d_ps, "s", n_buckets)
        merged_ps = (
            state.ps_counts.read_buckets(bs)
            .unionByName(d_ps)
            .groupBy("p", "s").agg(F.sum("n").cast("long").alias("n"))
        )
        state.ps_counts.commit_merge_buckets(
            merged_ps, bs, bucket_col="s", n_buckets=n_buckets, extra=extra)

    def _fold_cls() -> None:
        if _already(state.cls_pairs):
            return
        d_cls = (delta.filter(F.col("p") == cfg.type_property)
                 .select(F.col("o").alias("cls"), "s"))
        bs = _changed_buckets(d_cls, "s", n_buckets)
        if bs:
            merged_cls = (
                state.cls_pairs.read_buckets(bs)
                .unionByName(d_cls).distinct()
            )
            state.cls_pairs.commit_merge_buckets(
                merged_cls, bs, bucket_col="s", n_buckets=n_buckets,
                extra=extra)

    def _fold_po() -> None:
        if _already(state.po_pairs):
            return
        d_po = (delta.filter(F.col("p").isin(routes.inverse_functional))
                .select("p", "o", "s"))
        bs = _changed_buckets(d_po, "o", n_buckets)
        if bs:
            merged_po = (
                state.po_pairs.read_buckets(bs)
                .unionByName(d_po).distinct()
            )
            state.po_pairs.commit_merge_buckets(
                merged_po, bs, bucket_col="o", n_buckets=n_buckets,
                extra=extra)

    def _fold_dom() -> None:
        # (p, s) pairs of class-domain props — CorrectDomain anti-joins
        # them against cls_pairs; bucketed by s so that join co-partitions
        dom_props = sorted({q for q, _ in routes.class_domain})
        if not dom_props or _already(state.dom_pairs):
            return
        d_dom = (delta.filter(F.col("p").isin(dom_props))
                 .select("p", "s").distinct())
        bs = _changed_buckets(d_dom, "s", n_buckets)
        if bs:
            merged_dom = (
                state.dom_pairs.read_buckets(bs)
                .unionByName(d_dom).distinct()
            )
            state.dom_pairs.commit_merge_buckets(
                merged_dom, bs, bucket_col="s", n_buckets=n_buckets,
                extra=extra)

    def _fold_spo() -> None:
        # (p, s, o) pairs of class-range + asymmetric props — range
        # anti-joins on o against cls_pairs (hence bucketed by o);
        # asymmetric self-joins within the (small) per-prop slice
        spo_props = sorted({q for q, _ in routes.class_range}
                           | set(routes.asymmetric))
        if not spo_props or _already(state.spo_pairs):
            return
        d_spo = (delta.filter(F.col("p").isin(spo_props))
                 .select("p", "s", "o").distinct())
        bs = _changed_buckets(d_spo, "o", n_buckets)
        if bs:
            merged_spo = (
                state.spo_pairs.read_buckets(bs)
                .unionByName(d_spo).distinct()
            )
            state.spo_pairs.commit_merge_buckets(
                merged_spo, bs, bucket_col="o", n_buckets=n_buckets,
                extra=extra)

    def _fold_mono() -> None:
        # monotone families: violations of THIS delta are final — plain
        # append, nothing merged, nothing rewritten
        if _already(state.mono_violations):
            return
        state.mono_violations.commit_append(
            delta_monotone_violations(delta, vocab_terms, cfg),
            extra=extra)

    folds = (_fold_flags, _fold_ps, _fold_cls, _fold_po, _fold_dom,
             _fold_spo, _fold_mono)
    # RDF is SET-semantic and the batch path dropDuplicates() the triple
    # table at read (main.py) — a duplicate triple WITHIN one delta must
    # not inflate the sum-merged ps_counts (false FunctionalProperty
    # violations, drifted num_triples). One delta-sized distinct matches
    # the batch semantics. Re-assertion ACROSS deltas remains the caller's
    # contract (see module docstring): deltas carry set-new triples.
    delta = delta.dropDuplicates().persist()
    try:
        # materialize the shared input ONCE so concurrent folds read the
        # cache instead of racing to compute the same partitions
        delta.count()
        with ThreadPoolExecutor(max_workers=_FOLD_THREADS) as ex:
            futures = [ex.submit(f) for f in folds]
            # surface the FIRST failure but let every fold finish —
            # partial commits are healed by the delta_id retry path
            errs = [f.exception() for f in futures]
        for e in errs:
            if e is not None:
                raise e
    finally:
        delta.unpersist()


# ---------------------------------------------------------------------------
# derivations from state (all O(state), no triple scans)
# ---------------------------------------------------------------------------

def profile_from_state(state: IncrementalDQAState) -> dict[str, DataFrame]:
    """The profile aggregates (B1-B8) re-expressed over the state tables."""
    ps = state.ps_counts.read()
    flags = state.subj_flags.read()
    scalars = ps.agg(
        F.sum("n").cast("long").alias("num_triples"),
        F.countDistinct("p").alias("num_properties"),
    ).crossJoin(
        # B8 counts cover ALL subjects carrying the property (profile_graph
        # semantics), not just typed entities
        flags.agg(
            F.sum(F.col("is_entity").cast("long")).alias("num_entities"),
            F.sum(F.col("has_label").cast("long")).alias("num_entities_label"),
            F.sum(F.col("has_ilp").cast("long")).alias("num_entities_interlinking"),
            F.sum(F.col("has_desc").cast("long")).alias("num_entities_description"),
        )
    ).crossJoin(
        state.cls_pairs.read().agg(F.countDistinct("cls").alias("num_classes"))
    )
    return {
        "scalars": scalars,
        "triples_per_property": ps.groupBy("p").agg(
            F.sum("n").cast("long").alias("num_triples")),
        "subjects_per_property": ps.groupBy("p").agg(
            F.count("*").alias("num_subjects")),
        "entities_per_class": state.cls_pairs.read().groupBy("cls").agg(
            F.countDistinct("s").alias("num_instances")),
    }


def _usage_from_state(state: IncrementalDQAState) -> tuple[set[str], set[str]]:
    """The usage-pruning sets (used properties, used classes), read from
    state — O(#properties)/O(#classes) collects, no triple scan."""
    used_props = {r["p"] for r in
                  state.ps_counts.read().select("p").distinct().collect()}
    used_classes = {r["cls"] for r in
                    state.cls_pairs.read().select("cls").distinct().collect()}
    return used_props, used_classes


def violations_from_state(
    state: IncrementalDQAState,
    vocab_terms: list[VocabTerm],
    cfg: DQAConfig,
    disjoint_pairs: list[tuple[str, str]] | None = None,
    subclass_pairs: list[tuple[str, str]] | None = None,
    used_props: set[str] | None = None,
    used_classes: set[str] | None = None,
) -> DataFrame:
    """Violations for ALL constraint families from state + the monotone
    log, same (metric, item, focus, value) shape as
    compile_data_constraints emits (rows per distinct item/focus — see
    module docstring). ``disjoint_pairs``/``subclass_pairs`` mirror the
    batch compiler's arguments; the usage sets are read from state unless
    the caller already has them."""
    if used_props is None or used_classes is None:
        used_props, used_classes = _usage_from_state(state)
    routes = route_terms(vocab_terms, used_props)
    typing = state.cls_pairs.read().select("s", F.col("cls").alias("o"))
    typing_ext = extend_typing(typing, subclass_pairs)

    # per-state-table derivations of the shared family functions; the
    # anti-joins are state ⋈ state (dom_pairs is bucketed by s and
    # spo_pairs by o to co-partition with cls_pairs(s))
    parts = [entity_violations(state.subj_flags.read(), cfg)]
    if routes.functional:
        parts.append(functional_violations(state.ps_counts.read(),
                                           routes.functional))
    if routes.inverse_functional:
        parts.append(ifp_violations(state.po_pairs.read(),
                                    routes.inverse_functional))
    if routes.class_domain:
        parts.append(class_domain_violations(
            state.dom_pairs.read(), typing_ext, routes.class_domain))
    if routes.class_range:
        parts.append(class_range_violations(
            state.spo_pairs.read(), typing_ext, routes.class_range))
    if routes.asymmetric:
        parts.append(asymmetric_violations(state.spo_pairs.read(),
                                           routes.asymmetric))
    dpairs = directed_disjoint_pairs(disjoint_pairs or [], used_classes)
    if dpairs:
        parts.append(disjoint_violations(typing_ext, dpairs))
    vclasses = [t.term for t in vocab_terms
                if t.term_kind == "class" and not t.deprecated]
    if vclasses:
        parts.append(class_usage_violations(typing, vclasses))

    # monotone families come straight off the append-only log. Per-triple
    # rows are naturally disjoint across deltas; MisplacedProperties emits
    # one row per DISTINCT misplaced term per delta, so it alone needs a
    # distinct to match batch row semantics.
    mono = state.mono_violations.read()
    parts.append(mono.filter(F.col("metric") != "MisplacedProperties"))
    parts.append(mono.filter(F.col("metric") == "MisplacedProperties").distinct())
    return reduce(DataFrame.unionByName, parts)


def score_from_state(
    state: IncrementalDQAState,
    vocab_terms: list[VocabTerm],
    cfg: DQAConfig,
    disjoint_pairs: list[tuple[str, str]] | None = None,
    subclass_pairs: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """The FULL DQA report (per-shape scores + meta rollup) maintained from
    incremental state: violations via violations_from_state, denominators
    via profile_from_state, and the shape-spec list from the batch compiler
    invoked over an EMPTY triple frame with state-derived usage sets — plan
    construction is lazy, so no triple scan ever runs. This closes the
    loop: appends fold into state (apply_delta / start_streaming_dqa) and
    the scored report is re-derived from state alone, bit-equal to the
    batch run_data_dqa (asserted in tests and by the shared oracle)."""
    from shacl_dqa_prototype_spark.plans.constraints import ConstraintPlan
    from shacl_dqa_prototype_spark.plans.profile import GraphProfile
    from shacl_dqa_prototype_spark.plans.scoring import score_plan
    from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA

    spark = state.ps_counts.read().sparkSession
    used_props, used_classes = _usage_from_state(state)
    shapes_plan = compile_data_constraints(
        spark.createDataFrame([], TRIPLES_SCHEMA), vocab_terms,
        disjoint_pairs or [], cfg,
        used_props=used_props, used_classes=used_classes,
        subclass_pairs=subclass_pairs,
    )
    shapes = shapes_plan.shapes
    shapes_plan.unpersist()  # only the spec list is used — drop the
    # eagerly-registered (never-materialized) cache entries right away

    prof = profile_from_state(state)
    row = prof["scalars"].first()
    profile = GraphProfile(
        num_triples=row["num_triples"] or 0,
        num_classes=row["num_classes"] or 0,
        num_entities=row["num_entities"] or 0,
        num_properties=row["num_properties"] or 0,
        num_entities_interlinking=row["num_entities_interlinking"] or 0,
        num_entities_label=row["num_entities_label"] or 0,
        num_entities_description=row["num_entities_description"] or 0,
        triples_per_property=prof["triples_per_property"],
        subjects_per_property=prof["subjects_per_property"],
        entities_per_class=prof["entities_per_class"],
    )
    violations = violations_from_state(
        state, vocab_terms, cfg,
        disjoint_pairs=disjoint_pairs, subclass_pairs=subclass_pairs,
        used_props=used_props, used_classes=used_classes)
    plan = ConstraintPlan(violations=violations, shapes=shapes)
    return score_plan(spark, plan, profile, target="data")
