"""The workloads: what one operation runs and how its output is checked.

* ``construct`` — ``plans.construction.run_construction`` over a seeded
  document corpus read from parquet, as ``main.py construct`` reads it.
  Checked by precision/recall of the linked triples against
  ``datagen.expected_triples``.
* ``assess`` — ``main.main(["dqa", ...])`` over a seeded typed KG in
  N-Triples with its OWL vocabulary and VoID file. Checked shape by shape
  against the generator's expected measures.
* the append pass (``Append``, run by the traced ``assess`` run) — the
  same graph split by subject into deltas, each folded by
  ``main.main(["dqa-append", ..., "--report", ...])`` into fresh state.
  Every delta's report is checked against the expected measures of the
  graph folded so far; after the last delta these are the batch values
  without the VoID-enabled shape.

An operation returns the number of triples it processed and a list of
check failures; an empty list means its output is correct.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import typedkg

CONSTRUCT_DOCS = 2_000
ASSESS_ENTITIES = 2_000
APPEND_DELTAS = 2
MIN_PR = 0.95
TOL = 1e-9
# shapes that carry an item but report as a single CSV row
SINGLE_WITH_ITEM = {"UsageExternalURIEntities", "DifferentLanguagesLabelsEntities",
                    "InverseFunctionalPropertyUniqueness"}


@dataclass
class OpResult:
    triples: int
    calls: list[float] = field(default_factory=list)   # seconds per engine call
    failures: list[str] = field(default_factory=list)  # one entry per failed call


def _quiet_main(argv: list[str]) -> None:
    """main.main prints a JSON summary per command; keep stdout for ours."""
    import main

    with contextlib.redirect_stdout(sys.stderr):
        main.main(argv)


def _measure_diffs(got: dict, expected: dict) -> list[str]:
    bad = []
    for key, want in expected.items():
        have = got.get(key)
        if have is None or abs(float(have) - want) > TOL:
            bad.append(f"{key}: got {have}, want {want}")
    return bad


def check_report_json(out_dir: str, expected: dict) -> list[str]:
    rows = [json.loads(line)
            for path in glob.glob(os.path.join(out_dir, "dq_report_json", "*.json"))
            for line in open(path, encoding="utf-8")]
    got = {(r["metric"], r.get("item")): r["measure"] for r in rows
           if r["target"] == "data" and r["score_kind"] != "meta"}
    return _measure_diffs(got, expected)


def check_reference_csv(path: str, expected: dict, families: dict) -> list[str]:
    """The reference-shaped CSV: single shapes carry their measure, a
    family row carries the share of its items that score 1 and the number
    that do not."""
    with open(path, newline="", encoding="utf-8") as f:
        rows = {r["shape_name"]: r for r in csv.DictReader(f)}
    got, want = {}, {}
    for (metric, item), measure in expected.items():
        if item is None or metric in SINGLE_WITH_ITEM:
            got[metric] = rows.get(metric, {}).get("score")
            want[metric] = measure
    for metric, items in families.items():
        if metric in SINGLE_WITH_ITEM:
            continue
        name = ("MalformedDatatypeShape" if metric == "MalformedLiteral"
                else f"{metric}Shape")
        row = rows.get(name, {})
        ok = [expected[(metric, i)] == 1.0 for i in items]
        got[name] = row.get("score")
        want[name] = sum(ok) / len(ok)
        got[name + ".num_violations"] = row.get("num_violations")
        want[name + ".num_violations"] = float(len(ok) - sum(ok))
    return _measure_diffs(got, want)


class Construct:
    name = "construct"
    # one call takes ~6 s and still varies by a third between runs on a
    # shared host: run_s is the median of three
    min_ops = 3

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.docs = os.path.join(work, "docs.parquet")
        self.dictionary = os.path.join(work, "dictionary.parquet")
        self.truth: set[tuple] = set()
        self.n = 0

    def prepare(self, spark) -> None:
        from shacl_dqa_prototype_spark.datagen import (
            GenConfig,
            entity_dictionary,
            expected_triples,
            generate_documents,
        )

        cfg = GenConfig(n_docs=CONSTRUCT_DOCS, n_entities=CONSTRUCT_DOCS // 10,
                        seed=self.seed)
        generate_documents(spark, cfg).write.parquet(self.docs)
        entity_dictionary(spark, cfg).write.parquet(self.dictionary)
        self.truth = {tuple(r) for r in expected_triples(spark, cfg)
                      .select("s", "p", "o").distinct().collect()}

    def _workdir(self) -> str:
        self.n += 1
        wd = os.path.join(self.work, f"kg{self.n}")
        shutil.rmtree(os.path.join(self.work, f"kg{self.n - 1}"), ignore_errors=True)
        return wd

    def op(self, spark, stages=None) -> OpResult:
        """One construction into a fresh workdir. With ``stages`` (a
        callable taking the stage name and a thunk), the run is split into
        one resumed call per stage, each under its own span."""
        from shacl_dqa_prototype_spark.plans.construction import run_construction

        wd = self._workdir()
        docs = spark.read.parquet(self.docs)
        dictionary = spark.read.parquet(self.dictionary)
        t0 = time.time()
        if stages is None:
            run_construction(spark, docs, dictionary, wd)
        else:
            from layers import CONSTRUCT_LAYERS

            for stage in CONSTRUCT_LAYERS:
                def call(stage=stage):
                    with contextlib.suppress(InterruptedError):
                        run_construction(spark, docs, dictionary, wd,
                                         stop_after=stage)
                stages(stage, call)
        elapsed = time.time() - t0
        return OpResult(self._triples_out(wd), [elapsed], self._check(wd))

    @staticmethod
    def _triples_out(wd: str) -> int:
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(wd, "triples.parquet"), columns=["s"]).num_rows

    def _check(self, wd: str) -> list[str]:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(wd, "linked_triples.parquet"),
                          columns=["s", "p", "o"])
        got = set(zip(*(t.column(c).to_pylist() for c in ("s", "p", "o"))))
        tp = len(got & self.truth)
        precision = tp / max(1, len(got))
        recall = tp / max(1, len(self.truth))
        if precision >= MIN_PR and recall >= MIN_PR:
            return []
        return [f"precision {precision:.4f} recall {recall:.4f} < {MIN_PR}"]


class Assess:
    name = "assess"
    # one call takes ~15 s: two keep run_s off a single sample within the
    # time a full measurement may take
    min_ops = 2

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.cores = cores
        self.kg = kg = typedkg.generate(ASSESS_ENTITIES, seed)
        self.n_triples = len(kg.triples)
        self.data = os.path.join(work, "data.nt")
        self.vocab = os.path.join(work, "vocab.ttl")
        self.void = os.path.join(work, "void.ttl")
        typedkg.write_nt(kg.triples, self.data)
        with open(self.vocab, "w", encoding="utf-8") as f:
            f.write(kg.vocab_ttl)
        with open(self.void, "w", encoding="utf-8") as f:
            f.write(kg.void_ttl)
        self.expected, self.families = typedkg.expected_measures(kg.triples, True)
        self.n = 0

    def prepare(self, spark) -> None:
        pass

    def input_bytes(self) -> int:
        return os.path.getsize(self.data)

    def op(self, spark) -> OpResult:
        self.n += 1
        out = os.path.join(self.work, f"report{self.n}")
        shutil.rmtree(os.path.join(self.work, f"report{self.n - 1}"), ignore_errors=True)
        t0 = time.time()
        _quiet_main(["dqa", "--triples", self.data, "--vocab", self.vocab,
                     "--metadata", self.void, "--base-uri", typedkg.BASE,
                     "--dataset-name", "bench", "--output", out,
                     "--master", str(self.cores)])
        elapsed = time.time() - t0
        bad = (check_report_json(out, self.expected)
               + check_reference_csv(os.path.join(out, "dq_assessment_bench.csv"),
                                     self.expected, self.families))
        return OpResult(self.n_triples, [elapsed], [f"dqa: {b}" for b in bad][:1])


class Append:
    def __init__(self, work: str, kg: typedkg.TypedKG, cores: int):
        self.work = work
        self.cores = cores
        os.makedirs(work, exist_ok=True)
        self.vocab = os.path.join(work, "vocab.ttl")
        with open(self.vocab, "w", encoding="utf-8") as f:
            f.write(kg.vocab_ttl)
        self.deltas, self.sizes, self.expected = [], [], []
        folded: list[typedkg.Triple] = []
        for i, part in enumerate(typedkg.split_by_subject(kg.triples, APPEND_DELTAS)):
            path = os.path.join(work, f"delta_{i}.nt")
            typedkg.write_nt(part, path)
            self.deltas.append(path)
            self.sizes.append(len(part))
            folded += part
            self.expected.append(typedkg.expected_measures(folded, False))

    def op(self, spark) -> OpResult:
        """Fold every delta into a fresh state directory, one
        ``dqa-append`` call each."""
        run = os.path.join(self.work, "state")
        shutil.rmtree(run, ignore_errors=True)
        res = OpResult(sum(self.sizes))
        for i, delta in enumerate(self.deltas):
            rep = os.path.join(run, f"report{i}")
            t0 = time.time()
            _quiet_main(["dqa-append", "--state", os.path.join(run, "state"),
                         "--delta", delta, "--delta-id", f"d{i}", "--report", rep,
                         "--vocab", self.vocab, "--base-uri", typedkg.BASE,
                         "--dataset-name", "bench", "--master", str(self.cores)])
            res.calls.append(time.time() - t0)
            expected, families = self.expected[i]
            bad = check_reference_csv(os.path.join(rep, "dq_assessment_bench.csv"),
                                      expected, families)
            if bad:
                res.failures.append(f"delta {i}: {bad[0]}")
        return res
