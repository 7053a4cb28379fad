"""The ``corpus_curate`` layers, probed inside ``kg_build``'s traced run.

One traced ``curation.curate_with_stats`` pass (quality gate,
expectations gate, repetition gate, exact dedup, near dedup, Jaccard and
13-gram decontamination against an evaluation set, split — every stage's
output forced and counted) over a seeded corpus, then each stage's
public operator once over the same corpus. The corpus plants
exact-duplicate and near-duplicate families, boilerplate footers,
low-quality documents and evaluation leaks; the survivors must be
exactly the generator's expected set.
"""

from __future__ import annotations

import os

from big_data___knowledge_graph_construction_with_llm_spark import materialize as mat
from big_data___knowledge_graph_construction_with_llm_spark.operators import (
    curation,
    dedup,
    sampling,
    text,
    validate,
)
from big_data___knowledge_graph_construction_with_llm_spark.sources import tabular

from perfbench import gen
from perfbench.common import Result, Tracer

N_BASE = 800
NGRAM_N = 13


def _expectations():
    return [validate.not_null("text"), validate.unique("doc_id")]


class Probe:
    def __init__(self, spark, root: str, seed: int):
        """Generates the corpus; nothing here is timed."""
        self.spark = spark
        self.corpus = gen.corpus(os.path.join(root, "in"), seed, N_BASE)

    def _frames(self):
        docs = tabular.read_json(self.spark, self.corpus.docs_path, multi_line=False)
        bench = tabular.read_json(self.spark, self.corpus.bench_path, multi_line=False)
        return docs.select("doc_id", "text"), bench

    def run(self, tr: Tracer, res: Result) -> None:
        res.attempted += 1
        try:
            with tr.span("curation.curate"):
                docs, bench = self._frames()
                out, stats = curation.curate_with_stats(
                    docs, benchmark=bench, ngram_n=NGRAM_N, expectations=_expectations()
                )
                rows = out.select("doc_id", "split").collect()
            mat.release(out)
        except Exception as exc:  # noqa: BLE001 - a failed pass is a failed op
            res.failed += 1
            res.errors.append(f"curate: {exc!r}"[:300])
            return
        mat.flush_releases(blocking=True)
        errors = self._check(rows)
        if errors:
            res.failed += 1
            res.errors.extend(errors)
        n_in = stats.get("input", 0)
        for stage, n in stats.items():
            res.layer[f"curation.rows_{stage}"] = n
        res.layer["curation.kept_frac"] = stats.get("split", 0) / n_in if n_in else 0.0
        self._operators(tr)

    def _check(self, rows) -> list[str]:
        got = {r["doc_id"] for r in rows}
        want = self.corpus.expected_ids
        errors = []
        if got != want:
            errors.append(
                f"survivors differ: {len(got - want)} unexpected, {len(want - got)} missing"
            )
        if any(r["split"] not in ("train", "val", "test") for r in rows):
            errors.append("split label outside train/val/test")
        return errors

    def _operators(self, tr: Tracer) -> None:
        """Each stage's public operator once over the same corpus."""
        docs, bench = self._frames()
        docs = mat.materialize(docs)
        with tr.span("text.quality"):
            tr.force(text.quality_features(docs))
        with tr.span("validate.gate"):
            validate.assert_valid(docs, _expectations())
        with tr.span("dedup.exact"):
            tr.force(dedup.exact_dedup_by_hash(docs, "text", "doc_id"))
        with tr.span("dedup.near"):
            tr.force(curation.near_dedup(docs, "doc_id", "text"))
        with tr.span("dedup.decontam"):
            tr.force(dedup.ngram_decontaminate(docs, bench, "doc_id", "text", n=NGRAM_N))
        with tr.span("sampling.split"):
            tr.force(sampling.dataset_split(docs, "doc_id"))
        tr.release()
        mat.release(docs)
        mat.flush_releases(blocking=True)
