"""``kg_build``: the reference's batch job, end to end.

Seeded museum records (CSV + JSON lines + XML) → deterministic triplet
extraction → validity filter → relation canonicalization → vertices and
edges → entity resolution → canonical rewrite → at-rest graph table +
Neo4j bulk-import CSV. One operation is one full build; set-up runs one
build unmeasured, so the window measures warm builds.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark import materialize as mat
from big_data___knowledge_graph_construction_with_llm_spark import pipeline
from big_data___knowledge_graph_construction_with_llm_spark.functions import canonical
from big_data___knowledge_graph_construction_with_llm_spark.operators import graph, layout
from big_data___knowledge_graph_construction_with_llm_spark.sources import neo4j_sink, tabular
from big_data___knowledge_graph_construction_with_llm_spark.sources import xml as xml_source

from perfbench import gen
from perfbench.common import Result, Tracer, dir_bytes, median

N_RECORDS = 3_000
SETUP_REPEATS = 3


def read_records(spark, paths: dict[str, str]):
    cols = [F.col(c).cast("string").alias(c) for c in gen.RECORD_FIELDS]
    csv = tabular.read_csv(spark, paths["csv"]).select(cols)
    js = tabular.read_json(spark, paths["json"], multi_line=False).select(cols)
    xml = xml_source.read_xml_records(spark, paths["xml"], row_tag="record").select(cols)
    return csv.unionByName(js).unionByName(xml)


def build(spark, inp: gen.KgInputs, out: str, tr: Tracer, op: int | None = None) -> dict:
    """One build; returns the frames the checks need (still materialized)."""
    with tr.span("sources.read", op):
        records = tr.force(read_records(spark, inp.paths))
    with tr.span("pipeline.extract", op):
        raw = tr.force(pipeline.extract_triplets(records, extractor=gen.extract_record))
    with tr.span("pipeline.validate", op):
        valid = tr.force(pipeline.validate_triplets(raw))
    with tr.span("functions.canonicalize", op):
        triplets = mat.materialize(
            canonical.canonicalize_relations(valid, canonical.canonical_map_df(spark))
        )
    with tr.span("graph.build", op):
        verts = tr.force(graph.vertices_from_triplets(triplets))
        edges = tr.force(graph.edges_from_triplets(triplets))
    with tr.span("graph.resolve", op):
        mapping = mat.materialize(graph.resolve_entities(verts))
    with tr.span("graph.apply_canonical", op):
        edges_c = mat.materialize(graph.apply_canonical(edges, mapping))
        verts_c = tr.force(graph.apply_canonical(verts, mapping, cols=("id",)))
    with tr.span("layout.write", op):
        layout.write_table(edges_c, os.path.join(out, "graph"), bloom_cols=["src"])
    with tr.span("neo4j_sink.export", op):
        neo4j_sink.export_neo4j_bulk_csv(verts_c, edges_c, os.path.join(out, "neo4j"))
    return {
        "valid": valid, "triplets": triplets, "mapping": mapping, "edges_c": edges_c,
        "verts": verts,
    }


def check(spark, inp: gen.KgInputs, frames: dict, out: str) -> list[str]:
    t = inp.truth
    errors = []
    n_canon = frames["mapping"].select("canonical").distinct().count()
    if n_canon != t["canonical_entities"]:
        errors.append(f"canonical entities {n_canon} != truth {t['canonical_entities']}")
    table = layout.read_table(spark, os.path.join(out, "graph"))
    per_rel = dict(table.distinct().groupBy("relationship").count().collect())
    vocab = set(canonical.CANONICAL_RELATIONS.values())
    if not set(per_rel) <= vocab:
        extra = sorted(set(per_rel) - vocab)[:5]
        errors.append(f"relations outside the canonical vocabulary: {extra}")
    want = 3 * t["records"] - t["invalid_triplets"] + t["artists"]
    if sum(per_rel.values()) != want:
        errors.append(f"distinct edges {sum(per_rel.values())} != truth {want}")
    return errors


def release(frames: dict) -> None:
    for k in ("triplets", "mapping", "edges_c"):
        mat.release(frames[k])
    mat.flush_releases(blocking=True)


class Workload:
    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.passes = 0

    def setup(self) -> float:
        times = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inp = gen.kg_records(os.path.join(self.root, f"in{i}"), self.seed, N_RECORDS)
            times.append(time.perf_counter() - t0)
        self.inp = inp
        # one unmeasured build first: the first pass of a session spends
        # most of its time compiling (JIT, whole-stage codegen, Python
        # worker imports), and how long that takes swings with the host's
        # load far more than the build itself does
        t0 = time.perf_counter()
        self.warm = Result()
        self._build_once(Tracer(self.spark, False), self.warm)
        return median(times) + time.perf_counter() - t0

    def window(self, seconds: float, tr: Tracer, res: Result) -> None:
        """Warm builds, the measured operation, back to back until the
        window closes (the last one runs to its end)."""
        t_end = time.perf_counter() + seconds
        while True:
            self._build_once(tr, res)
            if time.perf_counter() >= t_end:
                break

    def _build_once(self, tr: Tracer, res: Result) -> None:
        out = os.path.join(self.root, f"out{self.passes}")
        op = self.passes
        self.passes += 1
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            frames = build(self.spark, self.inp, out, tr, op)
        except Exception as exc:  # noqa: BLE001 - a failed build is a failed op
            res.failed += 1
            res.errors.append(f"build: {exc!r}"[:300])
            return
        dt = time.perf_counter() - t0
        res.op_ms.setdefault("build", []).append(dt * 1000)
        res.work_units += self.inp.truth["records"]
        res.elapsed_s += dt
        errors = check(self.spark, self.inp, frames, out)
        stored = dir_bytes(os.path.join(out, "graph"))[0] + dir_bytes(os.path.join(out, "neo4j"))[0]
        res.info["stored_bytes_per_input_byte"] = stored / self.inp.input_bytes
        res.info["build_records_per_s"] = res.work_units / res.elapsed_s
        res.info["builds"] = len(res.op_ms["build"])
        if tr.enabled:
            res.layer["kg_build.stored_bytes_per_input_byte"] = stored / self.inp.input_bytes
            self._layer_counts(frames, out, res)
        release(frames)
        tr.release()
        shutil.rmtree(out, ignore_errors=True)
        if errors:
            res.failed += 1
            res.errors.extend(errors)

    def close(self, res: Result) -> None:
        """The set-up build's checks count like the measured builds'."""
        res.attempted += self.warm.attempted
        res.failed += self.warm.failed
        res.errors.extend(self.warm.errors)

    def prepare_probe(self) -> None:
        """Generates the curation corpus for ``probe_layers``, untimed."""
        from perfbench import corpus_curate

        self.curate = corpus_curate.Probe(self.spark, os.path.join(self.root, "curate"), self.seed)

    def probe_layers(self, tr: Tracer, res: Result) -> None:
        """The curation layers, measured here because a benchmark session
        (4 + 22 runs per workload within 57 minutes) has no room for
        ``corpus_curate`` as a workload of its own."""
        self.curate.run(tr, res)

    def _layer_counts(self, frames: dict, out: str, res: Result) -> None:
        t = self.inp.truth
        names = frames["verts"].select("id").distinct()
        blocks = names.groupBy(graph.default_entity_block(F.col("id")).alias("b")).count()
        pairs = blocks.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
        n_names = names.count()
        n_canon = frames["mapping"].select("canonical").distinct().count()
        n_trip = frames["triplets"].count()
        cleaned = F.lower(F.regexp_replace(F.trim("relation"), "_", " "))
        hits = frames["valid"].filter(cleaned.isin(*canonical.CANONICAL_RELATIONS)).count()
        gbytes, gfiles = dir_bytes(os.path.join(out, "graph"))
        res.layer.update({
            "sources.rows_out": t["records"],
            "sources.input_bytes": self.inp.input_bytes,
            "pipeline.records_in": t["records"],
            "pipeline.triplets_out": n_trip,
            "pipeline.valid_frac": n_trip / (4 * t["records"]),
            "functions.canonical_hit_frac": hits / max(n_trip, 1),
            "graph.candidate_pairs": float(pairs or 0),
            "graph.entities_merged": n_names - n_canon,
            "layout.bytes_written": gbytes,
            "layout.files_written": gfiles,
            "neo4j_sink.bytes_written": dir_bytes(os.path.join(out, "neo4j"))[0],
        })
