"""``kg_serve``: point queries and upserts against the built graph.

Set-up builds the at-rest state: the graph table (``layout``) holding the
resolved edges of a seeded record set, an IVF index over
``embed.hash_encoder`` vectors of the artwork descriptions and a BM25
posting table, the three built concurrently. The graph table is written
from the generator's resolved edges rather than by a full ``kg_build``: a
cold build alone costs about as long as this whole run may take, and
``kg_build`` measures it. Set-up ends with one read of every kind and one
upsert, unmeasured, so the window sees a warm server. Then two client
threads run a closed loop, each waiting for its reply before sending the
next request. Keys come from a seeded Zipf distribution over artworks.
Client 0, the writer, cycles through ``upsert`` (graph table delta + IVF
append), a ``lookup`` that reads its own write, and ``knn``; client 1
cycles through ``knn``, ``lookup``, ``bm25`` and ``hop`` (2-hop
subgraph). The writer stops at the end of the cycle in which the window
closes, so every window holds whole writer cycles and about one request
in ten is an upsert; the reader stops after its request in flight when
the writer stops. Readers use serving handles (``open_table``, the IVF
index read once) that the writer re-opens after each commit.
"""

from __future__ import annotations

import itertools
import os
import random
import threading
import time

from pyspark.sql import functions as F

from big_data___knowledge_graph_construction_with_llm_spark import materialize as mat
from big_data___knowledge_graph_construction_with_llm_spark.operators import (
    embed,
    graph_algos,
    layout,
    similarity,
    text,
)
from big_data___knowledge_graph_construction_with_llm_spark.sources import tabular

from perfbench import gen, registry
from perfbench.common import Result, Tracer, dir_bytes, median, tail_percentile

N_RECORDS = 1_500
CLIENTS = 2
DIM = 64
IVF_K = 16
N_PROBE = 2
TOP_K = 10
# one cycle per client; client 0 is the single writer, and each of its
# upserts is followed by a lookup of the upserted key. The writer's cycle
# takes about as long as two of the reader's, so ~1 request in 10 is an upsert
MIXES = (
    ("upsert", "knn"),
    ("knn", "lookup", "bm25", "hop"),
)
READS = ("knn", "lookup", "bm25", "hop")
VERIFY_QUERIES = 2


def _run_concurrently(*fns) -> None:
    """Run each function in a thread of its own; re-raise the first error."""
    errors: list[BaseException] = []

    def call(fn) -> None:
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    threads = [threading.Thread(target=call, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


class Workload:
    def __init__(self, spark, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.encode = embed.hash_encoder(DIM)
        self.next_vec = 10_000_000  # ids of appended vectors, above the built ones
        self.client_rng = [random.Random(f"{seed}-client-{c}") for c in range(CLIENTS)]
        self.op_ids = itertools.count()
        self.bm25_seen: dict[str, list] = {}
        self.setup_layers: dict[str, float] = {}

    def setup(self) -> float:
        t0 = time.perf_counter()
        spark, root = self.spark, self.root
        inp = gen.kg_records(os.path.join(root, "in"), self.seed, N_RECORDS)
        self.records = inp.records
        self.keys = gen.ZipfKeys(self.seed, len(inp.records))
        self.graph_root = os.path.join(root, "graph")
        self.ivf_path = os.path.join(root, "ivf")
        self.bm25_root = os.path.join(root, "bm25")
        docs_path = os.path.join(root, "in", "docs.jsonl")
        gen.write_docs(docs_path, inp.records)
        docs = tabular.read_json(spark, docs_path, multi_line=False).select("vec_id", "text")
        self.docs = docs
        parts: dict[str, float] = {}

        def graph_table() -> None:
            t = time.perf_counter()
            edges = spark.createDataFrame(
                gen.canonical_triplets(inp.records), "src string, dst string, relationship string"
            )
            layout.write_table(edges, self.graph_root, bloom_cols=["src"])
            parts["layout.setup_write"] = time.perf_counter() - t

        def ivf_index() -> None:
            t = time.perf_counter()
            vectors = mat.materialize(
                embed.embed_documents(docs, "text", encoder=self.encode, dim=DIM).select(
                    "vec_id", "embedding"
                )
            )
            t1 = time.perf_counter()
            similarity.ensure_ivf_index(spark, vectors, self.ivf_path, k=IVF_K)
            mat.release(vectors)
            parts["embed.encode"] = t1 - t
            parts["similarity.index_build"] = time.perf_counter() - t1

        def bm25_index() -> None:
            t = time.perf_counter()
            text.write_text_index(docs, "vec_id", "text", self.bm25_root, shards=4)
            parts["text.index_build"] = time.perf_counter() - t

        # the three structures are independent, and building each is
        # mostly per-job overhead, so they are built concurrently, as a
        # server would start up
        _run_concurrently(graph_table, ivf_index, bm25_index)
        # serving handles: snapshot-pinned readers, re-opened by the writer
        # after each commit, as a server holds them
        self.graph = layout.open_table(spark, self.graph_root)
        self.bm25 = layout.open_table(spark, self.bm25_root)
        self.ivf = similarity.read_ivf_index(spark, self.ivf_path)
        self.stale: list = []
        t4 = time.perf_counter()
        # one read of every kind, so the measured window sees a warm
        # server, as its users would
        off = Tracer(spark, False)
        i = self._key(0)
        self._knn(i, off)
        self._bm25(i, off)
        self._hop(i, off)
        self._lookup(self.records[i]["title"], off)
        # and one write with its read-your-writes lookup: the first upsert
        # of a session is a cold pass of the upsert and IVF-append code
        self.setup_ops: list = []
        self._request(0, "upsert", off, self.setup_ops, threading.Lock())
        t5 = time.perf_counter()
        total = t5 - t0
        self.setup_parts = {**parts, "serve.warm_up": t5 - t4}
        self.setup_layers = {f"{k}_frac": v / total for k, v in self.setup_parts.items()}
        return total

    # -- operations ---------------------------------------------------

    def _key(self, client: int) -> int:
        return self.keys.draw(self.client_rng[client])

    def _knn(self, i: int, tr: Tracer) -> tuple[str, object]:
        q = [float(x) for x in self.encode([gen.describe(self.records[i])])[0]]
        index, cents = self.ivf
        with tr.span("similarity.knn"):
            rows = similarity.knn_ivf(index, cents, q, TOP_K, n_probe=N_PROBE).collect()
        return ("knn", rows)

    def _bm25(self, i: int, tr: Tracer) -> tuple[str, object]:
        query = " ".join(self.records[i]["title"].lower().split()[:2])
        with tr.span("text.bm25"):
            rows = text.bm25_query_table(
                self.spark, self.bm25_root, query, k=TOP_K, handle=self.bm25
            ).collect()
        return ("bm25", (query, rows))

    def _hop(self, i: int, tr: Tracer) -> tuple[str, object]:
        key = self.records[i]["title"]
        handle = self.graph
        with tr.span("graph_algos.khop"):
            edges = handle.read()
            seeds = self.spark.range(1).select(F.lit(key).alias("id"))
            rows = graph_algos.k_hop_subgraph(edges, seeds, 2).collect()
        return ("hop", (key, rows))

    def _lookup(self, key: str, tr: Tracer) -> list:
        handle = self.graph
        with tr.span("layout.lookup"):
            return handle.read(where=("src", "==", key)).collect()

    def _upsert(self, client: int, i: int, tr: Tracer) -> tuple[str, object]:
        """Replace artwork ``i``'s edges and append a vector for it. Only
        client 0 writes: the table format wants one writer per table."""
        rng = self.client_rng[client]
        key = self.records[i]["title"]
        other = self.records[rng.randrange(len(self.records))]
        rows = [(key, other["museum"], "located in"), (key, other["subject"], "depicts")]
        self.next_vec += 1
        vec = [float(x) for x in self.encode([f"{key} {other['museum']}".lower()])[0]]
        with tr.span("layout.upsert"):
            batch = self.spark.createDataFrame(rows, "src string, dst string, relationship string")
            layout.upsert_table(self.spark, self.graph_root, batch, "src", bloom_cols=["src"])
        with tr.span("similarity.append"):
            new = self.spark.createDataFrame(
                [(self.next_vec, vec)], "vec_id long, embedding array<float>"
            )
            self.ivf = similarity.append_ivf_index(self.spark, new, self.ivf_path)
        with tr.span("layout.reopen"):
            # the reader may still be scanning the old snapshot: close it
            # when the run ends, not here
            self.stale.append(self.graph)
            self.graph = layout.open_table(self.spark, self.graph_root)
        return ("upsert", (key, sorted(rows)))

    def _request(self, client: int, kind: str, tr: Tracer, out: list, lock) -> None:
        i = self._key(client)
        tr.set_op(next(self.op_ids))
        t0 = time.perf_counter()
        err = None
        try:
            if kind == "knn":
                rec = self._knn(i, tr)
            elif kind == "bm25":
                rec = self._bm25(i, tr)
            elif kind == "hop":
                rec = self._hop(i, tr)
            elif kind == "lookup":
                key = self.records[i]["title"]
                rec = ("lookup", (key, self._lookup(key, tr), None))
            else:
                rec = self._upsert(client, i, tr)
        except Exception as exc:  # noqa: BLE001 - a raised op is a failed op
            rec, err = (kind, None), repr(exc)[:300]
        dt = time.perf_counter() - t0
        with lock:
            out.append((rec[0], dt, rec[1], err))
        if kind == "upsert" and err is None:
            key, want = rec[1]
            tr.set_op(next(self.op_ids))
            t0 = time.perf_counter()
            try:
                got = self._lookup(key, tr)
            except Exception as exc:  # noqa: BLE001
                got, err = None, repr(exc)[:300]
            dt = time.perf_counter() - t0
            with lock:
                out.append(("lookup", dt, (key, got, want), err))

    def _client(self, client: int, t_end: float, tr: Tracer, out: list, lock, done) -> None:
        """The writer (client 0) runs whole cycles until ``t_end`` has
        passed, so every window holds the same share of upserts; the
        readers run until the writer has finished, so both clients stay
        busy to the end of the window."""
        try:
            while time.perf_counter() < t_end if client == 0 else not done.is_set():
                for kind in MIXES[client]:
                    if client != 0 and done.is_set():
                        break
                    self._request(client, kind, tr, out, lock)
        finally:
            if client == 0:
                done.set()

    def window(self, seconds: float, tr: Tracer, res: Result) -> None:
        ops: list = []
        lock = threading.Lock()
        done = threading.Event()
        t_start = time.perf_counter()
        t_end = t_start + seconds
        threads = [
            threading.Thread(target=self._client, args=(c, t_end, tr, ops, lock, done))
            for c in range(CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t_start
        # closed loop without think time: every client is busy all the
        # time, so client-seconds / clients is the window without its
        # ragged end (the reader finishing its last cycle after the writer)
        res.elapsed_s += sum(dt for _, dt, _, _ in ops) / CLIENTS
        res.work_units += len(ops)
        for kind, dt, payload, err in ops:
            res.attempted += 1
            res.op_ms.setdefault(kind, []).append(dt * 1000)
            problem = err or self._check(kind, payload)
            if problem:
                res.failed += 1
                res.errors.append(f"{kind}: {problem}")
        for kind in ("knn", "bm25", "hop", "lookup", "upsert"):
            res.info[f"{kind}_p50_ms"] = median(res.op_ms.get(kind, []))
        reads = [dt * 1000 for kind, dt, _, _ in ops if kind in READS]
        p, v = tail_percentile(reads)
        res.info["serve_read_samples"] = len(reads)
        res.info[f"serve_read_p{int(p * 100)}_ms"] = v
        res.info["serve_ops_per_s"] = len(ops) / wall
        res.info["upsert_frac"] = len(res.op_ms.get("upsert", [])) / max(len(ops), 1)
        res.info.update({f"setup.{k}_s": v for k, v in self.setup_parts.items()})
        if tr.enabled:
            self._prune_stats(res)

    def _prune_stats(self, res: Result) -> None:
        """Generations of the served table, and the share of their data
        files that manifest pruning keeps for a point lookup."""
        gens = layout.list_table_generations(self.spark, self.graph_root)
        key = self.records[self.keys.order[0]]["title"]
        kept = total = 0
        for g in gens:
            manifest = layout.read_manifest(self.spark, self.graph_root, g["generation"])
            if manifest and "files" in manifest:
                kept += len(layout.prune_manifest_files(manifest, ("src", "==", key)))
                total += len(manifest["files"])
        res.layer["layout.generations"] = len(gens)
        res.layer["layout.files_kept_frac"] = kept / total if total else 1.0

    def _check(self, kind: str, payload) -> str | None:
        if kind == "knn":
            return None if len(payload) == TOP_K else f"{len(payload)} neighbours"
        if kind == "bm25":
            query, rows = payload
            self.bm25_seen.setdefault(query, rows)
            return None if rows else f"no hits for {query!r}"
        if kind == "hop":
            key, rows = payload
            return None if any(r["src"] == key for r in rows) else f"{key!r} missing"
        if kind == "lookup":
            key, rows, want = payload
            if want is None:
                return None if rows else f"no rows for {key!r}"
            got = sorted((r["src"], r["dst"], r["relationship"]) for r in rows)
            return None if got == want else f"read-your-writes: {got} != {want}"
        return None

    def prepare_probe(self) -> None:
        """Writes the registry probe's tables, untimed."""
        self.star = registry.prepare(self.root, self.seed)

    def probe_layers(self, tr: Tracer, res: Result) -> None:
        registry.probe(self.spark, self.star, self.seed, tr, res)

    def close(self, res: Result) -> None:
        """Checks against exact references, after the measured windows:
        BM25 answers equal the one-shot ``bm25_topk`` over the documents,
        and IVF probing every cluster equals brute-force kNN; the set-up
        upsert and its lookup are checked like the window's."""
        for kind, _, payload, err in self.setup_ops:
            res.attempted += 1
            problem = err or self._check(kind, payload)
            if problem:
                res.failed += 1
                res.errors.append(f"set-up {kind}: {problem}")
        for query, rows in list(self.bm25_seen.items())[:VERIFY_QUERIES]:
            res.attempted += 1
            ref = text.bm25_topk(self.docs, "vec_id", "text", query, k=TOP_K).collect()
            if [tuple(r) for r in rows] != [tuple(r) for r in ref]:
                res.failed += 1
                res.errors.append(f"bm25 {query!r}: {rows[:3]} != {ref[:3]}")
        index, cents = similarity.read_ivf_index(self.spark, self.ivf_path)
        index = mat.materialize(index)
        rng = random.Random(f"{self.seed}-verify")
        recall = []
        for _ in range(VERIFY_QUERIES):
            res.attempted += 1
            rec = self.records[self.keys.draw(rng)]
            q = [float(x) for x in self.encode([gen.describe(rec)])[0]]
            exact = similarity.knn_brute_force(index, q, TOP_K).collect()
            full = similarity.knn_ivf(index, cents, q, TOP_K, n_probe=IVF_K).collect()
            if [tuple(r) for r in full] != [tuple(r) for r in exact]:
                res.failed += 1
                res.errors.append(f"knn all-probe != brute force: {full[:2]} vs {exact[:2]}")
            approx = similarity.knn_ivf(index, cents, q, TOP_K, n_probe=N_PROBE).collect()
            want = {r["vec_id"] for r in exact}
            recall.append(len(want & {r["vec_id"] for r in approx}) / max(len(want), 1))
        mat.release(index)
        mat.flush_releases(blocking=True)
        for handle in (*self.stale, self.graph, self.bm25):
            handle.close()
        res.layer["similarity.recall_at_10"] = sum(recall) / len(recall)
        res.layer["layout.bytes_at_rest"] = dir_bytes(self.graph_root)[0]
