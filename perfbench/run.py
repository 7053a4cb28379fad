"""kgspark benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds every input from ``--seed`` under a
private scratch directory inside the checkout (deleted on exit), starts
one ``local[nproc]`` Spark session, sets the workload up, measures it for
``--seconds`` and checks its outputs. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The traced run measures an
untraced half-window and a traced one, reports the gap between the two
as the tracing overhead, runs the workload's
layer probes and writes its spans (to ``--spans``, or under
``.perfbench_spans/`` in the checkout).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

WORKLOADS = ("kg_build", "kg_serve")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _load_spec() -> dict:
    path = os.path.join(CHECKOUT, "BENCHMARK.json")
    if not os.path.isfile(path):
        _fail(f"{path} not found")
    with open(path) as fh:
        return json.load(fh)


def _engine_importable() -> None:
    sys.path.insert(0, CHECKOUT)
    try:
        import big_data___knowledge_graph_construction_with_llm_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        _fail(f"cannot import the engine from {CHECKOUT}: {exc}")
    if not os.path.isfile(os.path.join(CHECKOUT, "__spark_entry__.py")):
        _fail(f"__spark_entry__.py missing from {CHECKOUT}")


def _workload(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}").Workload


def _merge_counts(into, part) -> None:
    into.attempted += part.attempted
    into.failed += part.failed
    into.errors.extend(part.errors)
    into.info.update(part.info)


# spans whose input bytes per call / shuffle bytes written are reported
PER_CALL_INPUT = ("similarity.knn", "text.bm25", "layout.lookup")
SHUFFLE = ("graph.resolve", "graph.apply_canonical", "dedup.exact", "dedup.near",
           "dedup.decontam", "curation.curate")


def _layer_metrics(tr, phases: dict[str, tuple[float, float]]) -> dict[str, float]:
    """``<span>_frac``: the span name's self time over its phase's wall
    time (summed over client threads); ``<span>_jobs``: Spark jobs its
    calls ran; input bytes per call and shuffle bytes for a few spans."""
    out: dict[str, float] = {}
    for a, b in phases.values():
        wall = max(b - a, 1e-9)
        for name, d in tr.layer_stats(a, b).items():
            out[f"{name}_frac"] = out.get(f"{name}_frac", 0.0) + d["self_s"] / wall
            out[f"{name}_jobs"] = out.get(f"{name}_jobs", 0) + d["jobs"]
            if name in PER_CALL_INPUT:
                out[f"{name}_input_bytes"] = d["input_bytes"] / d["calls"]
            if name in SHUFFLE:
                out[f"{name}_shuffle_bytes"] = d["shuffle_bytes"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--spans",
        help="where the traced run writes its spans as JSON lines"
        " (default: .perfbench_spans/<workload>-<seed>.jsonl in the checkout)",
    )
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    spec = _load_spec()
    _engine_importable()

    from perfbench import common

    root = os.path.join(
        CHECKOUT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    common.prepare_env(root)
    tree = common.TreeSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = common.start_session(root)
        common.warm_up(spark)
        session_s = time.perf_counter() - t0
        wl = _workload(args.workload)(spark, root, args.seed)
        res = common.Result()
        res.setup_s = session_s + wl.setup()

        off = common.Tracer(spark, False)
        if args.trace == 0:
            wl.window(args.seconds, off, res)
        else:
            # untraced half, then traced half: set-up has warmed the
            # session, so both see the same warm state and their gap is
            # the tracing overhead
            base = common.Result()
            wl.window(args.seconds / 2, off, base)
            _merge_counts(res, base)
            tr = common.Tracer(spark, True)
            counters = common.SessionCounters(spark)
            counters.start()
            p0 = time.perf_counter()
            traced = common.Result()
            wl.window(args.seconds / 2, tr, traced)
            p1 = time.perf_counter()
            res.layer.update(counters.finish())
            # the probe's inputs are generated outside its timed phase
            wl.prepare_probe()
            q0 = time.perf_counter()
            wl.probe_layers(tr, res)
            phases = {"window": (p0, p1), "probe": (q0, time.perf_counter())}
            _merge_counts(res, traced)
            tr.release()
            from big_data___knowledge_graph_construction_with_llm_spark import materialize

            materialize.flush_releases(blocking=True)
            res.layer["materialize.peak_storage_bytes"] = tr.peak_storage
            res.layer["materialize.resident_bytes_after"] = common.storage_bytes(spark)
            res.layer.update(_layer_metrics(tr, phases))
            res.layer.update(traced.layer)
            res.layer.update(getattr(wl, "setup_layers", {}))
            untraced_ms = base.p50_ms()
            traced_ms = traced.p50_ms()
            res.layer["trace.untraced_op_ms"] = untraced_ms
            res.layer["trace.traced_op_ms"] = traced_ms
            res.layer["trace.overhead_frac"] = traced_ms / untraced_ms - 1 if untraced_ms else 0.0
            res.layer["trace.spans"] = len(tr.spans)
            spans_path = args.spans or os.path.join(
                CHECKOUT, ".perfbench_spans", f"{args.workload}-{args.seed}.jsonl"
            )
            os.makedirs(os.path.dirname(os.path.abspath(spans_path)), exist_ok=True)
            tr.dump(spans_path)
            res.info["spans_file"] = spans_path
        finish = getattr(wl, "close", None)
        if finish is not None:
            finish(res)
        peak_rss_mb = tree.stop()
    finally:
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(root, ignore_errors=True)
        parent = os.path.dirname(root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    attempted = max(res.attempted, 1)
    values = {
        "setup_s": res.setup_s,
        "peak_rss_mb": peak_rss_mb,
        "ok_op_frac": (attempted - res.failed) / attempted,
        "work_per_s": res.work_units / res.elapsed_s if res.elapsed_s else 0.0,
        "op_p50_ms": res.p50_ms(),
    }
    for e in res.errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    info = {k: round(v, 6) if isinstance(v, float) else v for k, v in res.info.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, **info}))
    if args.trace == 0:
        chosen = {m["name"]: (values[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    else:
        chosen = {
            m["name"]: (float(res.layer.get(m["name"], 0)), m["unit"])
            for m in spec["per_layer"]
        }
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": attempted,
        "failed": res.failed if res.attempted else attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
