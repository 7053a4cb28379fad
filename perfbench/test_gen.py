"""Determinism of the benchmark's input generators.

    python3 -m pytest perfbench/test_gen.py -q

The same seed must write byte-identical inputs; another seed must change
them. Also checks the planted ground truth the workloads' correctness
checks rely on.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            path = os.path.join(d, n)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _same_and_different(tmp_path, make) -> None:
    a, b, c = (str(tmp_path / x) for x in "abc")
    make(a, 7)
    make(b, 7)
    make(c, 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_kg_records_deterministic(tmp_path):
    _same_and_different(tmp_path, lambda root, seed: gen.kg_records(root, seed, 300))


def test_corpus_deterministic(tmp_path):
    _same_and_different(tmp_path, lambda root, seed: gen.corpus(root, seed, 100))


def test_star_tables_deterministic(tmp_path):
    _same_and_different(tmp_path, lambda root, seed: gen.star_tables(root, seed))


def test_serve_keys_deterministic():
    import random

    keys = gen.ZipfKeys(3, 500)
    draws = [keys.draw(random.Random("x")) for _ in range(5)]
    assert draws == [gen.ZipfKeys(3, 500).draw(random.Random("x")) for _ in range(5)]
    assert keys.order != gen.ZipfKeys(4, 500).order


def test_kg_truth_counts_planted_variants(tmp_path):
    inp = gen.kg_records(str(tmp_path), 5, 600)
    t = inp.truth
    spelled = sum(r["artist"] != r["canonical_artist"] for r in inp.records)
    assert t["name_variants"] == spelled > 0
    assert t["invalid_triplets"] == sum(not r["subject"] for r in inp.records) > 0
    assert t["canonical_entities"] == 600 + t["artists"] + t["places"] + t["museums"] + t["subjects"]
    # every surface form cleans (lower-case, '_' -> ' ') to a known variant
    for r in inp.records:
        for col, canon in (("creator_rel", "created by"), ("born_rel", "born in")):
            assert r[col].lower().replace("_", " ") in gen.RELATION_KINDS[canon]


def test_corpus_truth(tmp_path):
    c = gen.corpus(str(tmp_path), 5, 200)
    t = c.truth
    assert t["survivors"] == len(c.expected_ids)
    assert t["docs"] == t["survivors"] + t["exact_copies"] + t["near_copies"] + t["leaks"] + t["low_quality"]
