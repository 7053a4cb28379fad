"""Seeded input generators with ground truth.

Every workload input except the engine's own code comes from here, from
one integer seed: the same seed writes byte-identical files, another seed
changes them. Each generator returns the paths it wrote plus the truth
the correctness checks compare against; the engine only ever sees the
files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
# accented forms the engine's entity blocking folds back to ASCII
_ACCENT = {"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ú"}

# relation surface forms -> the canonical relation they must map to; every
# key is a CANONICAL_RELATIONS variant of the engine's vocabulary
RELATION_KINDS: dict[str, tuple[str, ...]] = {
    "created by": ("painted by", "authored by", "made by", "sculpted by", "drawn by"),
    "located in": ("located at", "found in", "housed in", "kept in"),
    "depicts": ("depicts subject", "shows", "portrays"),
    "born in": ("born on", "birth year"),
}

RECORD_FIELDS = (
    "id", "title", "artist", "birthplace", "museum", "subject",
    "creator_rel", "location_rel", "depicts_rel", "born_rel",
)


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(_CONS) + rng.choice(_VOWS) for _ in range(syllables))


def _proper_name(rng: random.Random, words: int, syllables: tuple[int, int]) -> str:
    return " ".join(
        _word(rng, rng.randint(*syllables)).capitalize() for _ in range(words)
    )


def _unique_names(
    rng: random.Random, n: int, words: int, syllables: tuple[int, int], taken: set[str]
) -> list[str]:
    # random consonant-vowel names of ten or more letters: two of them lie
    # within edit distance 2 with negligible probability, so each is its
    # own entity (a collision would fail the canonical-entity check loudly)
    out = []
    while len(out) < n:
        s = _proper_name(rng, words, syllables)
        if s.lower() not in taken:
            taken.add(s.lower())
            out.append(s)
    return out


def _accent_variant(rng: random.Random, name: str) -> str:
    pos = [i for i, ch in enumerate(name) if i >= 2 and ch in _ACCENT]
    i = rng.choice(pos)
    return name[:i] + _ACCENT[name[i]] + name[i + 1:]


def _spelling_variant(rng: random.Random, name: str) -> str:
    # one substitution past the first two letters keeps the entity's
    # blocking key (first two letters + length bucket) unchanged
    pos = [i for i, ch in enumerate(name) if i >= 2 and ch.isalpha() and ch.islower()]
    i = rng.choice(pos)
    alt = _CONS if name[i] in _CONS else _VOWS
    ch = rng.choice([c for c in alt if c != name[i]])
    return name[:i] + ch + name[i + 1:]


def _relation_surface(rng: random.Random, variant: str) -> str:
    form = rng.randrange(4)
    if form == 0:
        return variant
    if form == 1:
        return variant.replace(" ", "_")
    if form == 2:
        return variant.title()
    return variant.upper().replace(" ", "_")


@dataclass
class KgInputs:
    paths: dict[str, str]
    input_bytes: int
    truth: dict[str, int] = field(default_factory=dict)
    records: list[dict] = field(default_factory=list)


def kg_records(root: str, seed: int, n_records: int, n_files: int = 4) -> KgInputs:
    """Art-museum-shaped records split across CSV, JSON lines and XML.

    Artists are spelled with planted variants (accent, one-letter typo,
    upper case) of a canonical name; relation fields carry surface
    variants of the canonical relations. One record in twenty lacks its
    ``subject``, so its ``depicts`` triplet is invalid.
    """
    rng = random.Random(seed)
    taken: set[str] = set()
    n_art = max(4, n_records // 6)
    artists = _unique_names(rng, n_art, 2, (3, 4), taken)
    places = _unique_names(rng, max(4, n_records // 40), 1, (5, 6), taken)
    museums = _unique_names(rng, max(4, n_records // 60), 2, (3, 4), taken)
    subjects = _unique_names(rng, max(4, n_records // 30), 1, (5, 7), taken)
    titles = _unique_names(rng, n_records, 3, (3, 5), taken)
    birthplace = {a: rng.choice(places) for a in artists}

    records = []
    used: dict[str, set[str]] = {"artist": set(), "place": set(), "museum": set(), "subject": set()}
    name_variants = invalid = 0
    for i in range(n_records):
        artist = artists[min(int(rng.paretovariate(1.2)) - 1, n_art - 1)]
        kind = rng.randrange(8)
        spelled = artist
        if kind == 0 and any(c in _ACCENT for c in artist[2:]):
            spelled = _accent_variant(rng, artist)
        elif kind == 1:
            spelled = _spelling_variant(rng, artist)
        elif kind == 2:
            spelled = artist.upper()
        name_variants += spelled != artist
        rels = {}
        for col, canon in (
            ("creator_rel", "created by"), ("location_rel", "located in"),
            ("depicts_rel", "depicts"), ("born_rel", "born in"),
        ):
            rels[col] = _relation_surface(rng, rng.choice(RELATION_KINDS[canon]))
        rec = {
            "id": f"r{i:07d}", "title": titles[i], "artist": spelled,
            "birthplace": birthplace[artist], "museum": rng.choice(museums),
            "subject": rng.choice(subjects), **rels, "canonical_artist": artist,
        }
        if rng.randrange(20) == 0:
            rec["subject"] = ""
            invalid += 1
        else:
            used["subject"].add(rec["subject"])
        used["artist"].add(artist)
        used["place"].add(rec["birthplace"])
        used["museum"].add(rec["museum"])
        records.append(rec)

    paths = {}
    os.makedirs(root, exist_ok=True)
    for fmt in ("csv", "json", "xml"):
        d = os.path.join(root, fmt)
        os.makedirs(d, exist_ok=True)
        paths[fmt] = d
    for part in range(n_files):
        chunk = records[part::n_files]
        for j, fmt in enumerate(("csv", "json", "xml")):
            rows = chunk[j::3]
            path = os.path.join(paths[fmt], f"part-{part:03d}.{fmt}")
            with open(path, "w", encoding="utf-8", newline="") as fh:
                if fmt == "csv":
                    fh.write(",".join(RECORD_FIELDS) + "\n")
                    for r in rows:
                        fh.write(",".join(r[c] for c in RECORD_FIELDS) + "\n")
                elif fmt == "json":
                    for r in rows:
                        fh.write(json.dumps({c: r[c] for c in RECORD_FIELDS if r[c]},
                                            ensure_ascii=False) + "\n")
                else:
                    fh.write("<records>\n")
                    for r in rows:
                        body = "".join(
                            f"<{c}>{escape(r[c])}</{c}>" for c in RECORD_FIELDS if r[c]
                        )
                        fh.write(f"<record>{body}</record>\n")
                    fh.write("</records>\n")
    input_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d in paths.values() for f in os.listdir(d)
    )
    entities = n_records + sum(len(v) for v in used.values())
    return KgInputs(
        paths=paths,
        input_bytes=input_bytes,
        truth={
            "records": n_records,
            "invalid_triplets": invalid,
            "canonical_entities": entities,
            **{f"{k}s": len(v) for k, v in used.items()},
            "name_variants": name_variants,
        },
        records=records,
    )


def extract_record(record_json: str) -> list[dict]:
    """Deterministic stand-in for the LLM extractor: four typed triplets
    per museum record, the relation strings passed through verbatim."""
    rec = json.loads(record_json)
    title = rec.get("title")
    return [
        {"subject": title, "subject_type": "Artwork", "relation": rec.get("creator_rel"),
         "object": rec.get("artist"), "object_type": "Artist"},
        {"subject": title, "subject_type": "Artwork", "relation": rec.get("location_rel"),
         "object": rec.get("museum"), "object_type": "Museum"},
        {"subject": title, "subject_type": "Artwork", "relation": rec.get("depicts_rel"),
         "object": rec.get("subject"), "object_type": None},
        {"subject": rec.get("artist"), "subject_type": "Artist", "relation": rec.get("born_rel"),
         "object": rec.get("birthplace"), "object_type": "Place"},
    ]


@dataclass
class Corpus:
    docs_path: str
    bench_path: str
    input_bytes: int
    expected_ids: set[int]
    truth: dict[str, int] = field(default_factory=dict)


def corpus(root: str, seed: int, n_base: int) -> Corpus:
    """A document corpus with planted exact-duplicate and near-duplicate
    families, shared boilerplate footers, low-quality documents and
    documents that quote an evaluation question verbatim (leaks).

    ``expected_ids`` is the exact survivor set of the curation flow:
    every unique document plus the minimum id of each duplicate family.
    """
    rng = random.Random(seed)
    vocab = sorted({_word(rng, rng.randint(2, 4)) for _ in range(6000)})
    footers = [" ".join(rng.choice(vocab) for _ in range(10)) for _ in range(3)]

    def body(lo: int, hi: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]

    questions = [" ".join(body(20, 30)) for _ in range(max(4, n_base // 50))]
    texts: list[tuple[str, str]] = []  # (family, text)
    for i in range(n_base):
        toks = body(60, 90)
        if rng.randrange(7) == 0:
            toks += rng.choice(footers).split()
        texts.append((f"u{i}", " ".join(toks)))
    n_exact = n_near = n_leak = n_low = 0
    for f in range(n_base // 10):
        text = " ".join(body(60, 90))
        copies = rng.randint(2, 4)
        texts += [(f"e{f}", text)] * copies
        n_exact += copies - 1
    for f in range(n_base // 10):
        toks = body(70, 90)
        texts.append((f"n{f}", " ".join(toks)))
        for _ in range(rng.randint(1, 2)):
            copy = list(toks)
            copy[rng.randrange(10, len(copy) - 10)] = rng.choice(vocab)
            texts.append((f"n{f}", " ".join(copy)))
            n_near += 1
    for _ in range(max(4, n_base // 25)):
        q = rng.choice(questions).split()
        start = rng.randrange(0, len(q) - 15)
        toks = body(30, 50)
        cut = rng.randrange(len(toks))
        texts.append(("leak", " ".join(toks[:cut] + q[start:start + 15] + toks[cut:])))
        n_leak += 1
    for _ in range(max(2, n_base // 50)):
        texts.append(("low", " ".join(body(2, 3))))
        w = rng.choice(vocab)
        texts.append(("low", " ".join([w] * 40)))
        n_low += 2

    ids = rng.sample(range(10 * len(texts)), len(texts))
    fams: dict[str, list[int]] = {}
    rows = []
    for doc_id, (fam, text) in zip(ids, texts):
        rows.append({"doc_id": doc_id, "text": text})
        fams.setdefault(fam, []).append(doc_id)
    rows.sort(key=lambda r: r["doc_id"])
    expected = {min(m) for fam, m in fams.items() if fam not in ("leak", "low")}

    os.makedirs(root, exist_ok=True)
    docs_path = os.path.join(root, "docs.jsonl")
    bench_path = os.path.join(root, "eval.jsonl")
    with open(docs_path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    with open(bench_path, "w", encoding="utf-8") as fh:
        for q in questions:
            fh.write(json.dumps({"text": q}) + "\n")
    return Corpus(
        docs_path=docs_path,
        bench_path=bench_path,
        input_bytes=os.path.getsize(docs_path) + os.path.getsize(bench_path),
        expected_ids=expected,
        truth={
            "docs": len(rows), "exact_copies": n_exact, "near_copies": n_near,
            "leaks": n_leak, "low_quality": n_low, "survivors": len(expected),
        },
    )


def describe(rec: dict) -> str:
    """The searchable description of one artwork record."""
    return " ".join([rec["title"], rec["artist"], rec["museum"], rec["subject"]]).lower()


def write_docs(path: str, records: list[dict]) -> None:
    """One ``{vec_id, text}`` JSON line per record, ids in record order."""
    with open(path, "w", encoding="utf-8") as fh:
        for i, rec in enumerate(records):
            fh.write(json.dumps({"vec_id": i, "text": describe(rec)}, ensure_ascii=False) + "\n")


class ZipfKeys:
    """Seeded draws of record indexes with rank-frequency ~ 1/rank**s
    over a seeded ranking."""

    def __init__(self, seed: int, n: int, s: float = 1.1):
        order = list(range(n))
        random.Random(seed).shuffle(order)
        self.order = order
        acc, cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            cum.append(acc)
        self.cum = cum

    def draw(self, rng: random.Random) -> int:
        return self.order[rng.choices(range(len(self.cum)), cum_weights=self.cum)[0]]


_DOC_WORDS = (
    "row the query stream fast spark line small customer group key agg scan slow "
    "table part a merge window order column join vector value hash batch sort data "
    "big filter dup"
).split()
_PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
_PART_NOUN = ("bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo")


def star_tables(root: str, seed: int, sf: float = 0.001) -> dict[str, int]:
    """The engine's query-registry tables (TPC-H-shaped star schema plus
    ``events``, ``documents`` and ``embeddings``) as one parquet file
    each under ``root``; returns row counts. Column names, types and
    value domains follow the registry's expectations."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    n_cust, n_supp, n_part = max(15, int(150_000 * sf)), max(10, int(10_000 * sf)), max(20, int(200_000 * sf))
    n_orders, n_events, n_docs = int(1_500_000 * sf), max(1000, int(1_000_000 * sf)), 500
    day0 = dt.datetime(1995, 1, 1)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables: dict[str, dict[str, tuple[pa.DataType, list]]] = {}

    def money(lo: float, hi: float) -> float:
        return round(rng.uniform(lo, hi), 2)

    tables["region"] = {"r_regionkey": (pa.int32(), list(range(5))), "r_name": (pa.string(), regions)}
    tables["nation"] = {
        "n_nationkey": (pa.int32(), list(range(25))),
        "n_name": (pa.string(), [f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (pa.int32(), [i % 5 for i in range(25)]),
    }
    tables["customer"] = {
        "c_custkey": (pa.int64(), list(range(n_cust))),
        "c_name": (pa.string(), [f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": (pa.int32(), [rng.randrange(25) for _ in range(n_cust)]),
        "c_acctbal": (pa.float64(), [money(-999.99, 9999.99) for _ in range(n_cust)]),
        "c_mktsegment": (pa.string(), [rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]) for _ in range(n_cust)]),
    }
    tables["supplier"] = {
        "s_suppkey": (pa.int64(), list(range(n_supp))),
        "s_name": (pa.string(), [f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": (pa.int32(), [rng.randrange(25) for _ in range(n_supp)]),
        "s_acctbal": (pa.float64(), [money(-999.99, 9999.99) for _ in range(n_supp)]),
    }
    tables["part"] = {
        "p_partkey": (pa.int64(), list(range(n_part))),
        "p_name": (pa.string(), [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n_part)]),
        "p_brand": (pa.string(), [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)]),
        "p_type": (pa.string(), [rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]) for _ in range(n_part)]),
        "p_size": (pa.int32(), [rng.randint(1, 50) for _ in range(n_part)]),
        "p_retailprice": (pa.float64(), [round(900 + (i % 1000) / 10, 2) for i in range(n_part)]),
    }
    odates = [day0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_orders)]
    tables["orders"] = {
        "o_orderkey": (pa.int64(), list(range(n_orders))),
        "o_custkey": (pa.int64(), [rng.randrange(n_cust) for _ in range(n_orders)]),
        "o_orderstatus": (pa.string(), [rng.choice("FOP") for _ in range(n_orders)]),
        "o_totalprice": (pa.float64(), [money(1000, 500_000) for _ in range(n_orders)]),
        "o_orderdate": (pa.timestamp("us"), odates),
        "o_orderpriority": (pa.string(), [rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]) for _ in range(n_orders)]),
    }
    li: dict[str, list] = {c: [] for c in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odates[o] + dt.timedelta(days=rng.randint(1, 120)))
    types = {"l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us")}
    tables["lineitem"] = {
        c: (types.get(c, pa.int64() if c in ("l_orderkey", "l_partkey", "l_suppkey")
                      else pa.string() if c in ("l_returnflag", "l_linestatus") else pa.float64()), v)
        for c, v in li.items()
    }
    t0 = dt.datetime(2024, 1, 1)
    secs = sorted(rng.uniform(0, 30 * 86400) for _ in range(n_events))
    tables["events"] = {
        "event_id": (pa.int64(), list(range(n_events))),
        "ts": (pa.timestamp("us"), [t0 + dt.timedelta(seconds=s) for s in secs]),
        "user_id": (pa.int64(), [rng.randrange(150) for _ in range(n_events)]),
        "event_type": (pa.string(), [rng.choice(
            ["click", "signup", "error", "view", "purchase"]) for _ in range(n_events)]),
        "value": (pa.float64(), [round(rng.expovariate(1 / 50) + 0.01, 2) for _ in range(n_events)]),
        "props": (pa.string(), [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)]),
    }
    docs = [" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 99))) for _ in range(n_docs)]
    tables["documents"] = {
        "doc_id": (pa.int64(), list(range(n_docs))),
        "text": (pa.string(), docs),
        "lang": (pa.string(), [rng.choice(["en", "de", "fr", "es", "zh"]) for _ in range(n_docs)]),
        "source": (pa.string(), [f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": (pa.int64(), [len(d) for d in docs]),
    }
    vecs = []
    for _ in range(n_docs):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    tables["embeddings"] = {
        "vec_id": (pa.int64(), list(range(n_docs))),
        "embedding": (pa.list_(pa.float32()), vecs),
        "label": (pa.int32(), [rng.randrange(10) for _ in range(n_docs)]),
    }
    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        schema = pa.schema([(c, t) for c, (t, _) in cols.items()])
        table = pa.table({c: pa.array(v, type=t) for c, (t, v) in cols.items()}, schema=schema)
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def canonical_triplets(records: list[dict]) -> list[tuple[str, str, str]]:
    """The resolved, canonicalized edge list ``(src, dst, relationship)``
    a build of ``records`` stores: one edge per valid triplet, artists
    under their canonical spelling, one ``born in`` edge per artist."""
    edges = set()
    for r in records:
        artist = r["canonical_artist"]
        edges.add((r["title"], artist, "created by"))
        edges.add((r["title"], r["museum"], "located in"))
        if r["subject"]:
            edges.add((r["title"], r["subject"], "depicts"))
        edges.add((artist, r["birthplace"], "born in"))
    return sorted(edges)
