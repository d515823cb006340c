"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed (string-seeded
`random.Random`, which is stable across runs and Python processes), so
the same seed always yields byte-identical inputs.

- `documents`: the curation `documents` table, fitted to the measured
  shape of the sf0.1 table: a 30-word vocabulary drawn uniformly, 10-100
  words per document, language mix en 41 % and zh/es/fr/de about 15 %
  each, 20 sources assigned round-robin (`src{doc_id % 20}`), and 5 % near
  duplicates (another document's text plus the token "dup").
- `json_versions`: nested JSON documents in two versions; v2 is v1 with a
  planted schema drift (added, removed and retyped leaves), described by a
  manifest that the diff check compares against.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
SOURCES = 20
NEAR_DUP_RATE = 0.05


def documents(seed, n, path):
    rng = random.Random(f"documents:{seed}")
    base = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
            for _ in range(n)]
    near = [rng.random() < NEAR_DUP_RATE for _ in range(n)]
    originals = [i for i in range(n) if not near[i]]
    texts = [base[rng.choice(originals)] + " dup" if near[i] else base[i]
             for i in range(n)]
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=n), pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
    return {"rows": n, "bytes": os.path.getsize(path), "near_dups": sum(near)}


WORDS = ["amber", "birch", "cedar", "delta", "ember", "fjord", "grove",
         "harbor", "inlet", "juniper", "kestrel", "lagoon", "meadow",
         "nectar", "orchid", "prairie", "quartz", "ridge", "summit", "tundra"]
CATEGORIES = ["tools", "garden", "kitchen", "office", "outdoor", "toys"]
TEAMS = ["core", "infra", "growth", "search", "ml"]
KINDS = ["open", "close", "merge", "review", "tag"]
FORMATS = ["csv", "parquet", "avro", "orc"]
REGIONS = ["north", "south", "east", "west"]

# drift candidates: leaves that may be removed, integer leaves that may be
# retyped to strings, and new leaves (path, value generator) that may be added
REMOVABLE = ["legacy_code", "region", "flags.archived", "payload.format",
             "owner.level", "stats.ratio"]
RETYPABLE = ["rank", "version_num", "owner.uid", "payload.size", "stats.views"]
ADDABLE = {
    "priority_label": lambda r: r.choice(["low", "mid", "high"]),
    "owner.shift": lambda r: r.choice(["day", "night"]),
    "stats.clicks": lambda r: r.randint(0, 5000),
    "flags.pinned": lambda r: r.random() < 0.3,
    "reviewed": lambda r: r.random() < 0.5,
}


def _words(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def record(rng, i):
    return {
        "id": i,
        "title": _words(rng, 2, 5),
        "score": round(rng.uniform(0, 100), 3),
        "active": rng.random() < 0.7,
        "rank": rng.randint(1, 1000),
        "category": rng.choice(CATEGORIES),
        "tags": [rng.choice(WORDS) for _ in range(rng.randint(0, 4))],
        "note": None if rng.random() < 0.1 else _words(rng, 3, 8),
        "owner": {"uid": rng.randint(1, 50000), "team": rng.choice(TEAMS),
                  "level": rng.randint(1, 9)},
        "stats": {"views": rng.randint(0, 10 ** 6), "ratio": round(rng.random(), 4),
                  "history": [rng.randint(0, 99) for _ in range(rng.randint(1, 6))]},
        "events": [{"kind": rng.choice(KINDS), "count": rng.randint(1, 20)}
                   for _ in range(rng.randint(0, 3))],
        "flags": {"beta": rng.random() < 0.2, "archived": rng.random() < 0.1},
        "legacy_code": rng.choice(["A1", "B2", "C3", "D4"]),
        "region": rng.choice(REGIONS),
        "version_num": rng.randint(1, 40),
        "payload": {"size": rng.randint(10, 99999), "format": rng.choice(FORMATS),
                    "checksum_ok": rng.random() < 0.95},
    }


def _parent(doc, path):
    *head, leaf = path.split(".")
    for k in head:
        doc = doc[k]
    return doc, leaf


def drift_plan(seed):
    rng = random.Random(f"drift:{seed}")
    return {
        "added": sorted(rng.sample(sorted(ADDABLE), 2)),
        "removed": sorted(rng.sample(REMOVABLE, 2)),
        "retyped": {p: ["integer", "string"] for p in sorted(rng.sample(RETYPABLE, 2))},
    }


def evolve(rng, doc, plan):
    """v2 of one v1 document: the planted drift and nothing else."""
    doc = json.loads(json.dumps(doc))
    for p in plan["removed"]:
        parent, leaf = _parent(doc, p)
        del parent[leaf]
    for p in plan["retyped"]:
        parent, leaf = _parent(doc, p)
        parent[leaf] = rng.choice(WORDS)
    for p in plan["added"]:
        parent, leaf = _parent(doc, p)
        parent[leaf] = ADDABLE[p](rng)
    return doc


def json_versions(seed, n, out_dir):
    rng = random.Random(f"json:{seed}")
    rng2 = random.Random(f"json-v2:{seed}")
    plan = drift_plan(seed)
    b1 = b2 = 0
    with open(os.path.join(out_dir, "v1.jsonl"), "w") as f1, \
            open(os.path.join(out_dir, "v2.jsonl"), "w") as f2:
        for i in range(n):
            d1 = record(rng, i)
            l1 = json.dumps(d1) + "\n"
            l2 = json.dumps(evolve(rng2, d1, plan)) + "\n"
            f1.write(l1)
            f2.write(l2)
            b1 += len(l1)
            b2 += len(l2)
    with open(os.path.join(out_dir, "drift.json"), "w") as f:
        json.dump(plan, f, indent=1, sort_keys=True)
    return {"docs_per_version": n, "v1_bytes": b1, "v2_bytes": b2, "drift": plan}


def json_sample(seed, n, path):
    """The first `n` v1 documents: the JsonWalk kernel sample."""
    rng = random.Random(f"json:{seed}")
    with open(path, "w") as f:
        for i in range(n):
            f.write(json.dumps(record(rng, i)) + "\n")
