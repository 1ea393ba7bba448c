"""Seeded input generators and the Python models the checks compare against.

Everything here is plain Python: the engine only ever sees the files these
functions write. The same seed always writes byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
import string

GROUPS = [f"g{i:02d}" for i in range(16)]
TS0 = 1_700_000_000

# Word list for the dedup corpus: lowercase letters only, so every
# whitespace tokenizer agrees with the engine's.
_SYLLABLES = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]


def _name(rng: random.Random) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(8))


def event_records(seed: int, n: int) -> list[dict]:
    """Flat events: ``id, group, name, value, ts`` (all ints or strings).

    ``value`` is uniform on 0..200, so about half the records pass
    ``select(.value > 100)``."""
    rng = random.Random(seed)
    return [
        {
            "id": i,
            "group": rng.choice(GROUPS),
            "name": _name(rng),
            "value": rng.randint(0, 200),
            "ts": TS0 + i,
        }
        for i in range(n)
    ]


def write_ndjson(path: str, records: list[dict], files: int = 1) -> None:
    """Write ``records`` as NDJSON into ``files`` part files under ``path``."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(records) // files)
    for f in range(files):
        chunk = records[f * per:(f + 1) * per]
        with open(os.path.join(path, f"part-{f:03d}.json"), "w") as fh:
            fh.writelines(json.dumps(r, separators=(",", ":")) + "\n" for r in chunk)


# --------------------------------------------------------------- route_fanout

def route_expected(records: list[dict]) -> list[dict]:
    """The route program's output records, in input order."""
    return [
        {
            "id": r["id"],
            "group": r["group"],
            "name": r["name"].upper(),
            "v2": r["value"] * 2,
            "ts": r["ts"],
        }
        for r in records
        if r["value"] > 100
    ]


# --------------------------------------------------------------- jq_batch_agg

def agg_invariants(records: list[dict]) -> tuple[int, int]:
    """(records with value > 100, sum of their values): what the per-batch
    ``n`` and ``total`` fields must add up to, whatever the batch bounds."""
    kept = [r["value"] for r in records if r["value"] > 100]
    return len(kept), sum(kept)


# --------------------------------------------------------------- delta_upsert

def upsert_seed(seed: int, n: int) -> list[dict]:
    """The table's first commit: keys ``0..n-1``."""
    rng = random.Random(seed)
    return [
        {"id": i, "group": rng.choice(GROUPS), "value": rng.randint(0, 10_000), "ts": TS0}
        for i in range(n)
    ]


def upsert_batch(seed: int, k: int, keys_live: int, n: int, insert_frac: float) -> list[dict]:
    """Batch ``k`` of the MERGE series: distinct keys, ``insert_frac`` of
    them new (ids ``keys_live..``), the rest updates of live keys. Every
    row of batch ``k`` carries ``ts = TS0 + k + 1``, so each batch is
    newer than everything before it and latest-``ts``-wins always updates.
    """
    rng = random.Random(seed * 1_000_003 + k)
    n_ins = int(n * insert_frac)
    upd_keys = rng.sample(range(keys_live), n - n_ins)
    keys = upd_keys + list(range(keys_live, keys_live + n_ins))
    rng.shuffle(keys)
    return [
        {"id": key, "group": rng.choice(GROUPS), "value": rng.randint(0, 10_000), "ts": TS0 + k + 1}
        for key in keys
    ]


class UpsertModel:
    """Latest-``ts``-wins upserts over a dict, with the Change Data Feed
    row count each commit must record (insert: 1, update: pre + post)."""

    def __init__(self, rows: list[dict]):
        self.rows = {r["id"]: r for r in rows}

    def apply(self, batch: list[dict]) -> int:
        cdf = 0
        for r in batch:
            old = self.rows.get(r["id"])
            if old is None:
                self.rows[r["id"]] = r
                cdf += 1
            elif r["ts"] > old["ts"]:
                self.rows[r["id"]] = r
                cdf += 2
        return cdf


# --------------------------------------------------------------- dedup_corpus

def corpus(
    seed: int, n_docs: int, doc_tokens: int, planted: int
) -> tuple[list[dict], list[tuple[int, int, int]]]:
    """Random documents plus ``planted`` clusters of three: an original,
    an exact copy and a near copy with one word changed (3-shingle Jaccard
    about 0.98 for long documents).

    Returns the documents and the clusters as (original, exact, near) ids.
    """
    rng = random.Random(seed)
    vocab = [a + b + c for a in _SYLLABLES for b in _SYLLABLES[:20] for c in "nrst"]
    docs: list[list[str]] = [
        [rng.choice(vocab) for _ in range(doc_tokens)] for _ in range(n_docs)
    ]
    clusters = []
    for orig in rng.sample(range(n_docs), planted):
        words = list(docs[orig])
        pos = rng.randrange(doc_tokens)
        words[pos] = rng.choice([w for w in vocab[:50] if w != words[pos]])
        docs += [list(docs[orig]), words]
        clusters.append((orig, len(docs) - 2, len(docs) - 1))
    order = list(range(len(docs)))
    rng.shuffle(order)  # planted copies land anywhere in the corpus
    new_id = {old: new for new, old in enumerate(order)}
    out = [{"doc_id": new_id[i], "text": " ".join(docs[i])} for i in range(len(docs))]
    out.sort(key=lambda d: d["doc_id"])
    return out, [tuple(new_id[i] for i in c) for c in clusters]


def shingle_set(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0
