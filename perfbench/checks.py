"""Output checks, computed from the generated inputs and never by the engine.

Each check raises :class:`CheckFailed` with a short reason; the harness
counts a pass as verified only when every check of that pass returns.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os

from gen import GROUPS, jaccard, shingle_set

ROUTE_FIELDS = ("id", "group", "name", "v2", "ts")
_INT_FIELDS = {"id", "v2", "ts"}


class CheckFailed(Exception):
    pass


def multiset_digest(records) -> tuple[int, int]:
    """(count, order-insensitive hash) of an iterable of dicts: the sum,
    mod 2**64, of a 64-bit digest of each record's canonical JSON."""
    n = 0
    total = 0
    for r in records:
        canon = json.dumps(r, sort_keys=True, separators=(",", ":")).encode()
        total += int.from_bytes(hashlib.blake2b(canon, digest_size=8).digest(), "little")
        n += 1
    return n, total % (1 << 64)


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def read_json_lines(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def read_csv_gz(path: str) -> list[dict]:
    """The route program's CSV: a header line, then one unquoted row per
    record (names are letters only, so no field needs quoting)."""
    with gzip.open(path, "rt") as fh:
        lines = [line.rstrip("\n") for line in fh if line.strip()]
    if not lines:
        raise CheckFailed(f"{path}: empty")
    _expect(f"{path} header", tuple(lines[0].split(",")), ROUTE_FIELDS)
    rows = []
    for line in lines[1:]:
        vals = line.split(",")
        if len(vals) != len(ROUTE_FIELDS):
            raise CheckFailed(f"{path}: malformed row {line!r}")
        rows.append(
            {k: int(v) if k in _INT_FIELDS else v for k, v in zip(ROUTE_FIELDS, vals)}
        )
    return rows


def route_digests(expected: list[dict]) -> dict[str, tuple[int, int]]:
    """Expected (count, hash) per routed destination file, and for the CSV."""
    by_file: dict[str, list[dict]] = {}
    for r in expected:
        by_file.setdefault(f"{r['group']}.json", []).append(r)
    want = {f: multiset_digest(recs) for f, recs in by_file.items()}
    want["all.csv.gz"] = multiset_digest(expected)
    return want


def check_route(out_dir: str, want: dict[str, tuple[int, int]]) -> None:
    """One JSON file per group with exactly that group's records, plus one
    gzip CSV with all of them; compared by count and multiset hash."""
    _expect("route destinations", sorted(os.listdir(out_dir)), sorted(want))
    for name, digest in want.items():
        path = os.path.join(out_dir, name)
        got = read_csv_gz(path) if name.endswith(".csv.gz") else read_json_lines(path)
        _expect(f"route {name}", multiset_digest(got), digest)


def check_agg(path: str, want_n: int, want_total: int) -> None:
    """Per-batch group aggregates: whatever the batch boundaries, the
    ``n`` fields add up to the kept-record count and the ``total`` fields
    to their value sum."""
    n = total = 0
    for row in read_json_lines(path):
        rec = json.loads(row["value"]) if "value" in row else row
        if rec.get("group") not in GROUPS or not isinstance(rec.get("n"), int) or rec["n"] < 1:
            raise CheckFailed(f"agg: bad record {rec!r}")
        n += rec["n"]
        total += rec["total"]
    _expect("agg sum(n)", n, want_n)
    _expect("agg sum(total)", total, want_total)


def check_rows(what: str, got: list[dict], want: list[dict]) -> None:
    _expect(what, multiset_digest(got), multiset_digest(want))


def cdf_rows(table: str, version: int) -> int:
    """Change Data Feed rows one Delta commit recorded: the row counts, from
    the Parquet footers, of the ``cdc`` files its log entry lists."""
    import urllib.parse

    import pyarrow.parquet as pq

    rows = 0
    with open(os.path.join(table, "_delta_log", f"{version:020d}.json")) as fh:
        for line in fh:
            cdc = json.loads(line).get("cdc")
            if cdc:
                path = os.path.join(table, urllib.parse.unquote(cdc["path"]))
                rows += pq.ParquetFile(path).metadata.num_rows
    return rows


def check_dedup(
    docs: list[dict],
    clusters: list[tuple[int, int, int]],
    pairs: list[tuple[int, int]],
    components: dict[int, int],
    threshold: float,
    min_near_recall: float,
) -> None:
    """Every reported pair is a true near-duplicate; every exact copy is
    paired with its original (identical documents have identical MinHash
    signatures, so LSH cannot miss them); at least ``min_near_recall`` of
    the one-word-changed copies are paired with their original (LSH is
    probabilistic: it misses a pair with some small probability); every
    reported planted pair lies in one component."""
    text = {d["doc_id"]: d["text"] for d in docs}
    sets: dict[int, set] = {}

    def sh(i: int) -> set:
        if i not in sets:
            sets[i] = shingle_set(text[i])
        return sets[i]

    for a, b in pairs:
        j = jaccard(sh(a), sh(b))
        if j < threshold:
            raise CheckFailed(f"dedup: pair ({a}, {b}) has Jaccard {j:.4f} < {threshold}")
    found = set(pairs)

    def paired(a: int, b: int) -> bool:
        return (min(a, b), max(a, b)) in found

    for orig, exact, _near in clusters:
        if not paired(orig, exact):
            raise CheckFailed(f"dedup: exact copy ({orig}, {exact}) not found")
    near_found = sum(paired(orig, near) for orig, _exact, near in clusters)
    if near_found < min_near_recall * len(clusters):
        raise CheckFailed(f"dedup: {near_found} of {len(clusters)} near copies found")
    for cluster in clusters:
        for a in cluster:
            for b in cluster:
                if a < b and paired(a, b) and components.get(a) != components.get(b):
                    raise CheckFailed(f"dedup: pair ({a}, {b}) split across components")
    _expect("dedup component nodes", set(components), {x for p in pairs for x in p})


def planted_recall(clusters: list[tuple[int, int, int]], pairs: list[tuple[int, int]]) -> float:
    """Share of the planted pairs (three per cluster) that were reported."""
    found = set(pairs)
    hits = sum(
        (min(a, b), max(a, b)) in found
        for c in clusters for a, b in ((c[0], c[1]), (c[0], c[2]), (c[1], c[2]))
    )
    return hits / (3 * len(clusters))
