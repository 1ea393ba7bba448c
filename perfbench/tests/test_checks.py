"""The output checks accept a correct output and reject a corrupted one:
one record dropped or one value changed drives ``ok_frac`` below 1."""

import gzip
import json
import os
from types import SimpleNamespace

import pytest

import checks
import gen
import run


def _write_route(out: str, expected: list[dict]) -> None:
    """What the FILE/OSS sinks write: one JSON file per group and a gzip
    CSV with a header, in arbitrary order."""
    os.makedirs(out, exist_ok=True)
    for g in {r["group"] for r in expected}:
        with open(os.path.join(out, f"{g}.json"), "w") as fh:
            for r in reversed(expected):
                if r["group"] == g:
                    fh.write(json.dumps(r, separators=(",", ":")) + "\n")
    with gzip.open(os.path.join(out, "all.csv.gz"), "wt") as fh:
        fh.write(",".join(checks.ROUTE_FIELDS) + "\n")
        for r in expected:
            fh.write(",".join(str(r[k]) for k in checks.ROUTE_FIELDS) + "\n")


def _write_agg(path: str, records: list[dict], batch: int = 512) -> None:
    """What the jq-binary pipeline writes: per-batch group aggregates as
    JSON text in a ``value`` column."""
    with open(path, "w") as fh:
        for i in range(0, len(records), batch):
            groups: dict[str, list[int]] = {}
            for r in records[i:i + batch]:
                if r["value"] > 100:
                    groups.setdefault(r["group"], []).append(r["value"])
            for g in sorted(groups):
                rec = {"group": g, "n": len(groups[g]), "total": sum(groups[g])}
                fh.write(json.dumps({"value": json.dumps(rec)}) + "\n")


def _drop_line(path: str, index: int = 0) -> None:
    with open(path) as fh:
        lines = fh.readlines()
    del lines[index]
    with open(path, "w") as fh:
        fh.writelines(lines)


def _edit_first_line(path: str, old: str, new: str) -> None:
    with open(path) as fh:
        lines = fh.readlines()
    assert old in lines[0]
    lines[0] = lines[0].replace(old, new, 1)
    with open(path, "w") as fh:
        fh.writelines(lines)


@pytest.fixture
def route(tmp_path):
    expected = gen.route_expected(gen.event_records(1, 400))
    out = str(tmp_path / "route")
    _write_route(out, expected)
    return out, checks.route_digests(expected)


def test_route_accepts_correct_output(route):
    checks.check_route(*route)


def test_route_rejects_dropped_record(route):
    out, want = route
    _drop_line(os.path.join(out, "g00.json"))
    with pytest.raises(checks.CheckFailed):
        checks.check_route(out, want)


def test_route_rejects_changed_value(route):
    out, want = route
    path = os.path.join(out, "g03.json")
    rec = json.loads(open(path).readline())
    _edit_first_line(path, f'"v2":{rec["v2"]}', f'"v2":{rec["v2"] + 2}')
    with pytest.raises(checks.CheckFailed):
        checks.check_route(out, want)


def test_route_rejects_changed_csv_row(route):
    out, want = route
    path = os.path.join(out, "all.csv.gz")
    with gzip.open(path, "rt") as fh:
        lines = fh.readlines()
    lines[1] = lines[1].replace(",", ",x", 1)  # one group name changed
    with gzip.open(path, "wt") as fh:
        fh.writelines(lines)
    with pytest.raises(checks.CheckFailed):
        checks.check_route(out, want)


def test_agg_invariants_hold_for_any_batch_size(tmp_path):
    records = gen.event_records(2, 1000)
    for batch in (7, 512, 1000):
        path = str(tmp_path / f"agg{batch}.json")
        _write_agg(path, records, batch)
        checks.check_agg(path, *gen.agg_invariants(records))


def test_agg_rejects_dropped_or_changed_aggregate(tmp_path):
    records = gen.event_records(2, 1000)
    path = str(tmp_path / "agg.json")
    _write_agg(path, records)
    _drop_line(path)
    with pytest.raises(checks.CheckFailed):
        checks.check_agg(path, *gen.agg_invariants(records))
    _write_agg(path, records)
    _edit_first_line(path, '\\"total\\": ', '\\"total\\": 1')
    with pytest.raises(checks.CheckFailed):
        checks.check_agg(path, *gen.agg_invariants(records))


def test_snapshot_rows_compare_as_multisets():
    model = gen.UpsertModel(gen.upsert_seed(4, 50))
    model.apply(gen.upsert_batch(4, 0, 50, 10, 0.2))
    rows = list(model.rows.values())
    checks.check_rows("snapshot", list(reversed(rows)), rows)
    with pytest.raises(checks.CheckFailed):
        checks.check_rows("snapshot", rows[1:], rows)
    changed = [dict(rows[0], value=rows[0]["value"] + 1)] + rows[1:]
    with pytest.raises(checks.CheckFailed):
        checks.check_rows("snapshot", changed, rows)


def _true_pairs(docs, threshold):
    sets = {d["doc_id"]: gen.shingle_set(d["text"]) for d in docs}
    ids = sorted(sets)
    return [
        (a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
        if gen.jaccard(sets[a], sets[b]) >= threshold
    ]


def test_dedup_accepts_exact_answer_and_rejects_missing_or_bogus_pairs():
    docs, clusters = gen.corpus(6, 25, 100, 3)
    pairs = _true_pairs(docs, 0.8)

    def check(pairs, min_near_recall=1.0):
        # planted clusters are cliques, so a component is its smallest id
        comps = {x: min(y for p in pairs if x in p for y in p) for p in pairs for x in p}
        checks.check_dedup(docs, clusters, pairs, comps, 0.8, min_near_recall)

    check(pairs)
    assert checks.planted_recall(clusters, pairs) == 1.0
    orig, exact, near = clusters[0]
    without_exact = [p for p in pairs if p != tuple(sorted((orig, exact)))]
    with pytest.raises(checks.CheckFailed):
        check(without_exact, min_near_recall=0.0)
    without_near = [p for p in pairs if near not in p]
    with pytest.raises(checks.CheckFailed):
        check(without_near)
    check(without_near, min_near_recall=0.6)  # 2 of 3 near copies found
    unrelated = next((a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))
                     if (a, b) not in pairs)
    with pytest.raises(checks.CheckFailed):
        check(pairs + [unrelated])


class _FakeEngineWorkload:
    """Stands in for a workload whose engine output is written from the
    model, corrupted on the passes listed in ``corrupt``."""

    def __init__(self, out_root, corrupt):
        self.spark = SimpleNamespace(sparkContext=None)
        self.pass_info = {}
        self.out_root = out_root
        self.corrupt = corrupt
        self.expected = gen.route_expected(gen.event_records(9, 200))
        self.want = checks.route_digests(self.expected)

    def stage(self, k):
        pass

    def run_pass(self, k):
        out = os.path.join(self.out_root, str(k))
        _write_route(out, self.expected)
        if k in self.corrupt:
            _drop_line(os.path.join(out, "g01.json"))
        return 200

    def check_pass(self, k):
        checks.check_route(os.path.join(self.out_root, str(k)), self.want)


@pytest.mark.parametrize("corrupt, ok", [((), 1.0), ((1,), 0.75)])
def test_corrupted_pass_drives_ok_frac_below_one(tmp_path, corrupt, ok):
    passes = run.Passes(_FakeEngineWorkload(str(tmp_path), set(corrupt)))
    timed = passes.window(seconds=0, min_passes=4 - len(corrupt), limit=60)
    metrics = run.end_to_end_metrics(timed, passes.attempted, passes.failed, setup_s=1.0)
    assert metrics["ok_frac"]["value"] == ok
    assert passes.failed == len(corrupt)
