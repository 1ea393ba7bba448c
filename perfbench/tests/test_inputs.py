"""The same seed writes byte-identical inputs; another seed does not."""

import filecmp
import os

import gen


def _write_all(root: str, seed: int) -> None:
    gen.write_ndjson(os.path.join(root, "events"), gen.event_records(seed, 300), files=3)
    gen.write_ndjson(os.path.join(root, "seed"), gen.upsert_seed(seed, 200))
    for k in range(3):
        batch = gen.upsert_batch(seed, k, 200 + 4 * k, 20, 0.2)
        gen.write_ndjson(os.path.join(root, f"batch{k}"), batch)
    docs, _pairs = gen.corpus(seed, 20, 30, 3)
    gen.write_ndjson(os.path.join(root, "corpus"), docs)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_gives_identical_bytes(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_other_seed_gives_other_bytes(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 8)
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_upsert_batches_update_and_insert():
    seed_rows = gen.upsert_seed(3, 100)
    model = gen.UpsertModel(seed_rows)
    batch = gen.upsert_batch(3, 0, 100, 10, 0.2)
    assert len({r["id"] for r in batch}) == 10
    # 8 updates (pre + post image) and 2 inserts
    assert model.apply(batch) == 8 * 2 + 2
    assert len(model.rows) == 102


def test_planted_clusters_are_exact_and_near_copies():
    docs, clusters = gen.corpus(5, 30, 300, 4)
    text = {d["doc_id"]: d["text"] for d in docs}
    assert len(docs) == 38 and len(clusters) == 4
    for orig, exact, near in clusters:
        assert text[orig] == text[exact] != text[near]
        j = gen.jaccard(gen.shingle_set(text[orig]), gen.shingle_set(text[near]))
        assert 0.97 <= j < 1
