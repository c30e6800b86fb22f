"""The rows-only output checks of ops_headline: the Python SimHash reference
matches Spark's hashing, and each check reports a broken result."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

import ops

# Spark 4.1.2 ``xxhash64`` of these strings (signed, as Spark returns them)
SPARK_XXHASH64 = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "abc": 1423657621850124518,
    "abcd": -6810745876291105281,
    "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH": 2083283336357327680,
}


def test_xxhash64_matches_spark():
    for text, want in SPARK_XXHASH64.items():
        assert ops.xxhash64(text.encode()) == want % (1 << 64), text


def test_simhash_pairs_finds_same_word_set_at_distance_zero():
    text = {0: "a b c dup", 1: "a b c b dup", 2: "x y z w v u"}
    assert (0, 1, 0) in ops.simhash_pairs(text, 3)
    assert all(a < b for a, b, _ in ops.simhash_pairs(text, 64))


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _fixture(tmp_path, simhash_rows=None, terms=None):
    """Documents with one planted near-duplicate (doc 1 has doc 0's word
    set) and query results; the defaults are the correct results."""
    texts = ["a b c dup", "a b c b dup", "x y z w v u", "a a a q"]
    data, out = str(tmp_path / "data"), str(tmp_path / "out")
    _write(os.path.join(data, "documents.parquet"),
           {"doc_id": list(range(len(texts))), "text": texts})
    exact = sorted(ops.simhash_pairs(dict(enumerate(texts)), ops.SIMHASH_MAX_DISTANCE))
    rows = exact if simhash_rows is None else simhash_rows
    _write(os.path.join(out, "simhash_near_dups", "part.parquet"),
           {"a": pa.array([r[0] for r in rows], pa.int64()),
            "b": pa.array([r[1] for r in rows], pa.int64()),
            "hamming": pa.array([r[2] for r in rows], pa.int32())})
    _write(os.path.join(out, "minhash_near_dups", "part.parquet"),
           {"a": pa.array([], pa.int64()), "b": pa.array([], pa.int64()),
            "jaccard": pa.array([], pa.float64())})
    counts = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    terms = terms or sorted(counts, key=lambda w: (-counts[w], w))[:ops.HEAVY_HITTERS]
    _write(os.path.join(out, "heavy_hitters_cms", "part.parquet"),
           {"term": terms, "est": pa.array([counts.get(t, 0) for t in terms], pa.int64())})
    return ops.rows_only_problems(out, data)


def test_correct_results_pass(tmp_path):
    assert _fixture(tmp_path) == []


def test_empty_simhash_result_fails(tmp_path):
    problems = _fixture(tmp_path, simhash_rows=[])
    assert any(p.startswith("simhash_near_dups") for p in problems)


def test_wrong_hamming_value_fails(tmp_path):
    problems = _fixture(tmp_path, simhash_rows=[(0, 1, 2)])
    assert any(p.startswith("simhash_near_dups") for p in problems)


def test_heavy_hitters_must_be_the_exact_top_terms(tmp_path):
    problems = _fixture(tmp_path, terms=["q", "x", "y"])
    assert any(p.startswith("heavy_hitters_cms") for p in problems)
