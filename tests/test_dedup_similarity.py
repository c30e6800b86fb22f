"""Recall gates for the approximate operators (dedup + ANN), against their
exact counterparts on the driver testdata — the checks the rows-only entry
queries defer to (SURVEY.md §2.3 ANN-dedup semantics, api_insert.py:130-165).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from raptor_spark.operators.dedup import (
    exact_dedup,
    hamming_near_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from raptor_spark.operators.similarity import ann_topk, brute_force_topk, cosine_col
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    # unpersist on teardown: the cache manager matches ANY later scan of the
    # same path by plan, which would mask PushedFilters in test_plans
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()
    yield df
    df.unpersist()


def _pairs(df):
    return {(r.a, r.b) for r in df.collect()}


def test_minhash_recall_vs_exact_jaccard(spark, docs):
    """LSH candidate generation must recover ≥90% of true j≥0.5 pairs and
    report exact jaccard for everything it emits (precision 1.0 by verify)."""
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5)
    golden = {(r.a, r.b): r.jaccard for r in exact.collect()}
    got = {
        (r.a, r.b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n_hashes=32, n_bands=16, shingle_n=2,
            jaccard_threshold=0.5,
        ).collect()
    }
    assert golden, "fixture corpus has no near-dup pairs; test is vacuous"
    # precision: every emitted pair is a true pair with the exact score
    for pair, j in got.items():
        assert pair in golden and abs(golden[pair] - j) < 1e-9, pair
    # recall of the banding
    recall = len(got) / len(golden)
    assert recall >= 0.9, f"LSH recall {recall:.3f}"


def test_minhash_bucket_cap_only_drops_flooded_buckets(spark, docs):
    """max_bucket=None (exhaustive banding) and the default cap agree on this
    corpus — the cap must only fire on degenerate buckets."""
    capped = _pairs(
        minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=32, n_bands=16,
                          shingle_n=2, jaccard_threshold=0.5)
    )
    uncapped = _pairs(
        minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=32, n_bands=16,
                          shingle_n=2, jaccard_threshold=0.5, max_bucket=None)
    )
    assert capped <= uncapped
    assert len(uncapped) == 0 or len(capped) / len(uncapped) >= 0.95


def test_bucket_pairs_cap_boundary(spark):
    """The shared capped-bucket expansion against itertools.combinations on
    hand-built buckets: a singleton emits nothing, a bucket of exactly
    max_bucket members emits all C(max_bucket, 2) pairs, one more member
    drops the bucket, and max_bucket=None keeps every bucket."""
    from itertools import combinations

    from raptor_spark.lsh import bucket_pairs

    cap = 5
    members = {"one": [7], "full": list(range(10, 10 + cap)),
               "over": list(range(20, 21 + cap))}
    rows = spark.createDataFrame(
        [(k, i) for k, ids in members.items() for i in reversed(ids)],
        "k string, id long",
    )

    def want(keys):
        return {p for k in keys for p in combinations(members[k], 2)}

    capped = _pairs(bucket_pairs(rows, ["k"], ["id"], cap))
    assert len(capped) == cap * (cap - 1) // 2
    assert capped == want(["full"])
    assert _pairs(bucket_pairs(rows, ["k"], ["id"], None)) == want(members)
    # the in-bucket predicate sees both member structs, a < b
    odd = _pairs(
        bucket_pairs(rows, ["k"], ["id"], None, lambda x, y: (x["id"] + y["id"]) % 2 == 1)
    )
    assert odd == {(a, b) for a, b in want(members) if (a + b) % 2}


def test_dedup_twins_drop_null_text(spark):
    """NULL text has no words or shingles: the MinHash and SimHash twins
    drop it (as their DuckDB oracles do, unnest(NULL) emitting no rows),
    while blank texts ('' and whitespace) still pair with each other."""
    from raptor_spark.operators.dedup import minhash_lsh_pairs_md5, simhash_md5

    fox = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "   "), (5, fox), (6, fox + " again")],
        "id long, text string",
    )
    for pairs in (
        minhash_lsh_pairs(df, "id", "text", shingle_n=2, jaccard_threshold=0.5),
        minhash_lsh_pairs_md5(df, "id", "text", n=1, n_hashes=16, bands=16),
    ):
        got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
        assert set(got) == {(3, 4), (5, 6)}, got
        assert got[(3, 4)] == 1.0
    for fn in (simhash, simhash_md5):
        fp = fn(df, "id", "text")
        assert sorted(r.id for r in fp.collect()) == [3, 4, 5, 6]
        assert (3, 4) in _pairs(hamming_near_pairs(fp, max_distance=3))


def test_simhash_hamming_symmetry_and_exactness(spark, docs):
    """Pairs from the pigeonhole blocking must match a brute-force hamming
    scan (the blocking is an optimization, never a semantic change)."""
    fp = simhash(docs.filter(F.col("doc_id") < 120), "doc_id", "text").persist()
    got = _pairs(hamming_near_pairs(fp, max_distance=3))
    brute = (
        fp.alias("a").join(fp.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a"), F.col("b.id").alias("b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h"),
        )
        .filter(F.col("h") <= 3)
    )
    assert got == _pairs(brute)


def test_minhash_md5_recall_and_precision(spark, docs):
    """The engine-portable md5-lane LSH twin (r5, oracle-backed as
    minhash_near_dups_md5) must report exact jaccard for everything it
    emits and recover ≥90% of true 1-gram j≥0.5 pairs."""
    from raptor_spark.operators.dedup import minhash_lsh_pairs_md5

    sub = docs.filter(F.col("doc_id") < 150)
    exact = ngram_jaccard_pairs(sub, "doc_id", "text", n=1, threshold=0.5)
    golden = {(r.a, r.b): r.jaccard for r in exact.collect()}
    got = {
        (r.a, r.b): r.jaccard
        for r in minhash_lsh_pairs_md5(
            sub, "doc_id", "text", n=1, n_hashes=16, bands=16,
            jaccard_threshold=0.5,
        ).collect()
    }
    assert golden, "fixture corpus has no near-dup pairs; test is vacuous"
    for pair, j in got.items():
        assert pair in golden and abs(golden[pair] - j) < 1e-9, pair
    recall = len(got) / len(golden)
    assert recall >= 0.9, f"md5-lane LSH recall {recall:.3f}"


def test_simhash_md5_blocking_and_python_replay(spark, docs):
    """The md5-bit SimHash twin (r5, oracle-backed as simhash_near_dups_md5):
    (a) pigeonhole blocking matches a brute-force hamming scan, and (b) the
    fingerprint matches a pure-Python hashlib replay — the cross-engine
    determinism the DuckDB oracle depends on."""
    import hashlib
    import re

    from raptor_spark.operators.dedup import simhash_md5

    sub = docs.filter(F.col("doc_id") < 120)
    fp = simhash_md5(sub, "doc_id", "text").persist()
    got = _pairs(hamming_near_pairs(fp, max_distance=3))
    brute = (
        fp.alias("a").join(fp.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a"), F.col("b.id").alias("b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("h"),
        )
        .filter(F.col("h") <= 3)
    )
    assert got == _pairs(brute)

    spark_fp = {r.id: r.simhash for r in fp.collect()}
    for row in sub.limit(5).collect():
        words = set(re.split(r"\s+", row.text.strip().lower()))
        sums = [0] * 64
        for w in words:
            h = hashlib.md5(w.encode()).hexdigest()
            for j in range(64):
                d = int(h[j // 4], 16)
                sums[j] += 1 if (d >> (j % 4)) & 1 else -1
        expect = 0
        for j in range(64):
            if sums[j] > 0:
                expect += (1 << j) if j < 63 else -(1 << 63)
        assert spark_fp[row.doc_id] == expect, row.doc_id
    fp.unpersist()


def test_near_dup_clusters_match_union_find(spark, docs):
    """Cluster assignment must equal a driver-side union-find over the same
    pairs (min-id representative)."""
    from raptor_spark.operators.dedup import near_dup_clusters

    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=32, n_bands=16, shingle_n=2,
        jaccard_threshold=0.5,
    ).persist()
    got = {(r.id, r.cluster) for r in near_dup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    plist = [(r.a, r.b) for r in pairs.collect()]
    assert plist, "fixture corpus has no near-dup pairs; test is vacuous"
    for a, b in plist:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(x, find(x)) for x in parent}
    assert got == want
    pairs.unpersist()


def test_hard_negatives_band_is_exact(spark):
    """Planted geometry on the unit circle: corpus vectors at increasing
    angles from the query, so cosine rank == angular order. The (k_skip,
    k_skip+k_take] band must contain exactly the middle vectors — no
    positives (top ranks), no tail."""
    import math

    from raptor_spark.operators.similarity import hard_negatives

    corpus_rows = [
        (i, [math.cos(i * 0.1), math.sin(i * 0.1)]) for i in range(12)
    ]
    corpus = spark.createDataFrame(corpus_rows, "id long, vec array<double>")
    qs = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, vec array<double>")
    got = sorted(
        (r["rank"], r["id"])
        for r in hard_negatives(corpus, qs, k_skip=3, k_take=4).collect()
    )
    # angular order == id order: ranks 1..3 are ids 0..2 (skipped),
    # the band holds ranks 4..7 == ids 3..6
    assert got == [(4, 3), (5, 4), (6, 5), (7, 6)]


def test_cluster_representatives_keep_best(spark):
    """Hand fixture: chain cluster {1,2,3}, pair {10,11}, singleton 20.
    The representative is the max-score member (ties to min id), member
    counts are exact, singletons keep themselves, and the kept_ids union
    covers every cluster exactly once."""
    from raptor_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2), (20, 7)],
        "id long, score long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, cluster long"
    )
    got = {
        r["cluster"]: (r["kept_id"], r["kept_score"], r["n_members"])
        for r in cluster_representatives(docs, clusters).collect()
    }
    # cluster 1: scores 5,9,9 -> id 2 wins the 9-tie; cluster 10: id 10 (4>2);
    # singleton 20 keeps itself with n_members=1
    assert got == {1: (2, 9, 3), 10: (10, 4, 2), 20: (20, 7, 1)}


def test_prefix_filtered_candidates_equal_exhaustive(spark, docs):
    """Prefix filtering must be lossless: the default (prefix-filtered)
    candidate generation yields exactly the pairs of an exhaustive
    shared-shingle join at the same threshold — the SSJoin correctness
    property the operator's scale claim rests on."""
    from raptor_spark.operators.dedup import ngram_jaccard_pairs, word_shingles_col

    sub = docs.filter(F.col("doc_id") < 200)
    got = {
        (r.a, r.b, round(r.jaccard, 6))
        for r in ngram_jaccard_pairs(sub, "doc_id", "text", n=2, threshold=0.6).collect()
    }
    base = sub.select(
        F.col("doc_id").alias("id"), word_shingles_col(F.col("text"), 2).alias("sh")
    )
    ex = base.select("id", F.explode("sh").alias("s"))
    exhaustive = (
        ex.alias("a").join(ex.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )
    want = {
        (r.a, r.b, round(r.jaccard, 6))
        for r in ngram_jaccard_pairs(
            sub, "doc_id", "text", n=2, threshold=0.6, candidate_join=exhaustive
        ).collect()
    }
    assert got == want and len(got) > 0


def test_near_dup_clusters_full_long_range(spark):
    """The id↔label round-trip must keep numeric min-ordering for NEGATIVE
    long ids too (plain zero-pad inverts it: '-0…10' < '-0…05')."""
    from raptor_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(-10, -5), (-5, 3), (7, 8), (-(1 << 63), 0)], ["a", "b"]
    )
    got = {(r.id, r.cluster) for r in near_dup_clusters(pairs).collect()}
    lm = -(1 << 63)
    assert got == {
        (-10, -10), (-5, -10), (3, -10),
        (7, 7), (8, 7),
        (lm, lm), (0, lm),
    }


def test_embedding_near_dup_lsh_recall(spark, emb):
    """The LSH-bucketed scale path must recover ≥80% of planted near-dup
    pairs (original + small deterministic perturbation, cosine ≥ ~0.99)
    that the exact threshold scan finds — this operator previously shipped
    untested."""
    from raptor_spark.operators.dedup import embedding_near_dup
    from raptor_spark.operators.similarity import cosine_col

    base = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    perturbed = base.select(
        (F.col("id") + 100000).alias("id"),
        F.transform(
            "vec", lambda x, i: x + 0.02 * F.sin(F.col("id") * 13 + i)
        ).alias("vec"),
    )
    corpus = base.unionByName(perturbed)
    want = {
        (r.a, r.b)
        for r in base.alias("o").join(
            perturbed.alias("p"), F.col("p.id") - 100000 == F.col("o.id")
        ).select(
            F.col("o.id").alias("a"), F.col("p.id").alias("b"),
            cosine_col(F.col("o.vec"), F.col("p.vec")).alias("c"),
        ).filter(F.col("c") >= 0.95).collect()
    }
    assert len(want) >= 80  # perturbation small enough to stay near-dup
    got = {
        (r.a, r.b)
        for r in embedding_near_dup(
            corpus, "id", "vec", threshold=0.95, n_planes=8, n_families=4
        ).collect()
    }
    planted_found = {p for p in got if p in want}
    recall = len(planted_found) / len(want)
    assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(want)} planted pairs"


def test_exact_dedup_counts(spark, docs):
    d = exact_dedup(docs, "doc_id", "text")
    total = d.agg(F.sum("n_dups")).first()[0]
    assert total == docs.count()
    assert d.filter(F.col("n_dups") < 1).count() == 0


def test_ivf_topk_finds_planted_neighbors(spark, emb):
    """IVF with a learned codebook must surface the planted source vector in
    top-k for ≥80% of perturbed queries, with exact re-scored cosines."""
    from raptor_spark.operators.similarity import ivf_topk

    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.transform(
                "embedding", lambda x, i: x + 0.05 * F.sin(F.col("vec_id") * 7 + i)
            ).alias("vec"),
        )
    )
    got = {
        (r.qid, r.id)
        for r in ivf_topk(corpus, queries, k=5, n_cells=8, n_probe=3).collect()
    }
    found = sum(1 for q in range(10) if (q, q) in got)
    assert found >= 8, f"IVF found planted source for only {found}/10 queries"


def test_ivf_written_index_prunes_partitions_and_matches(spark, emb, tmp_path):
    """The written IVF index must (a) return exactly what the in-memory
    ivf_topk returns for the same codebook, and (b) plan the probe as a
    partition-pruned scan — PartitionFilters on cell, not a full read."""
    import contextlib
    import io

    from raptor_spark.operators.similarity import (
        ivf_centroids,
        ivf_probe_index,
        ivf_topk,
        ivf_write_index,
    )

    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    idx_dir = str(tmp_path / "ivf_idx")
    cents = ivf_write_index(corpus, idx_dir, n_cells=8)
    assert cents == ivf_centroids(corpus, 8)  # same deterministic codebook

    probed = ivf_probe_index(spark, idx_dir, cents, queries, k=5, n_probe=3)
    inmem = ivf_topk(corpus, queries, k=5, n_cells=8, n_probe=3)
    got = sorted((r.qid, r.id, round(r.cosine, 6), r.rank) for r in probed.collect())
    want = sorted((r.qid, r.id, round(r.cosine, 6), r.rank) for r in inmem.collect())
    assert got == want and len(got) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain(mode="formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p, p
    assert "cell" in p.split("PartitionFilters", 1)[1][:200], p


def test_ivf_centroids_deterministic(spark, emb):
    from raptor_spark.operators.similarity import ivf_centroids

    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    a = ivf_centroids(corpus, 4, kmeans_iters=1)
    b = ivf_centroids(corpus.repartition(7), 4, kmeans_iters=1)
    assert [cid for cid, _ in a] == [cid for cid, _ in b]
    for (_, va), (_, vb) in zip(a, b):
        assert all(abs(x - y) < 1e-9 for x, y in zip(va, vb))


def test_ann_topk_finds_planted_neighbors(spark, emb):
    """The fixture embeddings are near-random (max pairwise cosine ≈ 0.39 at
    this sf) — no LSH can rank weak neighbors, so the recall gate uses the
    operator's actual use case: queries that are small deterministic
    perturbations of corpus vectors (cosine ≈ 0.98 to their source). ANN must
    surface the source in top-k for ≥80% of queries; brute force must for
    100%."""
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            F.transform(
                "embedding", lambda x, i: x + 0.05 * F.sin(F.col("vec_id") * 7 + i)
            ).alias("vec"),
        )
    )
    k = 5
    golden = {
        (r.qid, r.id) for r in brute_force_topk(corpus, queries, k=k).collect()
    }
    # brute force must rank each query's source vector in its top-k
    assert all((q, q) in golden for q in range(10))
    got = {(r.qid, r.id) for r in ann_topk(corpus, queries, k=k).collect()}
    found = sum(1 for q in range(10) if (q, q) in got)
    assert found >= 8, f"ANN found planted source for only {found}/10 queries"
    # ANN scores must be exact cosines (re-scored, not approximated)
    ann_rows = ann_topk(corpus, queries, k=k)
    joined = (
        ann_rows.join(corpus.withColumnRenamed("id", "cid"), F.col("id") == F.col("cid"))
        .join(
            queries.select("qid", F.col("vec").alias("qv")).withColumnRenamed("qid", "q2"),
            F.col("qid") == F.col("q2"),
        )
        .select("cosine", cosine_col(F.col("vec"), F.col("qv")).alias("c2"))
    )
    bad = joined.filter(F.abs(F.col("cosine") - F.col("c2")) > 1e-6).count()
    assert bad == 0


def test_ivfpq_topk_recall_rerank_and_partition_invariance(spark, emb):
    """IVF-PQ ADC (similarity.ivfpq_topk) must rank each perturbed query's
    planted source vector in its top-k: 10/10 with the exact re-rank pass
    (rerank=20 candidates), ≥8/10 on raw asymmetric-distance ranks alone
    (16 coarse cells / 4-probe / 4×16 residual codebooks quantize lossily
    by design). ADC distances are squared-L2 lookups, so non-negative; the
    whole operator is content-seeded + fixed-round, so the output must be
    byte-identical under a different input partitioning."""
    from raptor_spark.operators.similarity import ivfpq_topk

    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.transform(
            "embedding", lambda x, i: x + 0.05 * F.sin(F.col("vec_id") * 7 + i)
        ).alias("vec"),
    )
    rer = ivfpq_topk(corpus, queries, k=5, rerank=20).collect()
    got = {(r.qid, r.id) for r in rer}
    assert len(rer) == 50
    assert all((q, q) in got for q in range(10)), sorted(got)

    adc_rows = ivfpq_topk(corpus, queries, k=5).collect()
    adc_got = {(r.qid, r.id) for r in adc_rows}
    found = sum(1 for q in range(10) if (q, q) in adc_got)
    assert found >= 8, f"ADC ranks surfaced the planted source for {found}/10"
    assert all(r.adc >= 0.0 for r in adc_rows)

    again = ivfpq_topk(corpus.repartition(13), queries, k=5).collect()
    assert {(r.qid, r.id, r.rank, round(r.adc, 9)) for r in again} == {
        (r.qid, r.id, r.rank, round(r.adc, 9)) for r in adc_rows
    }


def test_component_census_surfaces_over_merge(spark):
    """A crafted over-merged component (one cluster swallowing 30 ids) must
    show up as its own census row with inspectable sample members, next to
    the healthy pair clusters and singletons."""
    from raptor_spark.operators.dedup import component_census

    rows = (
        [(i, 100) for i in range(100, 130)]          # the over-merge: size 30
        + [(1, 1), (2, 1), (10, 10), (11, 10), (20, 20), (21, 20)]  # 3 pairs
        + [(50, 50), (61, 61)]                       # 2 singletons
    )
    clusters = spark.createDataFrame(rows, ["id", "cluster"]).repartition(5)
    out = {r.size: r for r in component_census(clusters, sample_k=3).collect()}
    assert out[30].n_components == 1
    assert out[30].example_component == 100
    assert out[30].sample_members == "100,101,102"
    assert out[2].n_components == 3 and out[2].example_component == 1
    assert out[1].n_components == 2 and out[1].sample_members == "50"


def test_brute_force_topk_local_prune_parity_and_plan(spark, emb):
    """Two-phase local→global top-k (the default) must return EXACTLY the
    single-window plan's rows — same ids, same cosines, same ranks — across
    a many-partition corpus (so per-partition pruning actually fires), and
    its physical plan must show the narrow MapInPandas prune feeding the
    window instead of the full scored set."""
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    corpus = corpus.repartition(13)  # force >k rows per qid per partition
    queries = emb.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    k = 5
    pruned = brute_force_topk(corpus, queries, k=k, local_prune=True)
    plain = brute_force_topk(corpus, queries, k=k, local_prune=False)
    rows_p = {(r.qid, r.id, round(r.cosine, 12), r.rank) for r in pruned.collect()}
    rows_w = {(r.qid, r.id, round(r.cosine, 12), r.rank) for r in plain.collect()}
    assert rows_p == rows_w and len(rows_p) == 7 * k

    from tests.test_plans import plan_str

    assert "MapInPandas" in plan_str(pruned)
    assert "MapInPandas" not in plan_str(plain)


def test_edit_distance_pairs_matches_python_dp(spark):
    import itertools

    def lev(s, t):
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cs != ct)))
            prev = cur
        return prev[-1]

    rows = [
        (1, "g", "the quick brown fox"),
        (2, "g", "the quick brown fax"),
        (3, "g", "a completely different sentence here"),
        (4, "g", "the quick brown foxes jumped"),
        (5, "h", "the quick brown fox"),  # other block: never pairs with 1-4
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    from raptor_spark.operators.dedup import edit_distance_pairs

    out = edit_distance_pairs(
        df, "doc_id", "text", ["lang"], prefix_len=25, max_dist=10
    )
    got = {(r.a, r.b): r.dist for r in out.collect()}
    want = {}
    by_block = {}
    for i, g, t in rows:
        by_block.setdefault(g, []).append((i, t[:25]))
    for g, items in by_block.items():
        for (i, s), (j, t) in itertools.combinations(sorted(items), 2):
            d = lev(s, t)
            if d <= 10:
                want[(i, j)] = d
    assert got == want
    assert all(a < b for a, b in got)


def test_kmeans_clusters_planted(spark):
    """Three well-separated planted groups along distinct axes: every member
    must land in its seed's cell with cosine ≈ 1, regardless of partitioning."""
    from raptor_spark.operators.similarity import kmeans_clusters

    # id = g + 10*j so the 3 lowest ids (0, 1, 2) are one seed per group
    rows = []
    for g in range(3):
        base = [0.0] * 6
        base[g * 2] = 1.0
        for j in range(5):
            v = list(base)
            v[g * 2 + 1] = 0.01 * j  # tiny within-group jitter
            rows.append((g + 10 * j, v))
    df = spark.createDataFrame(rows, "id long, vec array<double>")

    out = {r.id: (r.cell, r.cosine) for r in
           kmeans_clusters(df, 3, iters=2, seed_order="id").collect()}
    out_rep = {r.id: (r.cell, r.cosine) for r in
               kmeans_clusters(df.repartition(5), 3, iters=2, seed_order="id").collect()}
    assert set(out) == {g + 10 * j for g in range(3) for j in range(5)}
    for g in range(3):
        cells = {out[g + 10 * j][0] for j in range(5)}
        assert len(cells) == 1, f"group {g} split across cells {cells}"
        assert all(out[g + 10 * j][1] > 0.99 for j in range(5))
    assert {out[g][0] for g in range(3)} == {0, 1, 2}  # groups separated
    assert {k: v[0] for k, v in out.items()} == {k: v[0] for k, v in out_rep.items()}


def test_span_dedup_hand_fixture(spark):
    """Pins first-occurrence-wins semantics: earlier (id, pos) keeps the
    span; within-doc repeats, cross-doc repeats, full removal, and short
    docs all behave; result is partition-invariant."""
    import hashlib

    from raptor_spark.operators.dedup import span_dedup

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    df = spark.createDataFrame(
        [
            (0, "m n o m n o"),   # within-doc repeat: second span removed
            (1, "a b c d e f"),
            (2, "a b c x y z"),   # "a b c" seen in doc 1 -> removed
            (3, "d e f d e f"),   # both spans seen earlier -> fully removed
            (4, "q r"),           # single short span, kept
        ],
        "doc_id long, text string",
    )
    want = {
        0: (2, 1, md5("m n o")),
        1: (2, 0, md5("a b c d e f")),
        2: (2, 1, md5("x y z")),
        3: (2, 2, md5("")),
        4: (1, 0, md5("q r")),
    }
    for d in (df, df.repartition(4)):
        got = {
            r.id: (r.n_spans, r.n_removed, r.clean_md5)
            for r in span_dedup(d, "doc_id", "text", span_words=3).collect()
        }
        assert got == want


def test_semdedup_prune_planted(spark):
    """Two planted near-dup pairs in separate cells: the higher id of each
    pair is pruned with max_sim ~1; singletons keep max_sim -1; a far
    cell-mate stays below threshold. Partition-invariant."""
    from raptor_spark.operators.similarity import semdedup_prune

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.001]),   # near-dup of 0, same cell
            (3, [0.0, 1.0]),     # exact dup of 1
            (4, [-1.0, 0.2]),    # lands in cell 1, cosine ~0.2 to members
        ],
        "id long, vec array<double>",
    )
    for d in (df, df.repartition(3)):
        out = {
            r.id: (r.max_sim, r.pruned)
            for r in semdedup_prune(
                d, n_cells=2, threshold=0.9, iters=1, seed_order="id"
            ).collect()
        }
        assert {i for i, (_, p) in out.items() if p == 1} == {2, 3}
        assert out[2][0] > 0.999 and out[3][0] == 1.0
        assert out[0][0] == -1.0 and out[1][0] == -1.0
        assert 0.1 < out[4][0] < 0.3


def test_containment_pairs_detects_subsumption_jaccard_misses(spark):
    """A short quote inside a long document: containment(quote ⊆ doc) ≈ 1
    while Jaccard is tiny — the asymmetric relation, emitted in exactly
    one direction."""
    from raptor_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"word{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, quote), (2, quote + " " + filler), (3, "unrelated text entirely")],
        "doc_id long, text string",
    )
    got = {
        (r.a, r.b): r.containment
        for r in containment_pairs(df, "doc_id", "text", n=1, threshold=0.9).collect()
    }
    assert set(got) == {(1, 2)}          # quote ⊆ doc, never the reverse
    assert got[(1, 2)] == 1.0
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=1, threshold=0.5).collect()
    assert not jac                        # symmetric Jaccard misses it


def test_survivorship_merge_planted(spark):
    # Cluster 1 = {1,2,3}: modal lang ties en/fr 1-1 with de 1... actually
    # en appears twice -> mode en; source ties s1/s2 1-1 plus s1 again ->
    # mode s1; n_chars max = 30. Doc 9 is a singleton (absent from
    # clusters): its golden record is itself.
    from raptor_spark.operators.dedup import survivorship_merge

    docs = spark.createDataFrame(
        [
            (1, "en", "s1", 10),
            (2, "en", "s2", 30),
            (3, "fr", "s1", 20),
            (9, "de", "s9", 5),
        ],
        ["doc_id", "lang", "source", "n_chars"],
    )
    clusters = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], ["id", "cluster"])
    out = {
        r["cluster"]: r
        for r in survivorship_merge(
            docs, clusters, id_col="doc_id",
            mode_cols=("lang", "source"), max_cols=("n_chars",),
        ).collect()
    }
    assert set(out) == {1, 9}
    g = out[1]
    assert g["n_members"] == 3
    assert g["merged_lang"] == "en"          # 2-1 majority
    assert g["merged_source"] == "s1"        # 2-1 majority
    assert g["max_n_chars"] == 30
    s = out[9]
    assert (s["n_members"], s["merged_lang"], s["merged_source"], s["max_n_chars"]) == (1, "de", "s9", 5)


def test_survivorship_merge_tie_breaks_deterministically(spark):
    from raptor_spark.operators.dedup import survivorship_merge

    docs = spark.createDataFrame(
        [(1, "fr", 1), (2, "en", 2)], ["doc_id", "lang", "n_chars"]
    )
    clusters = spark.createDataFrame([(1, 1), (2, 1)], ["id", "cluster"])
    g = survivorship_merge(
        docs, clusters, id_col="doc_id", mode_cols=("lang",), max_cols=("n_chars",)
    ).collect()[0]
    # 1-1 tie -> lexicographically smallest value wins
    assert g["merged_lang"] == "en"


def test_pq_quantize_matches_numpy_replica(spark):
    # Full-algorithm parity on a small deterministic cloud: lowest-id seeds,
    # one Lloyd step per subspace, argmin assignment (ties -> smaller code),
    # summed squared reconstruction error.
    import numpy as np

    from raptor_spark.operators.similarity import pq_quantize

    rng = np.random.RandomState(7)
    n, dim, m_sub, k = 40, 8, 2, 3
    X = rng.randn(n, dim).round(3)  # round so float32->float64 is exact
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)], ["id", "vec"]
    )
    out = {
        r["id"]: r
        for r in pq_quantize(
            df, id_col="id", vec_col="vec", m_sub=m_sub, k=k, iters=1, dim=dim
        ).collect()
    }

    sub_len = dim // m_sub
    exp_codes = np.zeros((n, m_sub), dtype=int)
    exp_err = np.zeros(n)
    for m in range(m_sub):
        S = X[:, m * sub_len : (m + 1) * sub_len]
        cents = S[:k].copy()  # ids 0..k-1 are the lowest ids
        d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes first (smallest code) tie
        new = np.array(
            [S[assign == c].mean(axis=0) if (assign == c).any() else cents[c]
             for c in range(k)]
        )
        d2 = ((S[:, None, :] - new[None, :, :]) ** 2).sum(axis=2)
        exp_codes[:, m] = d2.argmin(axis=1)
        exp_err += d2.min(axis=1)
    for i in range(n):
        got = out[i]
        for m in range(m_sub):
            assert got[f"code_{m}"] == exp_codes[i, m], (i, m)
        assert abs(got["recon_err"] - exp_err[i]) < 1e-9


def test_ivfpq_written_index_layout_and_determinism(spark, emb, tmp_path):
    """The durable IVFADC layout: every corpus id lands in the written codes
    table exactly once with m_sub codes in [0, k_codes); the cell column is
    a physical partition (dir-per-cell) whose filtered read plans
    PartitionFilters; the written cell assignment equals a fresh
    recomputation from the returned codebook; and a second write is
    byte-identical (content-derived training, no RNG)."""
    import contextlib
    import io

    from raptor_spark.operators.similarity import (
        _nearest_cells,
        ivfpq_write_index,
    )

    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    idx = str(tmp_path / "ivfpq")
    book = ivfpq_write_index(corpus, idx, n_cells=8, m_sub=4, k_codes=8)
    written = spark.read.parquet(idx)
    rows = written.collect()
    n = corpus.count()
    assert len(rows) == n and len({r.id for r in rows}) == n
    assert all(len(r.codes) == 4 and all(0 <= c < 8 for c in r.codes) for r in rows)

    fresh = corpus.select(
        "id", _nearest_cells(F.col("vec"), book["centroids"], 1)[0].alias("cell")
    )
    mism = (
        written.select("id", F.col("cell").alias("wcell"))
        .join(fresh, "id")
        .filter(F.col("wcell") != F.col("cell"))
        .count()
    )
    assert mism == 0

    probe = written.filter(F.col("cell").isin([1, 3]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain(mode="formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p, p
    assert "cell" in p.split("PartitionFilters", 1)[1][:200], p

    idx2 = str(tmp_path / "ivfpq2")
    book2 = ivfpq_write_index(corpus, idx2, n_cells=8, m_sub=4, k_codes=8)
    assert book2 == book
    a = {(r.id, r.cell, tuple(r.codes)) for r in rows}
    b = {(r.id, r.cell, tuple(r.codes)) for r in spark.read.parquet(idx2).collect()}
    assert a == b


def test_sorted_neighborhood_matches_python_replay(spark):
    from raptor_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [
        (1, "alpha corp"),
        (2, "alpha korp"),
        (3, "beta inc"),
        (4, "beta inc"),
        (5, "gamma llc"),
        (6, "aalpha corp"),
        (7, "zeta"),
    ]
    df = spark.createDataFrame(rows, "id long, key string")
    got = {
        (r.a, r.b, r.gap): r.dist
        for r in sorted_neighborhood_pairs(df, "id", "key", window=3).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    expect = {}
    for i, (ida, ka) in enumerate(order):
        for k in range(1, 4):
            if i + k < len(order):
                idb, kb = order[i + k]
                expect[(ida, idb, k)] = _lev(ka, kb)
    assert got == expect


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_sorted_neighborhood_partition_count_invariant(spark):
    from raptor_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, f"key{(i * 37) % 50:03d}x{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, key string")
    one = {
        (r.a, r.b, r.gap, r.dist)
        for r in sorted_neighborhood_pairs(df, "id", "key", window=2, n_parts=1).collect()
    }
    many = {
        (r.a, r.b, r.gap, r.dist)
        for r in sorted_neighborhood_pairs(df, "id", "key", window=2, n_parts=13).collect()
    }
    assert one == many
    # every record except the last two pairs with exactly 2 successors
    assert len(one) == 2 * 200 - 3


def test_knn_label_agreement_planted_bundles(spark):
    from raptor_spark.operators.similarity import knn_label_agreement

    # two orthogonal direction bundles with tiny distinct perturbations:
    # neighbors of an A vector are the other A vectors -> agreement 1.0
    rows = []
    for i in range(4):
        rows.append((i, [10.0 + i * 0.01, 0.0, 1.0], "A"))
    for i in range(4):
        rows.append((10 + i, [0.0, 10.0 + i * 0.01, 1.0], "B"))
    df = spark.createDataFrame(rows, "id long, vec array<double>, label string")
    out = {r.label: r for r in knn_label_agreement(df, "id", "vec", "label", k=3).collect()}
    assert out["A"].mean_agree == 1.0 and out["B"].mean_agree == 1.0
    assert out["A"].n_docs == 4 and out["A"].n_agree == 12

    # flip one B vector's label to A: its 3 NN are all labeled B -> 0
    # agreement for that doc, and it pollutes the B bundle's neighborhoods
    rows2 = [r for r in rows if r[0] != 13] + [(13, [0.0, 10.03, 1.0], "A")]
    df2 = spark.createDataFrame(rows2, "id long, vec array<double>, label string")
    out2 = {r.label: r for r in knn_label_agreement(df2, "id", "vec", "label", k=3).collect()}
    assert out2["A"].mean_agree < 1.0 and out2["B"].mean_agree < 1.0


def test_knn_label_agreement_duplicate_twin_keeps_slot(spark):
    from raptor_spark.operators.similarity import knn_label_agreement

    # id 5 is an EXACT duplicate of id 1 with a smaller-id twin: self is
    # excluded before ranking, so the twin occupies rank 1 (cos == 1)
    # and still leaves k-1 informative slots
    rows = [
        (1, [1.0, 0.0], "A"),
        (5, [1.0, 0.0], "A"),
        (2, [0.9, 0.1], "A"),
        (3, [0.0, 1.0], "B"),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>, label string")
    out = {r.label: r for r in knn_label_agreement(df, "id", "vec", "label", k=2).collect()}
    # A docs: 1 -> {5, 2} both A; 5 -> {1, 2} both A; 2 -> {1, 5} both A
    assert out["A"].n_agree == 6 and out["A"].mean_agree == 1.0
    # B doc's 2 neighbors are both A
    assert out["B"].n_agree == 0


def test_threshold_sweep_census_monotone(spark):
    from raptor_spark.operators.dedup import threshold_sweep_census

    pairs = spark.createDataFrame(
        [(1, 2, 0.96), (2, 3, 0.91), (3, 4, 0.85), (4, 5, 0.82), (6, 7, 0.99)],
        "a long, b long, jaccard double",
    )
    out = {r.threshold_pct: r for r in threshold_sweep_census(pairs, (80, 90, 95)).collect()}
    # 80: chain 1-2-3-4-5 plus 6-7 -> largest 5
    assert (out[80].n_vertices, out[80].n_components, out[80].largest_cc) == (7, 2, 5)
    # 90: 1-2-3 and 6-7
    assert (out[90].n_vertices, out[90].n_components, out[90].largest_cc) == (5, 2, 3)
    # 95: 1-2 and 6-7
    assert (out[95].n_vertices, out[95].largest_cc) == (4, 2)
    # tightening the threshold never grows the largest component
    assert out[80].largest_cc >= out[90].largest_cc >= out[95].largest_cc
