"""Deduplication operators for large-scale training-data pipelines.

Generalizes the reference's insert-time ANN dedup (new record linked/skipped
iff a neighbor is ≥ 0.9 similar, raptor/qdrant_search_docker/
api_insert.py:14,130-165) into the standard text-dedup family, all as
DataFrame ops over a ``(id, text)`` table:

* exact_dedup            — hash-groupBy on sha256(text)
* minhash_lsh_pairs      — word-shingle MinHash + banded LSH candidate pairs
                           + exact Jaccard verify (the scale path)
* minhash_lsh_pairs_md5  — engine-portable twin (md5 lanes, value-keyed
                           bands) replayable byte-for-byte in any SQL engine
* simhash                — 64-bit SimHash fingerprints (hamming-near dup)
* simhash_md5            — engine-portable twin (md5 hex-digit bits)
* ngram_jaccard_pairs    — exact n-gram Jaccard over a candidate set
* embedding_near_dup     — cosine ≥ threshold pairs over an embedding column

All shuffles are equi-joins on content-derived keys (shingle hash / band hash
/ LSH bucket); no cross join ever touches the full table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raptor_spark import lsh
from raptor_spark.functions import sha256_col


def _words(c: Column) -> Column:
    return F.split(F.lower(F.trim(c)), r"\s+")


def _ensure_parallel(df: DataFrame) -> DataFrame:
    """Small inputs (one parquet row-group) arrive as 1-2 partitions, which
    serializes the per-row-heavy shingle/hash stages onto one core. Spread
    them to the cluster's parallelism; at scale the input split count already
    exceeds it, so this is a no-op (no shuffle added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string>, pure column exprs
    (transform over a sequence of start offsets — JVM-side, no UDF).

    Each shingle is built from n ``element_at`` lookups instead of
    ``slice`` — slice allocates an intermediate array per position, which
    dominated the shingling stage on long documents (measured ~2× there).

    The split-word array is BOUND ONCE per row via a one-element transform:
    HOF lambdas get no common-subexpression elimination, so inlining
    ``split(lower(trim(text)))`` into every element_at re-ran the regex
    split ~2·n_words times per row (measured 8 s → 0.5 s on 5000 docs)."""

    def build(w: Column) -> Column:
        def shingle_at(i: Column) -> Column:
            return F.concat_ws(
                " ", *[F.element_at(w, i + F.lit(k + 1)) for k in range(n)]
            )

        return F.when(
            F.size(w) >= n,
            F.transform(F.sequence(F.lit(0), F.size(w) - n), shingle_at),
        ).otherwise(F.array(F.concat_ws(" ", w)))

    return F.array_distinct(
        F.element_at(F.transform(F.array(_words(text)), build), 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(hash, keep_id, n_dups): one representative (min id) per identical
    text — the hash-groupBy analog of the checksum no-change short-circuit
    (asset_management/client.py:157-177)."""
    return (
        df.select(sha256_col(text_col).alias("hash"), F.col(id_col).alias("id"))
        .groupBy("hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard), a < b, via MinHash banding.

    Per row: shingle → n_hashes MinHash values (``lsh.xxhash_lanes``) →
    n_bands band hashes → capped-bucket pair expansion → exact Jaccard
    verify on the shingle arrays (``lsh.verify_pairs``). Rows with NULL
    text have no shingles and are dropped; blank text shingles to the empty
    string, so blank documents pair with each other.

    Scale discipline (each step A/B-measured at sf0.1 and at the 40k-file
    scaling corpus — dense near-dup corpora blow up naive plans ~50×):
    * shingles are hashed to longs ONCE; signatures and the exact-Jaccard
      verify both run on array<long> (same set semantics modulo 64-bit hash
      collisions, far cheaper to shuffle and intersect than strings);
    * the band shuffle ships IDS ONLY: each doc's band rows are (id,
      band_id, band_key) longs, never the shingle array — an earlier form
      carried the full array<long> through all n_bands band rows into the
      collect_list buckets and verified pairs inline per band, which (a)
      multiplied the shuffle payload by n_bands × |sh| (~70× more bytes at
      16 bands on ~140-shingle docs: the job went memory-bandwidth-bound
      and its N→4N scaling efficiency stuck at ~0.6), and (b) re-ran the
      exact-Jaccard verify in EVERY band a dense cluster collided in
      (~n_bands× redundant intersect/union work);
    * candidate (a, b) id-pairs are expanded per bucket, ``distinct``-ed
      FIRST (16-byte rows), and only then joined back to the persisted
      (id, shingles) table for ONE exact-Jaccard verify per unique pair;
    * band buckets larger than ``max_bucket`` are dropped, which caps the
      per-bucket expansion at C(max_bucket, 2) id-pairs. Pass
      ``max_bucket=None`` for exhaustive behavior.
    """
    base = (
        _ensure_parallel(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                F.transform(
                    word_shingles_col(F.col(text_col), shingle_n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("sh"),
        )
        # the shingle table feeds the signature path AND both verify
        # join-backs; unpersisted, each consumer would recompute the full
        # shingling lineage
        .persist()
    )
    bands = lsh.band_rows(base, ["id"], "sh", lsh.xxhash_lanes(n_hashes), n_bands)
    cands = lsh.bucket_pairs(bands, ["band_id", "band_key"], ["id"], max_bucket)
    return lsh.verify_pairs(cands, base, "sh", jaccard_threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """(id, simhash): sign-aggregated word-hash fingerprint. Two texts are
    near-dups when hamming(simhash_a, simhash_b) is small.

    Shape: explode distinct words → xxhash64 per word → ``lsh.simhash_fold``
    (one groupBy(id) of conditional ±1 sums). Rows with NULL text are
    dropped; any other text splits to at least one word (blank text to the
    empty word), so every kept row gets a fingerprint.
    """
    ex = (
        _ensure_parallel(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(_words(F.col(text_col)))).alias("w"),
        )
        .select("id", F.xxhash64("w").alias("h"))
    )
    return lsh.simhash_fold(
        ex, lambda i: F.shiftright("h", i).bitwiseAND(F.lit(1)), bits
    )


def hamming_near_pairs(fp: DataFrame, max_distance: int = 3) -> DataFrame:
    """SimHash blocking: split the 64-bit fingerprint into (max_distance+1)
    16-bit blocks — by pigeonhole, any pair within hamming distance
    ``max_distance`` shares at least one exact block → equi-join per block,
    verify with bit_count(xor)."""
    n_blocks = max_distance + 1
    blocks = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftright(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("block"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.block_id", "b.block")
    # the block self-join is kept (vs collect_list pair expansion, which is
    # faster for the CAPPED minhash buckets): hamming blocking has no bucket
    # cap, and a hot 16-bit block would concentrate its entire O(bucket²)
    # expansion in one collect task — the join form lets AQE skew-split it.
    return (
        blocks.alias("a")
        .join(blocks.alias("b"), ["block_id", "block"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a"),
            F.col("b.id").alias("b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # verify BEFORE the dedup shuffle: hamming is a cheap bit op on rows
        # already in hand, and on dense corpora it cuts the dropDuplicates
        # input by orders of magnitude (measured 50M→<1M at sf0.1)
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["a", "b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    candidate_join: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (a, b, jaccard ≥ threshold).

    With no candidate set, candidates come from a PREFIX-FILTERED
    shared-shingle equi-join (the SSJoin/PPJoin family): under any global
    total order of shingles (sorted hash order here), a pair with
    J(a,b) ≥ t must share a shingle within the first
    ``|x| - ceil(t·|x|) + 1`` shingles of EACH side — because
    ``|a∩b| ≥ t·|a|``, so the shared elements cannot all hide in a suffix
    shorter than ``ceil(t·|a|)``. Exploding only prefixes keeps the join
    EXACT while shrinking the candidate blow-up from quadratic in document
    frequency to quadratic in prefix co-occurrence (at t=0.8, 5× fewer
    exploded rows and far smaller hot buckets). Verification always runs on
    the full shingle sets."""
    base = _ensure_parallel(df).select(
        F.col(id_col).alias("id"), word_shingles_col(F.col(text_col), n).alias("sh")
    )
    if candidate_join is None:
        prefix_len = (
            F.size("sh") - F.ceil(F.lit(threshold) * F.size("sh")) + 1
        ).cast("int")
        ex = base.select(
            "id",
            F.explode(F.slice(F.array_sort("sh"), F.lit(1), prefix_len)).alias("s"),
        )
        candidate_join = (
            ex.alias("a")
            .join(ex.alias("b"), "s")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
            .distinct()
        )
    fa = base.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    fb = base.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        candidate_join.join(fa, "a")
        .join(fb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.9,
    candidate_join: DataFrame | None = None,
) -> DataFrame:
    """Directed containment pairs (a, b, containment = |Sa∩Sb| / |Sa|
    ≥ threshold): the ASYMMETRIC near-dup relation — a is (nearly) a
    subset of b, the quote / excerpt / subsumption detector Jaccard
    misses (a 50-word quote inside a 5000-word page has tiny Jaccard but
    containment ≈ 1). Emits both directions when both hold.

    Default candidates are the full shared-shingle equi-join — exact, but
    quadratic in shingle document frequency, so it is the bounded-id /
    verification path (Jaccard's prefix filter does NOT transfer: the
    containing side b can bury the shared shingles arbitrarily deep, so
    only the contained side could be prefix-pruned). At scale pass
    ``candidate_join`` from MinHash-LSH (containment ≥ t implies
    J ≥ t/(1/t·|Sb|/|Sa|) only with a size cap, so use asymmetric
    band settings or a size-bucketed LSH) — verification stays exact."""
    base = _ensure_parallel(df).select(
        F.col(id_col).alias("id"), word_shingles_col(F.col(text_col), n).alias("sh")
    )
    if candidate_join is None:
        ex = base.select("id", F.explode("sh").alias("s"))
        candidate_join = (
            ex.alias("a")
            .join(ex.alias("b"), "s")
            .filter(F.col("a.id") != F.col("b.id"))
            .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
            .distinct()
        )
    fa = base.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    fb = base.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        candidate_join.join(fa, "a")
        .join(fb, "b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a"),
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """(id, cluster) from near-dup pairs: connected components over the pair
    graph, cluster = min member id — turns pairwise dedup output into the
    keep-one-representative decision (the reference's insert-or-skip,
    api_insert.py:130-165, generalized to transitive duplicate groups).
    Reuses the pipeline's pointer-jumping CC (raptor_spark.cc); ids travel
    through the string label domain with a sign-prefix encoding ('0' +
    bias for negative longs, '1' + zero-pad for non-negative) so string
    min() keeps numeric order over the FULL long range — plain %020d
    inverts the ordering of negative ids ('-0…10' < '-0…05')."""
    from raptor_spark.cc import connected_components

    # bias by subtracting Long.MIN_VALUE (2^63 itself is not a long; the
    # not-taken CASE branch is never evaluated, so no ANSI overflow)
    LONG_MIN = F.lit(-(1 << 63)).cast("long")

    def enc(c: Column) -> Column:
        return F.when(
            c >= 0, F.format_string("1%019d", c)
        ).otherwise(F.format_string("0%019d", c - LONG_MIN))

    def dec(c: Column) -> Column:
        body = F.substring(c, 2, 19).cast("long")
        return F.when(F.substring(c, 1, 1) == "1", body).otherwise(
            body + LONG_MIN
        )

    e = pairs.select(enc(F.col("a")).alias("a"), enc(F.col("b")).alias("b"))
    out = connected_components(e)
    return out.select(
        dec(F.col("name")).alias("id"),
        dec(F.col("component")).alias("cluster"),
    )


def component_census(
    clusters: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster",
    sample_k: int = 3,
) -> DataFrame:
    """Post-hoc component-size quality audit (SURVEY.md §7.4 "cap component
    size with a quality check", the CC twin of join_fanout): from an
    (id, cluster) assignment, one row per distinct component SIZE with
    (size, n_components, example_component = min cluster id of that size,
    sample_members = first ``sample_k`` member ids of that example). An
    over-merged linking run — one giant transitive cluster swallowing
    unrelated docs — surfaces immediately as an outlier size row with
    inspectable members (gated on a crafted over-merge fixture in
    tests/test_dedup_similarity.py).

    Scale shape: the member sample comes from a per-cluster row_number
    window with collect_list over ONLY the rn ≤ k rows (collect_list skips
    the nulls of the when), so no buffer ever holds a giant component's full
    member list — the thing this audit exists to catch. The groupBy after
    the window reuses the window's hash partitioning (no second exchange);
    the census and example join are component-count-sized, tiny by then."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(cluster_col).orderBy(id_col)
    ranked = clusters.withColumn("rn", F.row_number().over(w))
    per = ranked.groupBy(cluster_col).agg(
        F.count("*").alias("size"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") <= sample_k, F.col(id_col))
                    )
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("sample_members"),
    )
    census = per.groupBy("size").agg(
        F.count("*").alias("n_components"),
        F.min(cluster_col).alias("example_component"),
    )
    return census.join(
        per.select(
            F.col(cluster_col).alias("example_component"), "sample_members"
        ),
        on="example_component",
    ).select("size", "n_components", "example_component", "sample_members")


def cluster_representatives(
    docs: DataFrame, clusters: DataFrame, id_col: str = "id", score_col: str = "score"
) -> DataFrame:
    """Keep-best-per-duplicate-group — the decision step that finishes a
    dedup pipeline: given per-doc scores and the (id, cluster) assignment
    from near_dup_clusters, emit one representative per cluster (highest
    score, ties to the smallest id) plus the member count. Docs absent from
    ``clusters`` are singletons (cluster = own id), so the output is a
    complete keep-list: its kept_ids ARE the deduped corpus. Generalizes
    the reference's insert-or-skip keep-one choice (qdrant_search_docker/
    api_insert.py:130-165) from "first seen wins" to "best quality wins".

    Scale shape: ``clusters`` is pair-derived (tiny vs the corpus) so the
    left join broadcasts; one shuffle on cluster serves both window
    functions (rank + member count). The corpus never self-joins."""
    from pyspark.sql import Window

    base = docs.select(F.col(id_col).alias("id"), F.col(score_col).alias("score"))
    lab = base.join(clusters, "id", "left").withColumn(
        "cluster", F.coalesce(F.col("cluster"), F.col("id"))
    )
    byc = Window.partitionBy("cluster")
    ranked = lab.select(
        "cluster",
        "id",
        "score",
        F.row_number()
        .over(byc.orderBy(F.desc("score"), F.asc("id")))
        .alias("rk"),
        F.count("*").over(byc).alias("n_members"),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "cluster",
        F.col("id").alias("kept_id"),
        F.col("score").alias("kept_score"),
        "n_members",
    )


def survivorship_merge(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "id",
    mode_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Field-wise golden-record merge — the entity-resolution step AFTER
    keep-best: instead of electing one row, fuse each duplicate group into
    a merged record using per-field survivorship rules (the classic MDM
    "golden record"): categorical fields take the cluster mode (ties to the
    lexicographically smallest value, deterministic), numeric fields take
    the cluster max. Docs absent from ``clusters`` are singletons
    (cluster = own id), so the output covers the whole corpus — one golden
    record per entity. Complements cluster_representatives the way the
    reference's payload re-upsert merges metadata onto the kept point
    (qdrant_search_docker/api_insert.py:130-165).

    Scale shape: one groupBy(cluster) for counts + max fields, plus one
    (cluster, value) aggregation per mode field — all map-side combinable
    and keyed on cluster, so nothing exceeds one shuffle of (cluster,
    value) pairs per field; the corpus never self-joins. The per-cluster
    mode argmax windows run over value-count rows (≤ distinct values per
    cluster), never raw members."""
    from pyspark.sql import Window

    base = docs.join(
        clusters.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("cluster", F.coalesce(F.col("cluster"), F.col(id_col)))
    out = base.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        *[F.max(c).alias(f"max_{c}") for c in max_cols],
    )
    for c in mode_cols:
        w = Window.partitionBy("cluster").orderBy(
            F.col("_cnt").desc(), F.col(c).asc()
        )
        mode = (
            base.groupBy("cluster", c)
            .agg(F.count("*").alias("_cnt"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("cluster", F.col(c).alias(f"merged_{c}"))
        )
        out = out.join(mode, "cluster")
    return out


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_families: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane LSH bucketing:
    bucket = sign bits of dot(vec, plane_i) for deterministic pseudo-planes;
    verify exact cosine within buckets. Mirrors the reference's cosine ≥ 0.9
    insert dedup (api_insert.py:130-165).

    Multi-probe: ``n_families`` independent plane families, candidate iff
    the pair shares a bucket in ANY family. One family's recall at cosine c
    is (1 - arccos(c)/π)^n_planes (~0.7 at c=0.99, 8 planes); four
    families lift that to ~0.99 for 4× the bucket-join work — still never
    all-pairs. The recall gate lives in
    tests/test_dedup_similarity.py::test_embedding_near_dup_lsh_recall."""
    from raptor_spark.operators.similarity import cosine_col, lsh_bucket_col

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pairs = None
    for fam in range(n_families):
        b = v.withColumn(
            "bucket", lsh_bucket_col(F.col("vec"), n_planes, dim=dim, family=fam)
        )
        p = (
            b.alias("a")
            .join(b.alias("b"), "bucket")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("a"),
                F.col("b.id").alias("b"),
                cosine_col(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
            )
            # verify early: the threshold cut happens before the cross-family
            # union/dedup ever shuffles a candidate
            .filter(F.col("cosine") >= threshold)
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.dropDuplicates(["a", "b"])


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    prefix_len: int = 40,
    max_dist: int = 12,
) -> DataFrame:
    """Blocked fuzzy-match candidate pairs by Levenshtein distance on a
    fixed-length prefix — the edit-distance face of entity canonicalization
    (aliased symbol names that MinHash's set semantics miss: transpositions,
    single-char edits in short strings).

    Scale shape: a self-equi-join on ``block_cols`` (never all-pairs; the
    block key bounds each task's candidate set, and AQE skew-split handles a
    hot block), comparing only ``prefix_len``-char prefixes so the DP cost
    per pair is a constant O(prefix_len^2) — JVM-side ``levenshtein``, no
    Python. Pairs are emitted a < b once. For unblocked corpora compose with
    a cheap blocking key first (simhash band, length bucket, first-token).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.substring(F.col(text_col), 1, prefix_len).alias("prefix"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, block_cols)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a"),
            F.col("b.id").alias("b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_words: int = 10,
) -> DataFrame:
    """(id, n_spans, n_removed, clean_md5) — exact substring-span dedup in
    the style of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022): documents are cut into non-overlapping ``span_words``-
    word spans, every later occurrence of a span already seen (first
    occurrence = smallest (id, position)) is removed, and the document is
    reassembled from its surviving spans. ``clean_md5`` fingerprints the
    rebuilt text so the full rewrite is verifiable without shipping it.

    Scale shape: span text shuffles exactly once (the first-occurrence
    window partitioned by the span string — the same shuffle suffix-array
    dedup pipelines pay); the rebuild joins only the REMOVED (id, pos) set
    back to the documents and drops positions from the re-derived span
    array, so full document text never moves through a shuffle. A hot span
    ("the the the ..." boilerplate) skews the window's partition; AQE
    skew-split handles it because rows are narrow (id, pos, span).
    """
    from pyspark.sql import Window

    k = span_words

    def spans_of(text: Column) -> Column:
        def build(w: Column) -> Column:
            n = F.ceil(F.size(w) / F.lit(k)).cast("int")
            return F.transform(
                F.sequence(F.lit(0), n - F.lit(1)),
                lambda i: F.concat_ws(" ", F.slice(w, i * k + 1, k)),
            )

        from raptor_spark.functions import bind_col

        return bind_col(_words(text), build)

    base = df.select(
        F.col(id_col).alias("id"), spans_of(F.col(text_col)).alias("spans")
    )
    spans = base.select("id", F.posexplode("spans").alias("pos", "span"))
    first = Window.partitionBy("span").orderBy("id", "pos")
    removed = (
        spans.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") > 1)
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("rm"),
            F.count("*").alias("n_removed"),
        )
    )
    rm = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    return (
        base.join(removed, "id", "left")
        .select(
            "id",
            F.size("spans").cast("long").alias("n_spans"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ", F.filter("spans", lambda s, i: ~F.array_contains(rm, i))
                )
            ).alias("clean_md5"),
        )
    )


def minhash_signature_md5(
    df: DataFrame, id_col: str, text_col: str, n: int = 1, n_hashes: int = 16
) -> DataFrame:
    """Per-document MinHash signature over word n-gram shingles with
    md5-derived hash functions (``lsh.md5_lanes``): h_j(s) = first 8 hex
    chars of md5(s || '#mh<j>') as a 32-bit integer — reproducible
    byte-for-byte in any SQL engine, so signatures can be audited outside
    Spark. Returns (id, mh1..mh<k>), one row per input row.

    This is the CALIBRATION twin of the production `minhash_lsh_pairs`
    path (which uses xxhash64 lanes for speed): same estimator,
    engine-portable hashes. Scale shape: the shingle array is projected
    once and every lane is an ``array_min`` over it — no shuffle; the
    output is one narrow row per document."""
    sh = _ensure_parallel(df).select(
        F.col(id_col).alias("id"),
        word_shingles_col(F.col(text_col), n).alias("sh"),
    )
    sig = lsh.signature(F.col("sh"), lsh.md5_lanes(n_hashes))
    return sh.select("id", *[h.alias(f"mh{j}") for j, h in enumerate(sig, 1)])


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard), a < b — the ENGINE-PORTABLE
    twin of `minhash_lsh_pairs`: signatures are the md5-derived lanes of
    `minhash_signature_md5` and band keys are the concatenated lane
    VALUES (concat_ws('#', band_id, lanes...)) rather than an xxhash64 of
    them, so the exact candidate set is reproducible byte-for-byte in any
    SQL engine (the same portability trick as `lsh_blocking_audit`). This
    is what graduates the LSH dedup path from rows-only to value-hash-gated
    against DuckDB (VERDICT r4 next-round #2); semantics mirror the
    reference's 0.9 ANN-dedup anti-join (qdrant_search_docker/
    api_insert.py:130-165). NULL text is dropped, as in `minhash_lsh_pairs`.

    Scale discipline is the production path's, through the same `lsh`
    primitives: band rows carry IDS ONLY; candidate (a, b) pairs are
    expanded per capped bucket, distinct-ed FIRST, and the exact-Jaccard
    verify runs ONCE per unique pair by joining the persisted shingle
    table back on each side — shingle arrays never travel through the
    band shuffle."""
    if n_hashes % bands:
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    base = (
        _ensure_parallel(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            word_shingles_col(F.col(text_col), n).alias("sh"),
        )
        .persist()
    )
    keys = lsh.band_rows(
        base, ["id"], "sh", lsh.md5_lanes(n_hashes), bands, value_keyed=True
    )
    cands = lsh.bucket_pairs(keys, ["band_id", "band_key"], ["id"], max_bucket)
    return lsh.verify_pairs(cands, base, "sh", jaccard_threshold)


def simhash_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 64-bit SimHash with md5-derived word-hash bits — the
    ENGINE-PORTABLE twin of `simhash` (which mixes bits with xxhash64).
    Bit j of word w is bit (j mod 4) of hex digit (j div 4) of md5(w), so
    any SQL engine replays the fingerprint byte-for-byte from its own md5
    — no 64-bit hex→long conversion (whose sign bit trips strict-mode
    overflow checks differently per engine) ever happens: the 128-bit md5
    is consumed one hex DIGIT at a time.

    Shape matches `simhash`: one explode of distinct words, md5 projected
    ONCE per (id, word) row, 16 digit columns decoded with conv(), then the
    shared ``lsh.simhash_fold``. NULL text is dropped, as in `simhash`."""
    ex = (
        _ensure_parallel(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(_words(F.col(text_col)))).alias("w"),
        )
        .select("id", F.md5("w").alias("h"))
    )
    dg = ex.select(
        "id",
        *[
            F.conv(F.substring(F.col("h"), d + 1, 1), 16, 10)
            .cast("int")
            .alias(f"d{d}")
            for d in range(16)
        ],
    )
    return lsh.simhash_fold(
        dg, lambda j: F.shiftright(F.col(f"d{j // 4}"), j % 4).bitwiseAND(F.lit(1))
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
    n_hashes: int = 16,
) -> DataFrame:
    """Estimated-vs-exact Jaccard calibration audit: for every exact n-gram
    Jaccard pair ≥ threshold, the MinHash estimate (matching-lane fraction
    of the md5 signatures) next to the exact value —
    (a, b, j_exact, j_est, abs_err). The production LSH path's recall/
    precision story, made inspectable per pair: a drifting abs_err
    distribution means the banding config no longer matches the corpus.

    Scale shape: exact pairs come from the prefix-filtered SSJoin
    (`ngram_jaccard_pairs`); signatures are a map-side projection; the final
    step joins one narrow signature row per side onto the pair set — no
    shingle arrays cross the pair join (the wide-payload rule)."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)
    sig = minhash_signature_md5(df, id_col, text_col, n=n, n_hashes=n_hashes)
    lanes = [f"mh{j}" for j in range(1, n_hashes + 1)]
    sa = sig.select(
        F.col("id").alias("a"), *[F.col(c).alias(f"a_{c}") for c in lanes]
    )
    sb = sig.select(
        F.col("id").alias("b"), *[F.col(c).alias(f"b_{c}") for c in lanes]
    )
    match_frac = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0) for c in lanes
    ) / F.lit(float(n_hashes))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.col("jaccard").alias("j_exact"),
            match_frac.alias("j_est"),
        )
        .withColumn("abs_err", F.abs(F.col("j_exact") - F.col("j_est")))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """(id, fp): winnowing fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every POSITIONAL word k-gram, slide a window of
    ``w`` consecutive hashes, keep each window's minimum — guaranteeing
    any shared run of ≥ w+k−1 words between two documents yields at least
    one common fingerprint, while storing only ~2/(w+1) of the hashes.
    The guarantee-based sibling of minhash (probabilistic) and
    doc_fingerprint (single rolling hash).

    Hashes are the md5-32-bit lanes of minhash_signature_md5 — engine-
    portable byte-for-byte. Documents shorter than one window keep the
    minimum of all their hashes (one fingerprint), so short docs are
    never silently dropped.

    Scale shape: entirely map-side per document (split → k-gram →
    hash → window-min → distinct), one narrow (id, fp) output row per
    selected fingerprint; no shuffle until the caller aggregates. Each
    derivation step is bound as a column attribute in its own projection
    — HOF lambdas get no common-subexpression elimination, so inlining
    would re-split/re-hash at every reference."""
    from raptor_spark.operators.text import words_col

    def shingle_at(ws: Column):
        def at(i: Column) -> Column:
            return F.concat_ws(
                " ", *[F.element_at(ws, i + F.lit(j + 1)) for j in range(k)]
            )

        return at

    d1 = df.select(F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("ws"))
    d2 = d1.select(
        "id",
        F.when(
            F.size("ws") >= k,
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - k), shingle_at(F.col("ws"))
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sh"),
    )
    d3 = d2.select(
        "id",
        F.transform(
            "sh",
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
        ).alias("hs"),
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("hs") - F.lit(w) + 1)),
        lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
    )
    d4 = d3.select(
        "id",
        F.when(F.size("hs") >= 1, F.array_distinct(mins))
        .otherwise(F.array().cast("array<bigint>"))
        .alias("fps"),
    )
    return d4.select("id", F.explode("fps").alias("fp"))


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    max_df: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """(a, b, n_shared, n_fp_a, n_fp_b, overlap): candidate near-dup pairs
    sharing ≥ ``min_shared`` winnowing fingerprints; ``overlap`` is the
    containment-style n_shared / min(|fps_a|, |fps_b|). Fingerprints held
    by more than ``max_df`` documents are excluded on BOTH engines before
    pairing (the deterministic stop-fingerprint cap — boilerplate k-grams
    otherwise make quadratic buckets).

    Scale shape: the fingerprint table is persisted before the bucket
    self-join (unpersisted, both sides would recompute the full hashing
    lineage); only (id, fp) rows — never text or arrays — cross the join;
    per-fingerprint fan-out is capped at C(max_df, 2)."""
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w).persist()
    dfp = fps.groupBy("fp").agg(F.count("*").alias("n_docs"))
    eligible = dfp.filter(
        (F.col("n_docs") >= 2) & (F.col("n_docs") <= max_df)
    ).select("fp")
    slim = fps.join(eligible, "fp")
    x, y = slim.alias("x"), slim.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.fp") == F.col("y.fp")) & (F.col("x.id") < F.col("y.id")),
        )
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sizes = fps.groupBy("id").agg(F.count("*").alias("n_fp"))
    return (
        pairs.join(sizes.select(F.col("id").alias("a"), F.col("n_fp").alias("n_fp_a")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n_fp").alias("n_fp_b")), "b")
        .select(
            "a",
            "b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            (
                F.col("n_shared")
                / F.least(F.col("n_fp_a"), F.col("n_fp_b")).cast("double")
            ).alias("overlap"),
        )
    )


def lsh_blocking_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """One-row entity-resolution blocking-quality audit of banded MinHash
    LSH against the exact Jaccard ground truth: pair completeness
    (recall — the share of true ≥ threshold pairs that land in at least
    one shared band bucket), pairs quality (precision), and reduction
    ratio (1 − candidates / C(n,2) — how much of the quadratic space the
    blocking prunes). THE two numbers an ER blocking config is judged by
    (Christen's framework); minhash_calibration audits the estimator,
    this audits the banding.

    Uses the engine-portable md5 lane signatures (minhash_signature_md5)
    split into ``bands`` bands of ``n_hashes/bands`` rows, so an external
    SQL engine can replay the exact candidate set byte-for-byte. Exact
    pairs come from the lossless prefix-filtered SSJoin
    (ngram_jaccard_pairs).

    Scale shape: signatures and band keys (``lsh.band_keys``) are
    map-side projections; the candidate join is bucket-keyed (same discipline as the
    production minhash path — only (id, band_key) rows cross it); the
    audit output is ONE row of counters."""
    if n_hashes % bands:
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    sig = minhash_signature_md5(df, id_col, text_col, n=n, n_hashes=n_hashes)
    lanes = [F.col(f"mh{j}") for j in range(1, n_hashes + 1)]
    keys = sig.select(
        "id", lsh.band_keys(lanes, bands, value_keyed=True).alias("s")
    ).select("id", F.col("s.band_key").alias("bk")).persist()
    x, y = keys.alias("x"), keys.alias("y")
    cand = (
        x.join(y, (F.col("x.bk") == F.col("y.bk")) & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
        .persist()
    )
    exact = ngram_jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold
    ).select("a", "b").persist()
    n_docs = df.select(F.count("*").alias("n_docs"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_hit = exact.join(cand, ["a", "b"], "left_semi").agg(
        F.count("*").alias("n_hit")
    )
    out = (
        n_docs.crossJoin(n_exact).crossJoin(n_cand).crossJoin(n_hit)
        .select(
            "n_docs",
            "n_exact",
            "n_cand",
            "n_hit",
            F.when(
                F.col("n_exact") > 0,
                F.col("n_hit") / F.col("n_exact").cast("double"),
            ).otherwise(F.lit(1.0)).alias("recall"),
            F.when(
                F.col("n_cand") > 0,
                F.col("n_hit") / F.col("n_cand").cast("double"),
            ).otherwise(F.lit(1.0)).alias("precision"),
            (
                1.0
                - F.col("n_cand")
                / (F.col("n_docs") * (F.col("n_docs") - 1) / 2.0)
            ).alias("reduction_ratio"),
        )
    )
    return out


def weighted_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """(a, b, j_set, j_weighted): the TF-weighted (Ruzicka) Jaccard
    Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) next to the set Jaccard for
    every exact candidate pair (set-J ≥ threshold via the lossless SSJoin
    path). Separates true rewrites (both high) from "same vocabulary,
    different emphasis" pairs (set-J high, weighted-J low) — the
    repetition-aware refinement the set measure can't see.

    Exact by construction: Σmax = tot_a + tot_b − Σmin (min over
    non-shared terms is 0), so only COMMON terms are ever joined and all
    sums are integer term frequencies; the one double op is the final
    division. Scale shape: one (id, term, tf) corpus shuffle; the
    common-term join fans out per (pair, shared term) — bounded by the
    candidate pair set the threshold already pruned."""
    from raptor_spark.operators.ranking import doc_terms

    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, n=1, threshold=threshold
    ).select("a", "b", F.col("jaccard").alias("j_set"))
    tf = doc_terms(df, id_col, text_col).select("id", "term", "tf").persist()
    tot = tf.groupBy("id").agg(F.sum("tf").alias("tot"))
    ta = tf.select(F.col("id").alias("a"), "term", F.col("tf").alias("tf_a"))
    tb = tf.select(F.col("id").alias("b"), "term", F.col("tf").alias("tf_b"))
    smin = (
        pairs.join(ta, "a")
        .join(tb, ["b", "term"])
        .groupBy("a", "b")
        .agg(F.sum(F.least("tf_a", "tf_b")).alias("smin"))
    )
    return (
        pairs.join(smin, ["a", "b"], "left")
        .join(tot.select(F.col("id").alias("a"), F.col("tot").alias("tot_a")), "a")
        .join(tot.select(F.col("id").alias("b"), F.col("tot").alias("tot_b")), "b")
        .select(
            "a",
            "b",
            "j_set",
            (
                F.coalesce("smin", F.lit(0))
                / (
                    F.col("tot_a") + F.col("tot_b") - F.coalesce("smin", F.lit(0))
                ).cast("double")
            ).alias("j_weighted"),
        )
    )


def fellegi_sunter_census(
    pairs: DataFrame,
    features: list[tuple[str, int, int]],
    upper: int,
    lower: int,
) -> DataFrame:
    """Fellegi-Sunter record-linkage adjudication (JASA 1969) over a
    candidate-pair table: each feature is a BOOLEAN agreement column with
    fixed integer milli-weights (w_agree, w_disagree) ~ 1000·log2(m/u);
    a pair's score is the sum of its pattern's weights, and the decision
    is link (score ≥ upper) / possible (lower < score < upper) /
    non-link. All arithmetic is INTEGER, so the decision boundary can
    never flip across engines (CLAUDE.md exactness rule); the weights are
    operator config, as in production linkers whose m/u come from a
    separate labeled round.

    Returns the PATTERN census, not per-pair rows: one row per observed
    agreement pattern ('1'/'0' per feature, in order) with its score,
    decision, and pair count — the table a linkage reviewer actually
    reads, and a groupBy over at most 2^|features| keys regardless of
    candidate volume (map-side combinable, so at 100 TB the shuffle
    carries ≤ one row per pattern per task)."""
    pattern = F.concat(
        *[F.when(F.col(n), F.lit("1")).otherwise(F.lit("0")) for n, _, _ in features]
    )
    score = None
    for n, w_a, w_d in features:
        term = F.when(F.col(n), F.lit(w_a)).otherwise(F.lit(w_d))
        score = term if score is None else score + term
    scored = pairs.select(
        pattern.alias("pattern"), score.cast("long").alias("score")
    )
    return (
        scored.groupBy("pattern", "score")
        .agg(F.count("*").alias("n_pairs"))
        .withColumn(
            "decision",
            F.when(F.col("score") >= upper, F.lit("link"))
            .when(F.col("score") > lower, F.lit("possible"))
            .otherwise(F.lit("nonlink")),
        )
        .select("pattern", "score", "decision", "n_pairs")
        .orderBy(F.col("score").desc(), "pattern")
    )


def content_defined_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 8,
    mask: int = 63,
) -> DataFrame:
    """(doc, chunk_start, chunk_len, chunk_md5): content-defined chunking
    — the rsync/LBFS/FastCDC storage-dedup primitive. A boundary falls
    wherever the w-char window polynomial Σ_j code(i+j)·31^j ≡ 0
    (mod mask+1); chunks are the spans between boundaries. Unlike
    span_dedup's fixed 10-word windows, CDC boundaries are functions of
    CONTENT, so an insertion reshuffles only the chunk it lands in —
    every other chunk hash survives and still dedups.

    Exactness & parallelism: the window hash is pure BIGINT (codepoint ·
    31^j, j unrolled in the expression — no UDF, no sequential scan), so
    every position is tested independently — the textbook gear hash
    without min/max clamps, which is what makes it embarrassingly
    parallel (a min-chunk clamp couples neighboring boundaries into a
    sequential dependency). Sentinel boundaries at 1 and len+1 close the
    first/last chunk; a doc with no content boundary is one whole-doc
    chunk. One posexplode over (doc, position), one per-doc window sort
    over BOUNDARY rows only (few per doc), then one doc-keyed join that
    moves each text exactly once for the in-place md5 pass — individual
    chunk substrings are hashed where the text lands and only
    (doc, start, len, md5) rows leave the stage."""
    from pyspark.sql.window import Window

    t = F.col("_t")
    base = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("_t")
    ).filter(F.length(t) > 0)
    pos = base.select(
        "doc",
        "_t",
        F.explode(
            F.when(
                F.length(t) >= w, F.sequence(F.lit(1), F.length(t) - (w - 1))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    h = None
    for j in range(w):
        term = F.ascii(F.substring(t, F.col("i") + j, F.lit(1))).cast(
            "long"
        ) * (31**j)
        h = term if h is None else h + term
    hits = pos.filter((h % (mask + 1)) == 0).select("doc", F.col("i").alias("b"))
    sentinels = base.select(
        "doc", F.explode(F.array(F.lit(1), F.length(t) + 1)).alias("b")
    )
    bounds = hits.unionByName(sentinels).distinct()
    wd = Window.partitionBy("doc").orderBy("b")
    spans = (
        bounds.withColumn("nxt", F.lead("b").over(wd))
        .filter(F.col("nxt").isNotNull() & (F.col("nxt") > F.col("b")))
        .select("doc", F.col("b").alias("chunk_start"),
                (F.col("nxt") - F.col("b")).alias("chunk_len"))
    )
    return spans.join(base, "doc").select(
        "doc",
        "chunk_start",
        "chunk_len",
        F.md5(F.substring(t, F.col("chunk_start"), F.col("chunk_len"))).alias(
            "chunk_md5"
        ),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
    n_parts: int = 32,
) -> DataFrame:
    """Sorted-neighborhood (SNM) blocking: sort every record by a fuzzy
    sort key, then emit each record paired with its ``window`` successors
    in that order — the classic entity-resolution blocking method
    (Hernández/Stolfo) that catches near-matches equality blocking splits
    across blocks (a typo in the first char of a block key sends the twin
    to a far block; in SNM it usually stays within a few rank positions).
    Output: (a, b, gap, dist) — ids ordered by rank, their rank gap
    (1..window), and the Levenshtein distance between their sort keys
    (JVM-side, O(|key|²) per pair) for the caller's match threshold.

    Scale shape — the global sort WITHOUT a single-partition window:
    ranks compose per-partition row_numbers with broadcast partition
    offsets (repartitionByRange on (key, id) → row_number inside each
    partition in parallel → one |partitions|-row count collect → offset
    join). Ranks depend only on the (key, id) total order, never on where
    range boundaries land, so output is partition-count invariant. The
    neighbor join is ``window`` integer EQUI-joins (rank_b = rank_a + k),
    each a plain hash join on a dense unique key — no range join, no
    skew (ranks are unique by construction)."""
    from raptor_spark.operators.relational import global_ranks

    base = df.select(F.col(id_col).alias("id"), F.col(key_col).alias("key"))
    ranked = global_ranks(base, ["key", "id"], n_parts=n_parts).select(
        "id", "key", "r"
    )
    out = None
    for k in range(1, window + 1):
        right = ranked.select(
            (F.col("r") - k).alias("r"),
            F.col("id").alias("b"),
            F.col("key").alias("key_b"),
        )
        p = ranked.join(right, "r").select(
            F.col("id").alias("a"),
            "b",
            F.lit(k).alias("gap"),
            F.levenshtein(F.col("key"), F.col("key_b")).alias("dist"),
        )
        out = p if out is None else out.unionByName(p)
    return out


def threshold_sweep_census(
    pairs: DataFrame, thresholds: tuple[int, ...] = (80, 90, 95)
) -> DataFrame:
    """(threshold_pct, n_vertices, n_components, largest_cc): the dedup
    operating curve — connected-component census of the near-dup graph
    at several Jaccard cut-offs from ONE scored pair set (the pairs are
    computed once at the loosest threshold; each sweep point only
    filters and re-clusters). The threshold-selection audit every dedup
    deployment runs before committing to a cut-off: a largest_cc that
    explodes between 0.9 and 0.8 says the corpus chains below 0.9
    (the component_census / hub_robustness family, parameterized by
    threshold instead of structure).

    The filter compares the exact-rational jaccard against t/100 — both
    engines compute the identical nearest-doubles, so boundary pairs
    never flip. Per sweep point: one filter + the shared CC loop."""
    from raptor_spark.cc import connected_components

    scored = pairs.localCheckpoint()
    out = None
    for t in thresholds:
        kept = scored.filter(
            F.col("jaccard") >= F.lit(t) / F.lit(100.0)
        ).select("a", "b")
        comp = connected_components(kept)
        stats = (
            comp.groupBy("component")
            .agg(F.count("*").alias("sz"))
            .agg(
                F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_vertices"),
                F.count("*").cast("long").alias("n_components"),
                F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("largest_cc"),
            )
            .select(
                F.lit(t).alias("threshold_pct"),
                "n_vertices",
                "n_components",
                "largest_cc",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.localCheckpoint()
