"""Stage 2: entity linking — MinHash/LSH blocking + in-bucket Jaccard verify,
all as DataFrame ops.

Spark-first re-expression of the reference's ANN insert-dedup (batch-query new
vectors, link iff cosine ≥ 0.9 — raptor/qdrant_search_docker/api_insert.py:14,
130-165) for symbol mentions, with the link rule defined once in
``raptor_spark.oracle.should_link`` and decomposed here into distributed form:

1. exact block: names sharing the space-stripped normalized identifier link
   unconditionally (covers camel/snake/Pascal aliases AND head symbols like
   ``main`` — heads only ever link exactly; skew guard per SURVEY.md §7.4).
2. fuzzy block: non-head names → char-3-gram shingles → 32 MinHash values
   (xxhash64, JVM-side) → 8 bands × 4 rows → candidates from per-bucket
   ``collect_list`` pair expansion keyed on (first_token, band_id,
   band_key), with oversize buckets dropped (MAX_BAND_BUCKET skew guard)
   and each pair verified inline with exact Jaccard via
   ``array_intersect``/``array_union`` sizes (JVM-side, no UDF). The
   signature, banding, bucket expansion and Jaccard are the shared
   ``raptor_spark.lsh`` primitives that the dedup operators also run.

The bucket key includes the normalized FIRST TOKEN, which both enforces the
prefix-block rule and spreads band buckets. Head-symbol names (document
frequency over repos > 50%) are excluded from fuzzy blocking entirely, so
``main``/``utils`` can never form a giant LSH bucket, and the bucket cap
bounds every candidate expansion at C(64,2) pairs.

Scale notes: everything is per-distinct-NAME, not per-mention — the name
dimension is orders of magnitude smaller than the triple table. Shuffles
over the shared name table: the exact-block self-join on ``nospace``, one
bucket groupBy, one verified-pair distinct and the final union distinct —
the verify runs inside the bucket expression, not as a join.
``name_features`` adds its per-name and total repo-count aggregates.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from raptor_spark import lsh
from raptor_spark.functions import norm_identifier_col
from raptor_spark.oracle import HEAD_SYMBOL_MAX_DF, JACCARD_THRESHOLD
from raptor_spark.tokenize import PRED_CALLS, PRED_DEFINES, char_shingles, normalize_identifier

N_MINHASH = 32
N_BANDS = 8  # 4 rows per band: P(candidate) = 1-(1-j^4)^8 ≈ .95 at j=.75 and
#              ≈ .999 at j=.85 (real alias pairs sit ≥ .85; exact-normalized
#              aliases bypass LSH entirely via the nospace block). 2-row bands
#              were recall-heavier but fired at j≈.33 too (P≈.9), which made
#              the ubiquitous shared-first-token names (helper_*) pairwise
#              candidates — a quadratic flood measured at >15 min for 10k
#              files. 4-row bands drop P(j=.33) to ≈.09.
MAX_BAND_BUCKET = 64  # skew guard: an LSH bucket bigger than this means the
#              band hash carries no information for that name cluster — drop
#              the bucket (members keep their other N_BANDS-1 chances, and
#              true alias pairs are still covered by the exact nospace block)

_NAME_FEATURES_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("is_head", BooleanType(), False),
        StructField("norm", StringType(), False),
        StructField("nospace", StringType(), False),
        StructField("first_token", StringType(), False),
        StructField("shingles", ArrayType(StringType()), False),
    ]
)


def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Vectorized normalization + shingling (the only Python in this stage)."""
    for pdf in batches:
        norms = pdf["name"].map(normalize_identifier)
        yield pd.DataFrame(
            {
                "name": pdf["name"],
                "is_head": pdf["is_head"],
                "norm": norms,
                "nospace": norms.str.replace(" ", "", regex=False),
                "first_token": norms.str.split(" ").str[0],
                "shingles": norms.map(lambda s: sorted(char_shingles(s))),
            }
        )


def name_features(triples: DataFrame) -> DataFrame:
    """Distinct defined names, featurized, with the head-symbol flag — the
    shared name-dimension table for ``link_edges`` AND ``canonical_mapping``.

    One groupBy shuffle on the name dimension replaces the old
    distinct → groupBy → distinct chain (three shuffles), and the
    head-threshold denominator (count of distinct repos with ≥1 defined
    name) is a one-row aggregate broadcast back in — lazy, instead of the
    eager driver ``count()`` the old ``head_names`` paid before any linking
    work could start. The pipeline computes this once, persists it, and
    threads it through both consumers; previously each recomputed the name
    distinct and the featurize pass from the triple table.
    """
    names_repo = triples.filter(F.col("pred") == PRED_DEFINES).select(
        F.split(F.col("obj"), "@").getItem(0).alias("name"),
        F.col("repo"),
    )
    per_name = names_repo.groupBy("name").agg(
        F.countDistinct("repo").alias("df_repos")
    )
    total = names_repo.agg(F.countDistinct("repo").alias("total_repos"))
    flagged = per_name.join(F.broadcast(total), how="cross").select(
        "name",
        (
            F.col("df_repos") > F.lit(HEAD_SYMBOL_MAX_DF) * F.col("total_repos")
        ).alias("is_head"),
    )
    return flagged.mapInPandas(_featurize, schema=_NAME_FEATURES_SCHEMA)


def defined_names(triples: DataFrame) -> DataFrame:
    """Distinct defined symbol names with per-repo document frequency."""
    return (
        triples.filter(F.col("pred") == PRED_DEFINES)
        .select(
            F.split(F.col("obj"), "@").getItem(0).alias("name"),
            F.col("repo"),
        )
        .distinct()
    )


def head_names(names_with_repo: DataFrame) -> DataFrame:
    """Names defined in more than HEAD_SYMBOL_MAX_DF of all repos — the skew
    heads (``main``, ``utils``, ``init``) called out by the north rule."""
    total = names_with_repo.select("repo").distinct().count()
    return (
        names_with_repo.groupBy("name")
        .agg(F.countDistinct("repo").alias("df_repos"))
        .filter(F.col("df_repos") > HEAD_SYMBOL_MAX_DF * total)
        .select("name")
    )


def link_edges(triples: DataFrame, feats: DataFrame | None = None) -> DataFrame:
    """(a, b) undirected link edges between defined names, a < b.

    ``feats`` — a precomputed (ideally persisted) ``name_features`` table;
    pass it when another consumer (``canonical_mapping``) shares the same
    name dimension so the distinct+featurize pass runs once per pipeline.
    """
    if feats is None:
        feats = name_features(triples).persist()

    # -- 1. exact block: same space-stripped normalized identifier ----------
    exact = (
        feats.alias("a")
        .join(feats.alias("b"), on="nospace")
        .filter(F.col("a.name") < F.col("b.name"))
        .select(F.col("a.name").alias("a"), F.col("b.name").alias("b"))
    )

    # -- 2. fuzzy block: MinHash/LSH over non-head names --------------------
    # hashed shingle sets (array<long>): Jaccard over 64-bit shingle hashes
    # equals Jaccard over the strings up to ~2^-64 collisions, and longs
    # shuffle + intersect several times cheaper than strings. Signatures
    # stay over the shingle strings.
    fuzzy_feats = feats.filter(~F.col("is_head")).withColumn(
        "hsh", F.transform("shingles", lambda s: F.xxhash64(s))
    )
    member = ["name", "nospace", "hsh"]
    bands = lsh.band_rows(
        fuzzy_feats,
        ["first_token", *member],
        "shingles",
        lsh.xxhash_lanes(N_MINHASH),
        N_BANDS,
    )

    # -- 2b + 3 fused: capped-bucket collect_list expansion with the Jaccard
    # verify INLINE. One shuffle of (name, hsh, band) rows; pairs are
    # expanded AND verified inside the bucket expression, so only surviving
    # pairs ever become rows. The previous shape shuffled every candidate
    # pair through a distinct and then two wide shingle-array joins —
    # measured 23 s of a 38 s stage at 100k files on 4M candidates; this
    # emits only the ~30k verified rows into the final distinct. Buckets are
    # bounded by MAX_BAND_BUCKET, so inline work is ≤ C(64,2) jaccards per
    # bucket; re-verifying a pair that collides in several bands costs far
    # less than one per-candidate shuffle row did.
    def verify(x, y):
        # space-stripped equals are already linked exactly; skip
        # re-verify — and only verified pairs become rows at all
        return (x["nospace"] != y["nospace"]) & (
            lsh.jaccard(x["hsh"], y["hsh"]) >= F.lit(JACCARD_THRESHOLD)
        )

    verified = lsh.bucket_pairs(
        bands, ["first_token", "band_id", "band_key"], member, MAX_BAND_BUCKET, verify
    )

    return exact.unionByName(verified).distinct()


def canonical_mapping(
    triples: DataFrame, components: DataFrame, feats: DataFrame | None = None
) -> DataFrame:
    """name → canonical, where canonical = min normalized name within the
    component (matches the oracle). ``components`` is (name, component) from
    raptor_spark.cc; names not in any component map to their own norm.
    ``feats`` — optional shared ``name_features`` table (see link_edges)."""
    if feats is None:
        feats = name_features(triples)
    feats = feats.select("name", "norm")
    with_comp = feats.join(components, on="name", how="left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("name"))
    )
    canon = with_comp.groupBy("component").agg(F.min("norm").alias("canonical"))
    return with_comp.join(canon, on="component").select("name", "canonical")


def apply_linking(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Stage-2 output: triples + subj_canonical/obj_canonical columns.

    * file-defines-symbol: obj_canonical = canonical of the defined name.
    * symbol-calls-symbol: subj_canonical = canonical of the enclosing def;
      obj_canonical = canonical of the callee if it is a defined name anywhere,
      else its own normalized spelling.
    * other predicates: nulls.

    The mapping table is tiny relative to triples → broadcast joins, no
    shuffle of the triple table.
    """
    m = F.broadcast(mapping)

    defines = triples.filter(F.col("pred") == PRED_DEFINES).withColumn(
        "def_name", F.split(F.col("obj"), "@").getItem(0)
    )
    defines = (
        defines.join(m.withColumnRenamed("name", "def_name"), on="def_name", how="left")
        .withColumn("obj_canonical", F.col("canonical"))
        .withColumn("subj_canonical", F.lit(None).cast("string"))
        .drop("def_name", "canonical")
    )

    calls = triples.filter(F.col("pred") == PRED_CALLS).withColumn(
        "caller", F.element_at(F.split(F.col("subj"), ":"), -1)
    )
    calls = (
        calls.join(
            m.select(F.col("name").alias("caller"), F.col("canonical").alias("subj_canonical")),
            on="caller",
            how="left",
        )
        .join(
            m.select(F.col("name").alias("obj"), F.col("canonical").alias("obj_canonical")),
            on="obj",
            how="left",
        )
        .drop("caller")
    )
    # callee never defined anywhere → canonicalize by normalization alone
    calls = calls.withColumn(
        "obj_canonical",
        F.coalesce(F.col("obj_canonical"), norm_identifier_col("obj")),
    ).select(*[c for c in defines.columns])

    others = (
        triples.filter(~F.col("pred").isin(PRED_DEFINES, PRED_CALLS))
        .withColumn("subj_canonical", F.lit(None).cast("string"))
        .withColumn("obj_canonical", F.lit(None).cast("string"))
    )
    return defines.unionByName(calls).unionByName(others)
