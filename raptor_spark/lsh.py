"""MinHash / LSH primitives shared by entity linking (``link.link_edges``)
and near-duplicate dedup (``operators.dedup``): hash lanes, signatures,
band keys, the capped-bucket pair expansion, the exact-Jaccard verify and
the SimHash sign fold. They live here once, so the DuckDB md5 oracles
check the banding code that production runs, not a copy.

Both verify placements were A/B-measured per workload and both stay: an
in-bucket predicate for narrow name rows (linking, ``bucket_pairs(keep=)``)
and a join-back after ``distinct`` for wide documents (dedup,
``verify_pairs``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Lane = Callable[[Column], Column]


def xxhash_lanes(n: int) -> list[Lane]:
    """Lane i: xxhash64(s, seed=i), i in [0, n)."""

    # NB: a two-arg transform lambda would receive (element, array_index)
    # and silently shadow the seed — keep each lane a one-arg closure
    def lane(seed: int) -> Lane:
        return lambda s: F.xxhash64(s, F.lit(seed))

    return [lane(i) for i in range(n)]


def md5_lanes(n: int) -> list[Lane]:
    """Lane j (1-based): the first 8 hex chars of md5(s || '#mh<j>') as a
    32-bit integer — the same cross-engine trick as curation._bloom_pos,
    so any SQL engine replays the signature from its own md5."""

    def lane(j: int) -> Lane:
        return lambda s: F.conv(
            F.substring(F.md5(F.concat(s, F.lit(f"#mh{j}"))), 1, 8), 16, 10
        ).cast("long")

    return [lane(j) for j in range(1, n + 1)]


def signature(arr: Column, lanes: Sequence[Lane]) -> list[Column]:
    """One MinHash value per lane: a pure projection over the per-row
    element array — no explode/groupBy shuffle (an earlier explode + min-agg
    formulation shuffled every shingle row and compiled one wide aggregate
    for nothing). Pass a column REFERENCE: HOF lambdas get no
    common-subexpression elimination, so an inlined shingling expression
    would be re-evaluated once per lane."""
    return [F.array_min(F.transform(arr, lane)) for lane in lanes]


def band_keys(sig: Sequence[Column], n_bands: int, value_keyed: bool = False) -> Column:
    """Exploded struct(band_id, band_key), one per band of
    ``len(sig) // n_bands`` consecutive signature lanes. The key is xxhash64 of the
    lane tuple, or with ``value_keyed`` the lane VALUES themselves,
    concat_ws('#', band_id, lanes...): banding groups by lane-tuple
    equality either way, so hashing the tuple is pure compression, and
    skipping it lets an external SQL engine replay the exact buckets."""
    r = len(sig) // n_bands

    def key(b: int) -> Column:
        band = sig[b * r:(b + 1) * r]
        return F.concat_ws("#", F.lit(b), *band) if value_keyed else F.xxhash64(*band)

    return F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("band_id"), key(b).alias("band_key"))
                for b in range(n_bands)
            ]
        )
    )


def band_rows(
    df: DataFrame,
    carry: Sequence[str],
    arr: str,
    lanes: Sequence[Lane],
    n_bands: int,
    value_keyed: bool = False,
) -> DataFrame:
    """(carry..., band_id, band_key): the MinHash signature of array column
    ``arr`` projected once as lane columns, then one row per band."""
    sig = df.select(
        *carry,
        *[h.alias(f"_h{i}") for i, h in enumerate(signature(F.col(arr), lanes))],
    )
    lane_cols = [F.col(f"_h{i}") for i in range(len(lanes))]
    return sig.select(
        *carry, band_keys(lane_cols, n_bands, value_keyed).alias("band")
    ).select(*carry, "band.band_id", "band.band_key")


def jaccard(x: Column, y: Column) -> Column:
    """Exact set Jaccard of two distinct-element arrays (JVM-side, no UDF)."""
    return F.size(F.array_intersect(x, y)) / F.size(F.array_union(x, y))


def bucket_pairs(
    rows: DataFrame,
    keys: Sequence[str],
    members: Sequence[str],
    max_bucket: int | None,
    keep: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a, b), a < b, of rows sharing a bucket.

    Each bucket (one group of ``keys``) collects struct(members...) and
    sorts it; ``members[0]`` is the pair id, so a < b by construction.
    Pairs are expanded per bucket (collect_list + pair expression — a band
    self-join shuffled three times with hot buckets pinned to single tasks).
    Buckets larger than ``max_bucket`` are dropped: an LSH bucket that big
    means the band key carries no information for that cluster, its members
    keep their other bands, and the cap bounds every expansion at
    C(max_bucket, 2) pairs. ``max_bucket=None`` keeps every bucket.

    ``keep(x, y)`` — an optional predicate over two member structs,
    evaluated INSIDE the bucket expression, so only surviving pairs ever
    become rows (the inline-verify placement)."""
    buckets = (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct(*members))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket)
    ms = F.col("ms")
    pid = members[0]

    def partners(x: Column, i: Column) -> Column:
        ys = F.slice(ms, i + F.lit(2), F.size(ms))
        if keep is not None:
            ys = F.filter(ys, lambda y: keep(x, y))
        return F.transform(ys, lambda y: F.struct(x[pid].alias("a"), y[pid].alias("b")))

    return (
        buckets.select(F.explode(F.flatten(F.transform(ms, partners))).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def verify_pairs(
    cands: DataFrame, sets: DataFrame, set_col: str, threshold: float
) -> DataFrame:
    """(a, b, jaccard ≥ threshold): the exact-Jaccard verify for wide rows.

    ``cands`` are distinct (a, b) id pairs; ``sets`` is the (persisted)
    (id, set_col) table, joined back once per side — the verify-after-
    distinct order is output-identical to verify-per-band + distinct
    (jaccard is a pure function of the pair) but does 1/n_bands of the
    array work, and wide set arrays never travel through the band shuffle."""

    def side(name: str) -> DataFrame:
        return sets.select(F.col("id").alias(name), F.col(set_col).alias(f"s_{name}"))

    return (
        cands.join(side("a"), "a")
        .join(side("b"), "b")
        .select("a", "b", jaccard(F.col("s_a"), F.col("s_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def simhash_fold(
    rows: DataFrame, bit: Callable[[int], Column], bits: int = 64
) -> DataFrame:
    """(id, simhash) from (id, word-hash) rows, one row per distinct word.

    ``bit(j)`` is bit j of the row's word hash as a 0/1 column — the only
    part that differs between hash families. Shape: one groupBy(id) with
    ``bits`` trivial conditional ±1 sums, then the fingerprint assembled
    from the sign bits (bit 63 via the Long.MIN_VALUE literal). An earlier
    formulation ran 64 nested ``F.aggregate`` lambdas over the word array
    per row — one enormous expression that took ~30 s just to evaluate on
    500 docs; the explode + flat-agg plan is a single shuffle of (id, hash)
    rows and codegens to tight per-bit adds."""
    sums = rows.groupBy("id").agg(
        *[
            F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(
            F.col(f"b{j}") > 0,
            F.lit(1 << j if j < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return sums.select("id", fp.alias("simhash"))
