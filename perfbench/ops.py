"""The ops_headline workload: generated tables, the query list, a pass, and
the output check against the DuckDB oracles.

The tables have the shape and value domains of the TPC-H-style star schema
plus the ``events``, ``documents`` and ``embeddings`` tables the operator
queries read (see FIXTURES.md §3), generated from the seed so the benchmark
reads nothing outside its checkout.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import math
import os
import re
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Headline queries: one per operators module, with both LSH dedup queries
# for the dedup module. query -> the operators module it exercises.
QUERIES = {
    "interval_argmax": "interval_join",
    "sessionize": "relational",
    "minhash_near_dups": "dedup",
    "simhash_near_dups": "dedup",
    "semdedup_prune": "similarity",
    "doc_quality": "text",
    "media_features": "multimodal",
    "salted_enrich": "skew",
    "bloom_decontaminate": "curation",
    "bm25_search": "ranking",
    "graph_degrees": "graph",
    "column_profile": "profile",
    "zorder_skipping": "layout",
    "heavy_hitters_cms": "sketch",
}

# Table sizes (rows), about sf0.01 of the TPC-H-style layout. No headline
# query reads lineitem, part or supplier; they are generated so every table
# the oracles declare exists.
SIZES = {
    "supplier": 100,
    "customer": 1500,
    "part": 2000,
    "orders": 15000,
    "lineitem_per_order": 2,
    "events": 10000,
    "event_users": 150,
    "documents": 600,
    "embeddings": 300,
}
MINHASH_THRESHOLD = 0.5  # q_minhash_near_dups: word 2-shingles, jaccard >= 0.5
SIMHASH_MAX_DISTANCE = 3  # q_simhash_near_dups: hamming distance <= 3 of 64 bits
HEAVY_HITTERS = 15  # q_heavy_hitters_cms: top-15 terms

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "hot", "cold", "blue", "red", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "screw", "pipe"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_VOCAB = (
    "a the key value row column table part line order customer data query "
    "scan join sort merge hash filter group agg window stream batch vector "
    "spark fast slow big small"
).split()
_DAY0 = dt.datetime(1995, 1, 1)


def _dates(rng, n: int, days: int) -> np.ndarray:
    d = rng.integers(0, days, n)
    return (np.datetime64(_DAY0, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def generate(data_dir: str, seed: int) -> None:
    """Write the ten tables as ``<data_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)

    def j(table: str) -> str:
        return os.path.join(data_dir, f"{table}.parquet")

    _write(j("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    _write(j("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    ns = SIZES["supplier"]
    _write(j("supplier"), {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    nc = SIZES["customer"]
    _write(j("customer"), {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    npart = SIZES["part"]
    _write(j("part"), {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    no = SIZES["orders"]
    _write(j("orders"), {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _dates(rng, no, 2400),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = no * SIZES["lineitem_per_order"]
    _write(j("lineitem"), {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _dates(rng, nl, 2500),
    })
    ne = SIZES["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(j("events"), {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, SIZES["event_users"], ne).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = SIZES["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            k = int(rng.integers(0, len(words)))
            words[k] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), n)))
    _write(j("documents"), {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = SIZES["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(j("embeddings"), {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


def run_pass(spark, queries: dict, data_dir: str, out_dir: str, tracer=None) -> float:
    """Build each query and write its result to ``<out_dir>/<query>``.
    Writing (rather than counting) makes every output column be computed."""
    t0 = time.perf_counter()
    for name in QUERIES:
        with tracer.span(f"ops.{name}") if tracer is not None else nullcontext():
            queries[name](spark, data_dir).write.parquet(os.path.join(out_dir, name))
    return time.perf_counter() - t0


# ---------------------------------------------------------------- checks ----

def _norm(v) -> str:
    """Canonical text of one value. Floats keep every digit (repr), so a
    one-ulp difference between engines shows."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) over rows with columns sorted by name and rows
    sorted, so neither column nor row order matters."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x02")
    return len(lines), h.hexdigest()


def written_digest(path: str) -> tuple[int, str]:
    t = pq.read_table(path)
    cols = t.column_names
    data = t.to_pydict()
    return digest(cols, list(zip(*(data[c] for c in cols))) if cols else [])


def oracle_digests(data_dir: str, oracles: dict) -> dict[str, tuple[int, str]]:
    """DuckDB oracle digests for the queries that have an oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )
        out = {}
        for name in QUERIES:
            if name in oracles:
                res = con.execute(oracles[name])
                out[name] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def check_pass(out_dir: str, expected: dict[str, tuple[int, str]]) -> tuple[dict, list[str]]:
    """Digest every written result; compare with ``expected`` where a value
    is known (oracle, or an earlier pass). Returns (digests, problems)."""
    got = {name: written_digest(os.path.join(out_dir, name)) for name in QUERIES}
    problems = [
        f"{name}: {got[name][0]} rows {got[name][1][:12]} != expected "
        f"{exp[0]} rows {exp[1][:12]}"
        for name, exp in expected.items()
        if got[name] != exp
    ]
    return got, problems


def _read(path: str) -> dict:
    return pq.read_table(path).to_pydict()


def _words(text: str) -> list[str]:
    """Spark's ``split(lower(trim(text)), '\\s+')``: ``trim`` strips spaces only."""
    return re.split(r"\s+", text.strip(" ").lower())


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


@functools.lru_cache(maxsize=4096)  # words repeat across documents
def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int. With seed 42 over UTF-8
    bytes it is Spark's ``xxhash64`` of a string (Spark returns it signed)."""
    n, i = len(data), 0

    def lane(at: int, size: int = 8) -> int:
        return int.from_bytes(data[at:at + size], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[k], lane(i + 8 * k)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, lane(i)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (lane(i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def simhash64(text: str) -> int:
    """``operators.dedup.simhash`` of one text, unsigned: bit i is set when
    more of the distinct words' xxhash64 values have bit i set than not."""
    sums = [0] * 64
    for w in set(_words(text)):
        h = xxhash64(w.encode())
        for i in range(64):
            sums[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(64) if sums[i] > 0)


def simhash_pairs(text: dict[int, str], max_distance: int) -> set[tuple[int, int, int]]:
    """Every (a, b, hamming) with a < b and hamming <= max_distance."""
    fp = sorted((i, simhash64(t)) for i, t in text.items())
    return {
        (a, b, d)
        for k, (a, fa) in enumerate(fp)
        for b, fb in fp[k + 1:]
        if (d := (fa ^ fb).bit_count()) <= max_distance
    }


def rows_only_problems(out_dir: str, data_dir: str) -> list[str]:
    """Checks for the queries without a SQL oracle (their hashes are
    engine-specific). MinHash is approximate: every pair must really be a
    near-duplicate with the reported Jaccard, and every planted
    near-duplicate with Jaccard >= 0.8 must be found. SimHash is recomputed
    here and its pairs must equal the exact set, which must hold at least
    one planted pair. Count-min estimates must never undercount, and the
    top terms must be the exact top terms."""
    docs = _read(os.path.join(data_dir, "documents.parquet"))
    text = dict(zip(docs["doc_id"], docs["text"]))

    def shingles(t: str) -> frozenset:
        w = [x for x in _words(t) if x]
        return frozenset(" ".join(w[i:i + 2]) for i in range(len(w) - 1)) if len(w) >= 2 \
            else frozenset([" ".join(w)])

    def jac(a: frozenset, b: frozenset) -> float:
        return len(a & b) / len(a | b)

    sh_of = {i: shingles(t) for i, t in text.items()}
    problems = []
    mh = _read(os.path.join(out_dir, "minhash_near_dups"))
    found = set(zip(mh["a"], mh["b"]))
    wrong = [(a, b, j) for a, b, j in zip(mh["a"], mh["b"], mh["jaccard"])
             if not (a < b and j >= MINHASH_THRESHOLD and jac(sh_of[a], sh_of[b]) == j)]
    if wrong:
        problems.append(f"minhash_near_dups: {len(wrong)} pairs are not near-duplicates "
                        f"with the reported jaccard, e.g. {wrong[0]}")
    planted = {d for d, t in text.items() if t.endswith(" dup")}
    for d in sorted(planted):
        best = max((i for i in text if i < d), key=lambda i: jac(sh_of[i], sh_of[d]),
                   default=None)
        if best is not None and jac(sh_of[best], sh_of[d]) >= 0.8 and (best, d) not in found:
            problems.append(f"minhash_near_dups: planted pair ({best}, {d}) missing")
            break
    sh = _read(os.path.join(out_dir, "simhash_near_dups"))
    got = sorted(zip(sh["a"], sh["b"], sh["hamming"]))
    want = simhash_pairs(text, SIMHASH_MAX_DISTANCE)
    if got != sorted(want):
        extra, missing = set(got) - want, want - set(got)
        problems.append(f"simhash_near_dups: {len(got)} rows != exact {len(want)} "
                        f"({len(extra)} extra, {len(missing)} missing)")
    if not any(b in planted for _a, b, _d in want):
        problems.append("simhash_near_dups: no planted near-duplicate is within distance "
                        f"{SIMHASH_MAX_DISTANCE}, so the check proves nothing")
    counts: dict[str, int] = {}
    for t in text.values():
        for w in _words(t):
            if w:
                counts[w] = counts.get(w, 0) + 1
    top = sorted(counts, key=lambda w: (-counts[w], w))[:HEAVY_HITTERS]
    hh = _read(os.path.join(out_dir, "heavy_hitters_cms"))
    under = [t for t, e in zip(hh["term"], hh["est"]) if e < counts.get(t, 0)]
    if sorted(hh["term"]) != sorted(top) or under:
        problems.append(f"heavy_hitters_cms: terms {sorted(hh['term'])} != exact top "
                        f"{sorted(top)}, or undercounts {under[:3]}")
    return problems
