"""The kg_full workload: corpus, pass, output checks and the traced layers.

A pass is one ``Pipeline(spark, out).run(files)`` into an empty directory; it
ends when the five tables and the lineage are committed (``run`` returns
after the batched lineage flush).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

import raptor_spark.catalog as catalog_mod
import raptor_spark.cc as cc_mod
import raptor_spark.pipeline as pipeline_mod
from raptor_spark.extract import PRED_ERROR
from raptor_spark.oracle import oracle_triples, triple_keys
from raptor_spark.pipeline import Pipeline
from raptor_spark.synth import generate_corpus_df

from ops import digest
from spans import Tracer

# Input properties (README.md documents why).
N_FILES = 1000
PAD_PER_MILLE = 50  # ~5% of files, chosen by content hash, get padded
PAD_KB = (100, 400)  # padded files grow by this many KiB of comment lines
EDIT_PER_MILLE = 20  # ~2% of files edited for the incremental pass
_PAD_WORDS = "value result cache parser token request buffer state queue json hash stream"


def _comment(lang: Column) -> Column:
    return F.when(lang == "python", F.lit("#")).otherwise(F.lit("//"))


def corpus(spark: SparkSession, seed: int, partitions: int) -> DataFrame:
    """``generate_corpus_df`` rows with heavy-tailed file sizes: files whose
    content hash falls in a PAD_PER_MILLE share get PAD_KB KiB of comment
    lines appended. Deterministic in ``seed``."""
    files = generate_corpus_df(spark, N_FILES, seed=seed, partitions=partitions)
    h = F.xxhash64(F.col("content"), F.lit(seed))
    line = F.concat(_comment(F.col("lang")), F.lit(" pad " + _PAD_WORDS + "\n"))
    kib = F.lit(PAD_KB[0]) + F.pmod(F.xxhash64(h), F.lit(PAD_KB[1] - PAD_KB[0] + 1))
    reps = (kib * 1024 / F.length(line)).cast("int")
    padded = F.concat(F.col("content"), F.lit("\n"), F.repeat(line, reps))
    return files.withColumn(
        "content",
        F.when(F.pmod(h, F.lit(1000)) < PAD_PER_MILLE, padded).otherwise(F.col("content")),
    )


def edited(files: DataFrame, seed: int) -> DataFrame:
    """The same corpus with an EDIT_PER_MILLE share of files (by path hash)
    changed: one comment line appended, so their sha256 changes."""
    h = F.xxhash64(F.col("repo"), F.col("path"), F.lit(seed + 1))
    note = F.concat(F.lit("\n"), _comment(F.col("lang")), F.lit(" edited "), h.cast("string"), F.lit("\n"))
    return files.withColumn(
        "content",
        F.when(F.pmod(h, F.lit(1000)) < EDIT_PER_MILLE, F.concat(F.col("content"), note))
        .otherwise(F.col("content")),
    )


def run_pass(spark: SparkSession, files: DataFrame, out_dir: str) -> float:
    t0 = time.perf_counter()
    Pipeline(spark, out_dir).run(files)
    return time.perf_counter() - t0


# ---------------------------------------------------------------- checks ----

def _table(out_dir: str, table: str):
    """The committed snapshot of a table, read with pyarrow (hive-style
    partition directories become columns)."""
    root = os.path.join(out_dir, table)
    with open(os.path.join(root, "manifest.json")) as f:
        data_dir = json.load(f).get("data_dir", "data")
    return ds.dataset(os.path.join(root, data_dir), format="parquet",
                      partitioning="hive").to_table()


def graph_digest(out_dir: str) -> dict[str, tuple[int, str]]:
    """Order-insensitive digests of the committed nodes and edges tables."""
    out = {}
    for name in ("nodes", "edges"):
        t = _table(out_dir, name)
        cols = t.column_names
        data = t.to_pydict()
        out[name] = digest(cols, list(zip(*(data[c] for c in cols))))
    return out


def oracle_keys(files: DataFrame) -> set[tuple[str, str, str]]:
    rows = [r.asDict() for r in files.select("repo", "path", "lang", "content").collect()]
    return triple_keys(oracle_triples(rows))


def check_extracted(out_dir: str, golden: set) -> list[str]:
    """Problems with the committed ``extracted`` table, or []."""
    t = _table(out_dir, "extracted").select(["subj", "pred", "obj"]).to_pydict()
    keys = list(zip(t["subj"], t["pred"], t["obj"]))
    problems = []
    n_err = sum(1 for k in keys if k[1] == PRED_ERROR)
    if n_err:
        problems.append(f"{n_err} extract-error rows")
    got = set(keys)
    if got != golden:
        problems.append(
            f"triple keys differ from the oracle: {len(got - golden)} extra, "
            f"{len(golden - got)} missing"
        )
    return problems


# ----------------------------------------------------------- traced run ----

class Instrument:
    """Wraps the public functions of each pipeline layer in spans for the
    traced run, forcing lazily built outputs inside the span (persist +
    count) so the span covers its layer's compute rather than the write that
    would otherwise trigger it. ``restore`` undoes every patch."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._patches: list[tuple[object, str, object]] = []
        self._forced: list[DataFrame] = []

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def release(self) -> None:
        """Unpersist what the forced outputs cached (after each pass)."""
        for df in self._forced:
            df.unpersist()
        self._forced.clear()

    def _force(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist()
        self._forced.append(df)
        return df, df.count()

    def _layer(self, name: str, counters=None):
        """Wrapper factory for a function returning a lazy DataFrame."""
        tr = self.tracer

        def wrap(orig):
            def traced(*args, **kwargs):
                with tr.span(name) as s:
                    df, n = self._force(orig(*args, **kwargs))
                    s.counters["rows"] = float(n)
                    if counters is not None:
                        with tr.span("bench.probe"):
                            s.counters.update(
                                (k, float(v)) for k, v in counters(df, n, args).items()
                            )
                return df
            return traced

        return wrap

    def install(self) -> None:
        tr = self.tracer
        p = pipeline_mod

        def extract_counts(df, n, args):
            files = args[0]
            return {
                "files": files.count(),
                "triples": n,
                "quarantined": df.filter(F.col("pred") == PRED_ERROR).count(),
            }

        def feature_counts(df, n, args):
            return {"names": n, "head_names": df.filter(F.col("is_head")).count()}

        self._patch(p, "input_rollup", self._layer("lineage.input_rollup"))
        self._patch(p, "extract_triples", self._layer("extract.write", extract_counts))
        self._patch(p, "name_features", self._layer("link.name_features", feature_counts))
        self._patch(p, "link_edges", self._layer(
            "link.link_edges", lambda df, n, a: {"link_edges": n}))
        self._patch(p, "canonical_mapping", self._layer("link.canonical_mapping"))
        self._patch(p, "apply_linking", self._layer("link.apply_linking"))
        self._patch(p, "build_nodes", self._layer(
            "materialize.build_nodes", lambda df, n, a: {"nodes": n}))
        self._patch(p, "build_edges", self._layer(
            "materialize.build_edges", lambda df, n, a: {"edges": n}))

        def plain(name):
            def wrap(orig):
                def traced(*args, **kwargs):
                    with tr.span(name):
                        return orig(*args, **kwargs)
                return traced
            return wrap

        self._patch(p, "_corpus_fingerprint", plain("lineage.fingerprint"))
        self._patch(p.Pipeline, "_flush_lineage", plain("lineage.flush"))

        def incremental(orig):
            def traced(pipe, files, prev_output):
                with tr.span("pipeline.incremental_triples"):
                    df, n = self._force(orig(pipe, files, prev_output))
                    tr.count("rows", n)
                    tr.count("files_extracted", pipe.incremental_stats["files_extracted"])
                return df
            return traced

        self._patch(p.Pipeline, "incremental_triples", incremental)

        def components(orig):
            def traced(edges, *args, **kwargs):
                with tr.span("cc.connected_components") as s:
                    out = orig(edges, *args, **kwargs)
                    out, n = self._force(out)
                    with tr.span("bench.probe"):
                        sizes = out.groupBy("component").count()
                        largest = sizes.agg(F.max("count")).first()[0] or 0
                        pair = [(F.col(x).alias("src"), F.col(y).alias("dst"))
                                for x, y in (("a", "b"), ("b", "a"))]
                        sym = edges.select(
                            F.explode(F.array(*[F.struct(*p) for p in pair])).alias("e")
                        ).distinct().count()
                    s.counters.update(
                        names=float(n), components=float(sizes.count()),
                        largest_component=float(largest), sym_edges=float(sym),
                    )
                    s.counters.setdefault("driver_path", 0.0)
                return out
            return traced

        self._patch(p, "connected_components", components)

        def union_find(orig):
            def traced(sym):
                # counted on the enclosing cc.connected_components span
                tr.count("driver_path", 1.0)
                with tr.span("cc.driver_union_find"):
                    return orig(sym)
            return traced

        self._patch(cc_mod, "_driver_union_find", union_find)

        def cat_write(orig):
            def traced(cat, table, df, *args, **kwargs):
                with tr.span(f"catalog.write.{table}") as s:
                    manifest = orig(cat, table, df, *args, **kwargs)
                    n_files, n_bytes = _data_files(cat, table)
                    s.counters.update(files_written=float(n_files),
                                      bytes_written_mb=n_bytes / 2**20)
                return manifest
            return traced

        def cat_read(orig):
            def traced(cat, table, *args, **kwargs):
                with tr.span(f"catalog.read.{table}"):
                    return orig(cat, table, *args, **kwargs)
            return traced

        def cat_append(orig):
            def traced(cat, table, df, *args, **kwargs):
                with tr.span(f"catalog.append.{table}"):
                    return orig(cat, table, df, *args, **kwargs)
            return traced

        self._patch(catalog_mod.Catalog, "write", cat_write)
        self._patch(catalog_mod.Catalog, "read", cat_read)
        self._patch(catalog_mod.Catalog, "append", cat_append)


def _data_files(cat, table: str) -> tuple[int, int]:
    files = cat.data_files(table)
    return len(files), sum(os.path.getsize(f) for f in files)
