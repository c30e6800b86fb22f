"""Stage driver with checkpoint-restart.

The reference resumes work from a Redis-held per-request step machine
({step: analysis → summary → save → complete},
svc/document_orchestrator_service/kafka_handler.py:186-204, 276-431). Here the
same resumability comes from stage-boundary table commits: each stage writes
its output table + lineage rows, and ``run(..., resume=True)`` skips any stage
whose output manifest is already committed AND whose recorded input roll-up
still matches the current input (so a changed corpus invalidates downstream
checkpoints instead of silently reusing them).

Stages:
  extracted  — triples (extract.extract_triples)
  components — (name, component) from LSH link + connected components
  linked     — triples + canonical columns
  nodes / edges — final graph, partitioned (lang, repo_bucket)

Run:  python -m raptor_spark.pipeline --input <files.parquet> --output <dir>
      [--resume] [--incremental-from <prev_dir>] [--master local[8]]
"""

from __future__ import annotations

import argparse
import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raptor_spark.catalog import Catalog
from raptor_spark.cc import connected_components
from raptor_spark.extract import extract_triples
from raptor_spark.lineage import (
    StageTimer,
    input_rollup,
    new_run_id,
    stage_lineage,
    triple_rollup,
)
from raptor_spark.link import (
    apply_linking,
    canonical_mapping,
    link_edges,
    name_features,
)
from raptor_spark.materialize import build_edges, build_nodes
from raptor_spark.schemas import FILES_SCHEMA

STAGES = ("extracted", "components", "linked", "nodes", "edges")


def _corpus_fingerprint(rollup: DataFrame) -> str:
    """Global order-insensitive fingerprint of the input corpus (sha256 of
    sorted per-bucket roll-ups) — the cross-stage validity key."""
    rows = rollup.select("input_sha256_rollup").collect()
    import hashlib

    h = hashlib.sha256()
    for r in sorted(x.input_sha256_rollup for x in rows):
        h.update(r.encode())
    return h.hexdigest()


class Pipeline:
    def __init__(self, spark: SparkSession, output_dir: str):
        self.spark = spark
        self.catalog = Catalog(spark, output_dir)
        self.run_id = new_run_id()
        # concurrent stage commits write their DATA to distinct dirs (safe),
        # but all append to the ONE lineage table — and two simultaneous
        # Spark append jobs on the same path clash on the shared _temporary
        # staging dir, so lineage appends are serialized
        self._lineage_lock = threading.Lock()
        self._lineage_parts: list[DataFrame] = []
        # one per-bucket triple-count rollup shared by every stage whose
        # lineage records the triple table (linked/nodes/edges carry the
        # same per-bucket counts) — computed lazily once, under the lock
        # because the nodes/edges commits run from two driver threads
        self._tc: DataFrame | None = None

    def _triple_counts(self, triples: DataFrame) -> DataFrame:
        with self._lineage_lock:
            if self._tc is None:
                self._tc = triple_rollup(triples).persist()
            return self._tc

    def _stage_valid(self, stage: str, fingerprint: str, resume: bool) -> bool:
        if not resume or not self.catalog.exists(stage):
            return False
        return self.catalog.manifest(stage).get("input_fingerprint") == fingerprint

    def _commit(
        self,
        stage: str,
        df: DataFrame,
        files: DataFrame,
        fingerprint: str,
        timer: StageTimer,
        partition_by: list[str] | None = None,
        lineage_triples: DataFrame | None = None,
        cluster_for_write: bool = False,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        if cluster_for_write and partition_by:
            # final graph tables: hash-cluster rows by the partition columns
            # so each output directory is written by one task instead of
            # every task writing every directory (64 tasks × 64 dirs of
            # ~20-row files measured 18s of commit churn on the edges stage).
            # NOT done for the big pred-partitioned triple tables — there the
            # extra full shuffle costs more than the committer saves.
            df = df.repartition(*[F.col(c) for c in partition_by])
        if sort_by:
            # within-file sort order (≙ Iceberg sort order / Qdrant payload
            # index, SURVEY.md §2.1): clusters equal keys so parquet
            # min/max stats prune row groups on point lookups
            df = df.sortWithinPartitions(*sort_by)
        self.catalog.write(
            stage, df, partition_by=partition_by, meta={"input_fingerprint": fingerprint}
        )
        out = self.catalog.read(stage)
        tc = (
            self._triple_counts(lineage_triples)
            if lineage_triples is not None
            else None
        )
        # lineage rows are STASHED here and flushed in ONE append at the end
        # of run(): five per-stage appends were five tiny write jobs + five
        # parquet commits on the same table (serialized under the lock),
        # ~2.4 s of pure fixed overhead at bench size. The batched flush
        # writes the identical rows (per-stage wall_ms captured now, in the
        # struct) in a single job.
        with self._lineage_lock:
            self._lineage_parts.append(
                stage_lineage(
                    self.run_id, stage, files, None, timer.ms(),
                    rollup=self._rollup, triple_counts=tc,
                )
            )
        return out

    def _flush_lineage(self) -> None:
        with self._lineage_lock:
            parts, self._lineage_parts = self._lineage_parts, []
        if not parts:
            return
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        self.catalog.append("lineage", out)

    def incremental_triples(self, files: DataFrame, prev_output: str) -> DataFrame:
        """Stage-1 input for an incremental run: reuse the previous run's
        triples for every (repo, path, sha256) still present in the current
        corpus, extract only changed/new files, drop triples of deleted
        files — the reference's checksum no-change short-circuit
        (asset_management/client.py:157-206, database.py:583-592) at the
        pipeline level. The change key is (repo, path, lang, sha256), not
        content hash alone: identical content at a NEW path must still be
        extracted (its triples carry the path), and triples also carry the
        file's lang metadata — a lang change with unchanged content must
        re-extract too, or the incremental run diverges from a from-scratch
        run on the stale-lang rows.

        Downstream stages (linking, CC, materialize) always rerun — entity
        linking is global, so any content change can re-cluster names.
        """
        from raptor_spark.functions import sha256_col

        prev_triples = Catalog(self.spark, prev_output).read("extracted")
        key = ["repo", "path", "lang", "sha256"]
        cur_keys = files.select(
            "repo", "path", "lang", sha256_col("content").alias("sha256")
        )
        kept = prev_triples.join(cur_keys, on=key, how="left_semi")
        changed = (
            files.withColumn("sha256", sha256_col("content"))
            .join(prev_triples.select(*key).distinct(), on=key, how="left_anti")
            .drop("sha256")
        )
        self.incremental_stats = {
            "files_total": files.count(),
            "files_extracted": changed.count(),
        }
        from raptor_spark.schemas import TRIPLES_SCHEMA

        # normalize to schema column order: the semi-join reorders columns,
        # and the committed table layout must not depend on the code path
        cols = TRIPLES_SCHEMA.fieldNames()
        return kept.select(*cols).unionByName(extract_triples(changed).select(*cols))

    def run(
        self,
        files: DataFrame,
        resume: bool = False,
        incremental_from: str | None = None,
    ) -> dict[str, DataFrame]:
        try:
            return self._run(files, resume, incremental_from)
        except BaseException:
            # a failed stage must not lose the COMPLETED stages' audit rows —
            # they're stashed for the end-of-run batched flush (see _commit)
            self._flush_lineage()
            raise

    def _run(
        self,
        files: DataFrame,
        resume: bool,
        incremental_from: str | None,
    ) -> dict[str, DataFrame]:
        files = files.persist()
        # one content pass feeds the fingerprint AND every stage's lineage
        self._rollup = input_rollup(files).persist()
        fingerprint = _corpus_fingerprint(self._rollup)

        # -- stage 1: extract ------------------------------------------------
        if self._stage_valid("extracted", fingerprint, resume):
            triples = self.catalog.read("extracted")
        else:
            t = StageTimer()
            stage1 = (
                self.incremental_triples(files, incremental_from)
                if incremental_from
                else extract_triples(files)
            )
            triples = self._commit(
                "extracted",
                stage1,
                files,
                fingerprint,
                t,
                partition_by=["pred"],
                lineage_triples=None,
            )
        triples = triples.persist()

        # one featurized name-dimension table shared by linking (stage 2a)
        # and canonical mapping (stage 2b) — lazy, so resume-skipped stages
        # never compute it
        feats = name_features(triples).persist()

        # -- stage 2a: components ---------------------------------------------
        if self._stage_valid("components", fingerprint, resume):
            comps = self.catalog.read("components")
        else:
            t = StageTimer()
            comps = self._commit(
                "components",
                connected_components(link_edges(triples, feats=feats)),
                files,
                fingerprint,
                t,
            )

        # -- stage 2b: linked -------------------------------------------------
        if self._stage_valid("linked", fingerprint, resume):
            linked = self.catalog.read("linked")
        else:
            t = StageTimer()
            mapping = canonical_mapping(triples, comps, feats=feats)
            linked = self._commit(
                "linked",
                apply_linking(triples, mapping),
                files,
                fingerprint,
                t,
                partition_by=["pred"],
                lineage_triples=triples,
            )
        linked = linked.persist()
        # both name-table consumers have committed (or were resume-skipped)
        feats.unpersist()

        # -- stage 3: nodes / edges -------------------------------------------
        # Both derive from the committed `linked` table and write disjoint
        # dirs, so when both are pending their build+write jobs run from two
        # driver threads — the commits are dominated by many small serial
        # steps (partitioned write of ~#langs × N_REPO_BUCKETS dirs, manifest,
        # read-back, lineage) that overlap cleanly on an idle scheduler.
        # Lineage appends stay serialized (see _lineage_lock).
        specs = {
            "nodes": dict(
                build=lambda: build_nodes(linked),
                sort_by=["kind", "canonical"],
            ),
            "edges": dict(
                build=lambda: build_edges(linked),
                sort_by=["pred", "src"],
            ),
        }
        results: dict[str, DataFrame] = {}
        pending = []
        for stage, spec in specs.items():
            if self._stage_valid(stage, fingerprint, resume):
                results[stage] = self.catalog.read(stage)
            else:
                pending.append((stage, spec))

        errors: list[BaseException] = []

        def _run(stage: str, spec: dict) -> None:
            try:
                t = StageTimer()
                results[stage] = self._commit(
                    stage,
                    spec["build"](),
                    files,
                    fingerprint,
                    t,
                    partition_by=["lang", "repo_bucket"],
                    lineage_triples=linked,
                    cluster_for_write=True,
                    sort_by=spec["sort_by"],
                )
            except BaseException as e:  # re-raised on the caller thread
                errors.append(e)

        if len(pending) > 1:
            threads = [
                threading.Thread(target=_run, args=(stage, spec))
                for stage, spec in pending
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
        else:
            for stage, spec in pending:
                _run(stage, spec)
        if errors:
            raise errors[0]
        nodes, edges = results["nodes"], results["edges"]
        self._flush_lineage()  # before the rollup unpersist: lineage reads it
        files.unpersist()
        self._rollup.unpersist()
        if self._tc is not None:
            self._tc.unpersist()
            self._tc = None
        return {
            "extracted": triples,
            "components": comps,
            "linked": linked,
            "nodes": nodes,
            "edges": edges,
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of the files table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--incremental-from",
        default=None,
        help="previous run's output dir: reuse its triples for unchanged "
        "(repo, path, sha256) files, extract only changed/new ones",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--synth", type=int, default=0, help="generate N synthetic files instead of reading --input")
    ap.add_argument(
        "--synth-seq",
        action="store_true",
        help="use the sequential driver-side generator (golden-oracle corpus; "
        "byte-pinned by tests). Default is the distributed per-index-seeded "
        "generator, which synthesizes rows on executors and scales to corpus "
        "sizes the driver could never materialize",
    )
    args = ap.parse_args()

    from raptor_spark.session import build_session

    spark = build_session("raptor_spark.pipeline", master=args.master)
    if args.synth and args.synth_seq:
        from raptor_spark.synth import generate_corpus

        files = spark.createDataFrame(generate_corpus(args.synth), schema=FILES_SCHEMA)
        files = files.repartition(max(32, args.synth // 512))
    elif args.synth:
        from raptor_spark.synth import generate_corpus_df

        files = generate_corpus_df(
            spark, args.synth, partitions=max(32, args.synth // 512)
        )
    else:
        files = spark.read.parquet(args.input)
    out = Pipeline(spark, args.output).run(
        files, resume=args.resume, incremental_from=args.incremental_from
    )
    counts = {k: v.count() for k, v in out.items()}
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()
