"""Benchmark of the KG-construction pipeline and the headline operator queries.

    python3 perfbench/run.py --workload kg_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` it times passes with no
instrumentation and prints the end-to-end metrics; with ``--trace 1`` it runs
the traced passes and prints the per-layer metrics. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; lines
before it are a readable summary, the settings and the full ledger. Every
file it writes lives under ``.perfbench_work/`` in the checkout and is
removed on exit. README.md next to this file documents workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 2  # input generation is repeated and its median reported
# Below the program's 8g default, with the heap fixed at that size from the
# start (-Xms): under 8g, or 2g with a growing heap, the JVM's resident size
# depended on when G1 chose to grow the heap and varied by up to a third between
# runs of one workload, so peak memory was noise. With the heap fixed, the JVM's
# share of peak_rss_mb is the whole 2g heap whatever the program uses of it: the
# metric sees native and Python memory, and a heap need above 2g fails the pass.
DRIVER_MEMORY = "2g"
# Switches that would serve query results from an earlier run's cache.
RESULT_CACHE_ENV = ("RAPTOR_QUERY_CACHE_DIR", "RAPTOR_SEMANTIC_CACHE_DIR")


def _spec() -> dict:
    """BENCHMARK.json: the workload names and every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _program_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "raptor_spark")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / 2**20


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    """One run: a Spark session with pinned settings, one workload's setup,
    its passes and checks. ``close`` stops the session and its JVM."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.cpus = max(1, min(len(os.sched_getaffinity(0)), 8))
        self.attempted = 0
        self.problems: list[str] = []
        self.spark = None
        self._gateway = None
        self.settings = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "master": f"local[{self.cpus}]",
            "shuffle_partitions": 2 * self.cpus,
            "input_partitions": 4 * self.cpus,
        }

    # ---------------------------------------------------------- session --
    def start(self) -> float:
        for d in ("tmp", "local", "warehouse", "eventlog", "out"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        for var in RESULT_CACHE_ENV:
            os.environ.pop(var, None)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        extra = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from pyspark import SparkContext

        from raptor_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            "perfbench", master=self.settings["master"],
            shuffle_partitions=self.settings["shuffle_partitions"], extra=extra,
        )
        elapsed = time.perf_counter() - t0
        self._gateway = SparkContext._gateway
        self.spark.sparkContext.setLogLevel("ERROR")
        self.settings["driver_memory"] = self.spark.conf.get("spark.driver.memory")
        self.settings["spark_version"] = self.spark.version
        return elapsed

    def warm_workers(self) -> float:
        """Start the Python worker pool: one pandas UDF task per core slot,
        several times over (worker start-up is serialized in Spark 4.1)."""
        import pandas as pd

        def noop(batches):
            for pdf in batches:
                yield pd.DataFrame({"n": [len(pdf)]})

        t0 = time.perf_counter()
        n = 4 * self.cpus
        self.spark.range(0, n, numPartitions=n).mapInPandas(noop, "n long").count()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = self._gateway
        if gw is not None:
            self._gateway = None
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                proc.wait(timeout=60)

    # ----------------------------------------------------------- helpers --
    def fail(self, msg: str) -> None:
        """A failed output check fails the pass it belongs to."""
        self.problems.append(msg)
        print(f"# CHECK FAILED: {msg}", file=sys.stderr)

    def timed(self, fn, *args) -> float | None:
        """Run one pass; a raised exception counts the pass as failed."""
        self.attempted += 1
        try:
            wall = fn(*args)
            log(f"pass {self.attempted} done")
            return wall
        except Exception as e:  # the run goes on; the failure is reported
            self.fail(f"pass raised {type(e).__name__}: {e}")
            return None

    def out_dir(self, name: str) -> str:
        return os.path.join(self.work, "out", name)

    @staticmethod
    def cache(df):
        """Materialize ``df`` in the cache before a pass: ``Pipeline.run``
        unpersists its input when it finishes, and the next pass must not
        regenerate the corpus inside its timed window."""
        df.persist()
        df.count()
        return df

    # ---------------------------------------------------------- kg_full --
    def kg_setup(self):
        import kg

        corpus_s = []
        files = None
        for _ in range(1 if self.trace else SETUP_REPEATS):
            if files is not None:
                files.unpersist()
            t0 = time.perf_counter()
            files = kg.corpus(self.spark, self.seed, self.settings["input_partitions"]).persist()
            n = files.count()
            corpus_s.append(time.perf_counter() - t0)
        self.settings.update(
            files=n, padded_per_mille=kg.PAD_PER_MILLE, pad_kib=list(kg.PAD_KB),
            edited_per_mille=kg.EDIT_PER_MILLE,
        )
        return files, n, statistics.median(corpus_s)

    def kg_timed(self, files, n_files) -> dict:
        """Passes until ``--seconds`` is used up; every check runs after the
        last pass, so neither its time nor its memory is in the figures."""
        import kg

        walls, outs = [], []
        t_start = time.perf_counter()
        while True:
            out = self.out_dir(f"pass{len(outs)}")
            wall = self.timed(kg.run_pass, self.spark, self.cache(files), out)
            if wall is not None:
                walls.append(wall)
                outs.append(out)
            if time.perf_counter() - t_start >= self.seconds:
                break
        rss = self.peak_rss_mb()
        outputs = [dir_mb(o) for o in outs]
        digests = [kg.graph_digest(o) for o in outs]
        if any(d != digests[0] for d in digests[1:]):
            self.fail("nodes/edges digests differ across passes")
        if outs:
            for p in kg.check_extracted(outs[-1], kg.oracle_keys(files)):
                self.fail(p)
        return {"walls": walls, "output_mb": outputs, "items": n_files, "rss": rss}

    def kg_traced(self, files) -> dict:
        """Four passes: untraced full build of the edited corpus (the base
        for the incremental pass; it also warms the JVM), untraced full build
        of the workload corpus (reference), the same build traced, and a
        traced incremental build of the workload corpus from the base."""
        import kg

        base = kg.edited(files, self.seed)
        base_out, ref_out = self.out_dir("base"), self.out_dir("ref")
        tr_out, inc_out = self.out_dir("traced"), self.out_dir("incremental")
        self.timed(kg.run_pass, self.spark, self.cache(base), base_out)
        ref_wall = self.timed(kg.run_pass, self.spark, self.cache(files), ref_out)
        ref = kg.graph_digest(ref_out)

        tracer = Tracer(self.spark.sparkContext)
        inst = kg.Instrument(tracer)

        def traced_pass(pass_id, out, incremental_from=None):
            self.cache(files)
            inst.install()
            try:
                with tracer.pass_span("kg.pass", pass_id):
                    kg.Pipeline(self.spark, out).run(files, incremental_from=incremental_from)
            finally:
                inst.restore()
                inst.release()
            return 0.0

        self.timed(traced_pass, "full", tr_out)
        self.timed(traced_pass, "incremental", inc_out, base_out)
        golden = kg.oracle_keys(files)
        for name, out in (("traced", tr_out), ("incremental", inc_out)):
            if not os.path.isdir(out):
                continue
            if kg.graph_digest(out) != ref:
                self.fail(f"{name} pass nodes/edges differ from the from-scratch build")
            for p in kg.check_extracted(out, golden):
                self.fail(f"{name} pass: {p}")
        return {"tracer": tracer, "ref_wall": ref_wall}

    # ----------------------------------------------------- ops_headline --
    def ops_setup(self):
        import ops

        import __spark_entry__ as entry

        data = os.path.join(self.work, "opsdata")
        gen_s = []
        for _ in range(1 if self.trace else SETUP_REPEATS):
            shutil.rmtree(data, ignore_errors=True)
            t0 = time.perf_counter()
            ops.generate(data, self.seed)
            gen_s.append(time.perf_counter() - t0)
        self.settings.update(queries=list(ops.QUERIES), table_rows=dict(ops.SIZES))
        return data, entry.queries(), statistics.median(gen_s)

    def ops_pass(self, data, queries, name, tracer=None) -> tuple[float, str] | None:
        """One pass (traced when a tracer is given): (wall, output dir)."""
        import ops

        out = self.out_dir(name)
        if tracer is None:
            wall = self.timed(ops.run_pass, self.spark, queries, data, out)
        else:
            def traced():
                with tracer.pass_span("ops.pass", "full"):
                    return ops.run_pass(self.spark, queries, data, out, tracer=tracer)
            wall = self.timed(traced)
        return None if wall is None else (wall, out)

    def ops_check(self, data, outs: list[str]) -> None:
        """Check each pass's results against the DuckDB oracles and the
        rows-only contracts; rows-only results must repeat across passes."""
        import ops

        import __spark_entry__ as entry

        oracle = ops.oracle_digests(data, entry.oracle_sql())
        seen: dict = {}
        for out in outs:
            got, problems = ops.check_pass(out, {**oracle, **seen})
            problems += ops.rows_only_problems(out, data)
            for p in problems:
                self.fail(f"{os.path.basename(out)}: {p}")
            seen = {k: v for k, v in got.items() if k not in oracle}

    def ops_timed(self, data, queries) -> dict:
        import ops

        done = []
        t_start = time.perf_counter()
        while True:
            p = self.ops_pass(data, queries, f"pass{self.attempted}")
            if p is not None:
                done.append(p)
            if time.perf_counter() - t_start >= self.seconds:
                break
        rss = self.peak_rss_mb()
        outs = [o for _, o in done]
        outputs = [dir_mb(o) for o in outs]
        self.ops_check(data, outs)
        return {"walls": [w for w, _ in done], "output_mb": outputs,
                "items": len(ops.QUERIES), "rss": rss}

    # -------------------------------------------------------------- run --
    def run(self) -> dict:
        session_s = self.start()
        workers_s = self.warm_workers()
        if self.workload == "kg_full":
            files, n_files, input_s = self.kg_setup()
        else:
            data, queries, input_s = self.ops_setup()
        setup_s = session_s + workers_s + input_s
        log(f"setup {setup_s:.2f}s")
        self.settings["setup_parts_s"] = {
            "session": session_s, "python_workers": workers_s, "inputs": input_s,
        }
        if self.trace:
            if self.workload == "kg_full":
                traced = self.kg_traced(files)
            else:
                # as kg: a cold pass, an untraced reference, the traced pass
                tracer = Tracer(self.spark.sparkContext)
                done = [self.ops_pass(data, queries, "cold"),
                        self.ops_pass(data, queries, "ref"),
                        self.ops_pass(data, queries, "traced", tracer)]
                self.ops_check(data, [p[1] for p in done if p])
                traced = {"tracer": tracer, "ref_wall": done[1][0] if done[1] else None}
            log_dir = os.path.join(self.work, "eventlog")
            self.close()  # flushes and closes the event log
            import layers

            return layers.per_layer(traced["tracer"], log_dir, traced["ref_wall"])
        if self.workload == "kg_full":
            res = self.kg_timed(files, n_files)
        else:
            res = self.ops_timed(data, queries)
        if not res["walls"]:
            return {}
        wall = statistics.median(res["walls"])
        self.settings["passes"] = len(res["walls"])
        self.settings["pass_walls_s"] = res["walls"]
        return {
            "wall_s": wall,
            "items_per_s": res["items"] / wall,
            "setup_s": setup_s,
            "peak_rss_mb": res["rss"],
            "output_mb": statistics.median(res["output_mb"]),
        }


def main(argv=None) -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print("perfbench: raptor_spark/ and __spark_entry__.py are not in this "
              f"checkout ({ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    attempted = max(1, bench.attempted)
    failed = min(attempted, len(bench.problems)) if bench.problems else 0
    correct = failed == 0 and bool(metrics)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    shown = {k: metrics.get(k, 0.0) for k in units} if metrics else {}
    if args.trace:
        print(json.dumps({"ledger": metrics}, sort_keys=True))
    print(json.dumps({"settings": bench.settings}, sort_keys=True))
    for k, v in shown.items():
        print(f"# {k} {v:.6g} {units[k]}")
    if not args.trace and metrics:
        print(f"# error_rate {failed / attempted:.6g} ratio ({failed}/{attempted} passes)")
        if args.workload == "kg_full":
            print(f"# files_per_s {metrics['items_per_s']:.6g} files/s")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed if correct else max(1, failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
