"""Per-layer metrics of a traced run: span self times, span counters and the
event-log counters of the jobs each span started, named
``<layer>.<function>.<counter>``.

``per_layer`` returns every value (the ledger); BENCHMARK.json declares the
subset an optimisation is most likely to move, and ``run.py`` prints that
subset, with 0 for a layer the workload does not run.
"""

from __future__ import annotations

from collections import defaultdict

import eventlog
from ops import QUERIES
from spans import Span, account_pass, self_times

OPS_MODULES = tuple(dict.fromkeys(QUERIES.values()))


def span_metrics(spans: list[Span], tasks: dict[str, list[dict]], prefix: str = "") -> dict:
    """Metrics for every span name in ``spans`` (one pass): summed self
    time, summed span counters, and the event-log counters over the tasks
    of all spans with that name."""
    st = self_times(spans)
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    out: dict[str, float] = {}
    for name, group in by_name.items():
        key = prefix + name
        out[f"{key}.self_s"] = sum(st[s.id] for s in group)
        rows = [r for s in group for r in tasks.get(str(s.id), [])]
        for c, v in eventlog.summarize(rows).items():
            out[f"{key}.{c}"] = v
        counters: dict[str, float] = defaultdict(float)
        for s in group:
            for c, v in s.counters.items():
                counters[c] += v
        for c, v in counters.items():
            out[f"{key}.{c}"] = v
    return out


def module_metrics(spans: list[Span], tasks: dict[str, list[dict]]) -> dict:
    """ops.<module>.<counter> over the query spans of each operators module."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for mod in OPS_MODULES:
        group = [s for s in spans if QUERIES.get(s.name.removeprefix("ops.")) == mod]
        rows = [r for s in group for r in tasks.get(str(s.id), [])]
        out[f"ops.{mod}.self_s"] = sum(st[s.id] for s in group)
        out.update((f"ops.{mod}.{c}", v) for c, v in eventlog.summarize(rows).items())
    return out


def per_layer(tracer, log_dir: str, ref_wall: float | None) -> dict[str, float]:
    """The ledger of a traced run. ``ref_wall`` is the untraced wall of the
    pass the first traced pass repeats; the difference is the tracing
    overhead."""
    tasks = eventlog.task_metrics_by_label(
        eventlog.read_events(eventlog.event_files(log_dir))
    )
    out: dict[str, float] = {}
    roots = [s for s in tracer.spans if s.name in ("kg.pass", "ops.pass")]
    for root in roots:
        mine = [s for s in tracer.spans if s.pass_id == root.pass_id]
        if root.pass_id == "incremental":
            m = span_metrics(mine, tasks, prefix="incremental.")
            # the pipeline layer runs only in the incremental pass
            m.update({k[len("incremental."):]: v for k, v in m.items()
                      if k.startswith("incremental.pipeline.")})
            acc = account_pass(root, mine)
            m.update({f"kg.incremental_pass.{k}": v for k, v in acc.items()})
        else:
            m = span_metrics(mine, tasks)
            acc = account_pass(root, mine)
            m.update({f"{root.name}.{k}": v for k, v in acc.items()})
            if ref_wall is not None:
                out["trace_overhead_s"] = root.duration - ref_wall
            if root.name == "ops.pass":
                m.update(module_metrics(mine, tasks))
        out.update(m)
    return out
