"""Per-layer metrics of a traced run, from its spans, counts and the
per-op Spark execution statistics.

Times and counts are per op (totals over the traced ops divided by their
number). A layer's share is its inclusive span time over the ops' summed
latency; shares are what the JSON carries for layers that only some
workloads reach, so an unreached layer reads as a share of 0 rather than a
time of 0.
"""

from __future__ import annotations

from collections import defaultdict

from .stagemetrics import EXEC_KEYS
from .tracing import FS_METHODS
from .workloads import OPERATORS, RELATIONAL

#: layer time -> how its spans are selected: (span name, required ancestor)
LAYER_TIMES = {
    "queries.build": ("queries.build", None),
    "catalog.load_table": ("catalog.load_table", None),
    "plan": ("plan", None),
    "caches.release": ("caches.release", None),
    "sources.read_source": ("sources.read_source", None),
    "sources.jdbc_extract": ("sources.count", "jdbc"),
    "schema.normalize": ("schema.normalize", None),
    "schema.evolve": ("schema.evolve", None),
    "copy.trigger": ("copy.trigger", None),
    "copy.extract": ("copy.extract", None),
    "copy.load": ("publish.write_version", "copy.do_copy"),
    "copy.publish": ("publish.switch", "copy.do_copy"),
    "copy.cleanup": ("publish.cleanup", "copy.do_copy"),
    "watermark.probe": ("watermark.probe", None),
    "watermark.state_io": ("watermark.state_io", None),
    "publish.switch": ("publish.switch", None),
    "publish.incremental_write": ("publish.incremental_write", None),
    "publish.cleanup": ("publish.cleanup", None),
    "stream.drain": ("stream.drain", None),
    "stream.batch": ("publish.incremental_write", "stream.drain"),
}
SELF_TIMES = {"copy.self": "copy.do_copy"}

COUNTS = (
    "catalog.load_table.calls",
    "watermark.probes",
    "publish.versions_deleted",
    "publish.files_written",
    "caches.released",
    "stream.batches",
    "sources.rows",
) + tuple(f"fs.{m}.calls" for m in FS_METHODS)
BYTES = ("publish.bytes_written", "publish.bytes_deleted")
QUERIES = RELATIONAL + OPERATORS

PER_LAYER = (
    [("session.start_s", "s"), ("trace.overhead_s", "s"), ("driver.s", "s/op"),
     ("exec.core_busy_ratio", "ratio")]
    + [(k, "s/op" if k.endswith("_s") else "B/op" if k.endswith("_bytes") else "count/op")
       for k in EXEC_KEYS]
    + [(k, "count/op") for k in COUNTS]
    + [(k, "B/op") for k in BYTES]
    + [("catalog.memo_hit_ratio", "ratio"), ("watermark.fresh_ratio", "ratio"),
       ("fs.share", "ratio")]
    + [(f"{k}.share", "ratio") for k in list(LAYER_TIMES) + list(SELF_TIMES)]
    + [(f"query.{q}.share", "ratio") for q in QUERIES]
)


def compute(rec, results, cores: int, session_s: float, overhead_s: float) -> dict:
    ops = max(1, len(results))
    op_time = sum(r.seconds for r in results) or float("nan")
    spans = rec.op_spans()
    by_id = {s.id: s for s in rec.spans}

    def has_ancestor(span, name) -> bool:
        parent = by_id.get(span.parent)
        while parent is not None:
            if parent.name == name:
                return True
            parent = by_id.get(parent.parent)
        return False

    def selected(name, qualifier):
        for s in spans:
            if s.name != name:
                continue
            if qualifier == "jdbc" and not s.tags.get("jdbc"):
                continue
            if qualifier not in (None, "jdbc") and not has_ancestor(s, qualifier):
                continue
            yield s

    out: dict[str, float] = {"session.start_s": session_s, "trace.overhead_s": overhead_s}
    times: dict[str, float] = {}
    for key, (name, qualifier) in LAYER_TIMES.items():
        times[key] = sum(s.end - s.start for s in selected(name, qualifier))
    selfs = rec.self_times()
    for key, name in SELF_TIMES.items():
        times[key] = sum(selfs[s.id] for s in spans if s.name == name)
    times["fs"] = sum(s.end - s.start for s in spans if s.name.startswith("fs."))
    for key, total in times.items():
        out[f"{key}.share"] = total / op_time
        out[f"{key}_s" if "." in key else f"{key}.s"] = total / ops
    batches = sum(1 for _ in selected("publish.incremental_write", "stream.drain"))
    out["stream.batch_s"] = times["stream.batch"] / batches if batches else 0.0
    for q in QUERIES:
        out[f"query.{q}.share"] = sum(r.seconds for r in results if r.kind == q) / op_time

    counts = defaultdict(float, rec.counts)
    counts["stream.batches"] = batches
    for s in spans:
        if s.name.startswith("fs."):
            counts[f"{s.name}.calls"] += 1
    for key in COUNTS + BYTES:
        out[key] = counts[key] / ops
    calls = counts["catalog.load_table.calls"]
    out["catalog.memo_hit_ratio"] = counts["catalog.memo_hits"] / calls if calls else 0.0
    decided = counts["watermark.decisions"]
    out["watermark.fresh_ratio"] = counts["watermark.fresh"] / decided if decided else 0.0

    execs = [r.exec for r in results if r.exec]
    for key in EXEC_KEYS:
        out[key] = sum(e[key] for e in execs) / ops
    job_s = sum(e["exec.job_s"] for e in execs)
    run_s = sum(e["exec.executor_run_s"] for e in execs)
    out["exec.core_busy_ratio"] = run_s / (job_s * cores) if job_s else 0.0
    out["driver.s"] = (op_time - job_s) / ops
    out["trace.bookkeeping_s"] = sum(
        s.end - s.start for s in spans if s.name == "trace.bookkeeping") / ops
    return out


def print_report(rec, results, per_layer: dict, untraced_wall: float, traced_wall: float) -> None:
    ops = max(1, len(results))
    print(f"# traced ops: {len(results)}; tracing overhead: wall_s {untraced_wall:.6g} s "
          f"untraced -> {traced_wall:.6g} s traced")
    units = dict(PER_LAYER)
    for key in sorted(per_layer):
        unit = units.get(key) or ("s/op" if key.endswith(("_s", ".s")) else "")
        print(f"{key} = {per_layer[key]:.6g} {unit}")
    print("# self times per op by span (calls/op, total s/op, self s/op):")
    selfs = rec.self_times()
    agg: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0.0])
    for s in rec.op_spans():
        a = agg[s.name]
        a[0] += 1
        a[1] += s.end - s.start
        a[2] += selfs[s.id]
    for name, (n, total, own) in sorted(agg.items(), key=lambda kv: -kv[1][2]):
        print(f"#   {name:32s} {n / ops:8.2f} {total / ops:10.4f} {own / ops:10.4f}")
    kinds = {r.kind for r in results}
    if len(kinds) > 3:
        return  # one kind per query: the query.<name> shares already say it
    by_op = {i: r.kind for i, r in enumerate(results)}
    for kind in sorted(kinds):
        spans = [s for s in rec.op_spans() if by_op.get(s.op) == kind]
        op_time = sum(s.end - s.start for s in spans if s.name == "op")
        shares: dict[str, float] = defaultdict(float)
        for s in spans:
            if s.name not in ("op", "trace.bookkeeping"):
                shares[s.name] += (s.end - s.start) / op_time
        top = sorted(shares.items(), key=lambda kv: -kv[1])[:6]
        print(f"# {kind} ops: largest inclusive shares of op time: "
              + ", ".join(f"{name} {share:.2f}" for name, share in top))
