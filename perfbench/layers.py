"""Metrics from the benchmark JVMs' records.

`end_to_end` turns untraced records into the user-visible metrics;
`per_layer` turns a traced run's spans and counters into per-layer
metrics. Self time per layer comes from `attribute`: every millisecond
of an operation goes to the innermost layer covering it (a Spark job,
else a Catalyst phase, else the builder call, else the Spark driver), so the
attributed layers and `driver.other_ms` sum to the operation's wall.

  python3 perfbench/layers.py SPANS.jsonl   # self time per layer, per op
"""
import json
import os
import statistics
import sys

from workloads import MEMOIZED

# metric names and units are the ones BENCHMARK.json declares
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# innermost first: a job inside a planning phase inside a builder call
# is job time
PRIORITY = ["job", "analysis", "optimization", "planning", "build"]
SELF_NAMES = {"job": "sched.job_ms", "analysis": "catalyst.analysis_ms",
              "optimization": "catalyst.optimization_ms",
              "planning": "catalyst.planning_ms", "build": "queries.build_ms"}
COUNTS = ["codegen.compiles", "codegen.wsc_ms", "sched.jobs", "sched.stages",
          "sched.tasks", "task.run_ms", "task.cpu_ms", "task.gc_ms",
          "shuffle.write_bytes", "shuffle.write_ms", "shuffle.read_bytes",
          "shuffle.fetch_wait_ms", "spill.bytes", "io.input_bytes", "io.input_rows",
          "io.files_read", "io.output_bytes", "jvm.gc_ms"]
# hive.<call>_ms: one per HiveTables call; queries.<Module>_s: op wall of
# the registry queries declared by that module
HIVE_CALLS = [n[len("hive."):-len("_ms")] for n in UNITS
              if n.startswith("hive.") and n.endswith("_ms")]
MODULES = [n[len("queries."):-len("_s")] for n in UNITS
           if n.startswith("queries.") and n.endswith("_s")]

TAIL_LADDER = [99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 67.0, 50.0]


def quantile(values, p):
    """The p-th percentile by linear interpolation (p50 is the median)."""
    v = sorted(values)
    if not v:
        return 0.0
    x = (len(v) - 1) * p / 100.0
    i = int(x)
    return v[i] if i + 1 >= len(v) else v[i] + (v[i + 1] - v[i]) * (x - i)


def tail(values):
    """(percentile, value, samples): the highest percentile of the ladder
    with at least 10 samples beyond it (p50 when there are fewer than 20)."""
    n = len(values)
    p = next((p for p in TAIL_LADDER if n * (100.0 - p) / 100.0 >= 10), TAIL_LADDER[-1])
    return p, quantile(values, p), n


def attribute(op_span, spans):
    """Self time (ms) per layer inside one operation's wall."""
    lo, hi = op_span["start_ms"], op_span["end_ms"]
    inside = [s for s in spans if s["kind"] in SELF_NAMES and
              s["end_ms"] > lo and s["start_ms"] < hi]
    cuts = sorted({lo, hi} | {min(hi, max(lo, t)) for s in inside
                              for t in (s["start_ms"], s["end_ms"])})
    out = {name: 0.0 for name in SELF_NAMES.values()}
    out["driver.other_ms"] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        cover = [s["kind"] for s in inside if s["start_ms"] <= a and s["end_ms"] >= b]
        layer = min(cover, key=PRIORITY.index) if cover else None
        out[SELF_NAMES[layer] if layer else "driver.other_ms"] += b - a
    return out


def _timed_ops(jvms, traced=None):
    return [r for j in jvms if traced is None or j["traced"] == traced
            for r in j["recs"] if r["kind"] == "op" and r["timed"]]


def _passes(jvms, traced=None):
    return [r for j in jvms if traced is None or j["traced"] == traced
            for r in j["recs"] if r["kind"] == "pass"]


def end_to_end(jvm, gen_s):
    """The user-visible metrics of an untraced JVM's run."""
    ops = [r["ms"] for r in _timed_ops([jvm])]
    passes = _passes([jvm])
    summary = next(r for r in jvm["recs"] if r["kind"] == "jvm")
    return {"setup_s": gen_s + (summary["first_timed_ms"] - jvm["launch_ms"]) / 1000.0,
            "total_s": statistics.median(p["ms"] for p in passes) / 1000.0,
            "cpu_s": statistics.median(p["cpu_ms"] for p in passes) / 1000.0,
            "op_p50_ms": statistics.median(ops),
            "op_tail_ms": tail(ops)[1],
            "peak_rss_mb": summary["rss_mb"]}


def tail_info(jvm):
    p, v, n = tail([r["ms"] for r in _timed_ops([jvm])])
    return {"percentile": p, "value_ms": v, "samples": n}


def per_layer(jvms):
    """Per-layer metrics of a traced run: each is summed over one pass of
    the workload's operations, then the median over the traced passes is
    taken, so a count repeats exactly whenever the program's work does."""
    traced = [j for j in jvms if j["traced"]]
    per_pass = []
    for j in traced:
        spans_by_op = {}
        for s in j["spans"]:
            spans_by_op.setdefault(s["op"], []).append(s)
        cpus = next(r["cpus"] for r in j["recs"] if r["kind"] == "jvm")
        for p in (r for r in j["recs"] if r["kind"] == "pass"):
            ops = [r for r in j["recs"] if r["kind"] == "op" and r["pass"] == p["pass"]]
            m = {k: 0.0 for k in UNITS}
            repeats = hits = reads = total_parts = 0
            for r in ops:
                c = r.get("counts", {})
                for k in COUNTS:
                    m[k] += c.get(k, 0.0)
                for call in HIVE_CALLS:
                    m[f"hive.{call}_ms"] += c.get(f"hive.{call}_ms", 0.0)
                if "hive.partitions_total" in c:  # the ops that read orders_p
                    reads += c.get("hive.partitions_read", 0.0)
                    total_parts += c["hive.partitions_total"]
                spans = spans_by_op.get(r["seq"], [])
                op_span = next(s for s in spans if s["kind"] == "op")
                for k, v in attribute(op_span, spans).items():
                    m[k] += v
                build = next(s for s in spans if s["kind"] == "build")
                jobs = sum(1 for s in spans if s["kind"] == "job" and
                           build["start_ms"] <= s["start_ms"] <= build["end_ms"])
                m["queries.build_jobs"] += jobs
                if r["module"] in MODULES:
                    m[f"queries.{r['module']}_s"] += r["ms"] / 1000.0
                if r["repeat"] and r["key"] in MEMOIZED:
                    repeats += 1
                    hits += jobs == 0
            m["memo.hit_frac"] = hits / repeats if repeats else 0.0
            m["hive.partitions_read_frac"] = reads / total_parts if total_parts else 0.0
            m["task.busy_frac"] = m["task.run_ms"] / (p["ms"] * cpus) if p["ms"] else 0.0
            per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in UNITS}
    catalog = [r for j in traced for r in j["recs"] if r["kind"] == "catalog"]
    out["catalog.register_ms"] = statistics.median(r["register_ms"] for r in catalog)
    out["catalog.schema_jobs"] = statistics.median(r["schema_jobs"] for r in catalog)
    # writes and the tracing overhead come from the run's untraced JVMs
    plain = [j for j in jvms if not j["traced"]]
    writes = [r["ms"] for r in _timed_ops(plain) if r["write"]]
    out["write.p50_ms"] = statistics.median(writes) if writes else 0.0
    out["write.tail_ms"] = tail(writes)[1] if writes else 0.0
    t_pass = [p["ms"] for p in _passes(traced)]
    u_pass = [p["ms"] for p in _passes(plain)]
    out["trace.overhead_frac"] = (statistics.median(t_pass) / statistics.median(u_pass) - 1.0
                                  if t_pass and u_pass else 0.0)
    for k in ("box.steal_frac", "box.load1"):
        out.pop(k)
    return out


def main():
    spans = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for op, ss in sorted(by_op.items()):
        root = next((s for s in ss if s["kind"] == "op"), None)
        if root:
            layers = attribute(root, ss)
            print(json.dumps({"op": op, "name": root["name"],
                              "wall_ms": root["end_ms"] - root["start_ms"], **layers}))


if __name__ == "__main__":
    main()
