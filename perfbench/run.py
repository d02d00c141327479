#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

  python3 perfbench/run.py --workload registry_cold --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run builds the program and
the benchmark harness from source into `.bench_build/` (or
`$CARGO_TARGET_DIR`); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from `--seed`, runs the
workload's benchmark JVM (`local[4]`, at most `nproc` threads, one
client, closed loop), checks every operation's digest, and prints one
JSON line last: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md). `--save DIR` also writes that
line, with the run's details, to a file in DIR for `compare.py`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

HEAP = "2g"
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jars directory: `$SPARK_HOME/jars`, else the one the sbt
    build compiles against (build.sbt's `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("no Spark jars: set SPARK_HOME, or run from a checkout whose build.sbt names them")
    return m.group(1)


def scalac(jars, out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", classpath] + sources))
    comp = [os.path.join(jars, j) for j in (
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar")]
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(comp),
                        "scala.tools.nsc.Main", "@" + argfile])
    if r.returncode != 0:
        fail(f"compilation into {out} failed")


def build(root, bdir):
    """Compile src/main/scala and the harness with scalac; skip when the
    sources are unchanged since the last build. Returns the classpath."""
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    if not program:
        fail("no program sources under src/main/scala; run from the root of a checkout")
    jars_dir = spark_jars(root)
    if not os.path.isdir(jars_dir):
        fail(f"no Spark jars at {jars_dir}")
    h = hashlib.sha256()
    for p in program + harness:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cls = os.path.join(bdir, "classes")
    cp = [os.path.join(cls, "harness"), os.path.join(cls, "program"), os.path.join(jars_dir, "*")]
    stamp_file = os.path.join(cls, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return ":".join(cp)
    shutil.rmtree(cls, ignore_errors=True)
    jars = ":".join(sorted(glob.glob(os.path.join(jars_dir, "*.jar"))))
    scalac(jars_dir, cp[1], jars, program)
    scalac(jars_dir, cp[0], cp[1] + ":" + jars, harness)
    with open(os.path.join(cls, "oracles.json"), "w") as f:
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", ":".join(cp), "perfbench.Oracles"],
                       stdout=f, check=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return ":".join(cp)


def steal_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def run_jvm(cp, w, data, work, ops, passes, traced, oracle_dir):
    """Run one benchmark JVM; return (launch epoch ms, its JSON records)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    ops_file = os.path.join(work, "ops.tsv")
    with open(ops_file, "w") as f:
        for i, (kind, key, *args) in enumerate(ops):
            f.write("\t".join([str(i), kind, key] + list(args)) + "\n")
    out = os.path.join(work, "out.jsonl")
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS + [
        # a fixed-size heap and young generation, so that peak RSS follows
        # what the program retains rather than when the collector resized
        "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
        "--workload", w.name, "--data", data, "--work", work, "--ops", ops_file,
        "--out", out, "--passes", str(passes), "--warm", str(w.warm),
        "--trace", "1" if traced else "0"] +
        (["--oracle-dir", oracle_dir] if oracle_dir else []))
    launch_ms = time.time() * 1000
    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=170)
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM exited with {r.returncode}")
    with open(out) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    spans = []
    if traced:
        with open(out + ".spans.jsonl") as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return launch_ms, recs, spans


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="directory to write this run's result file into")
    a = ap.parse_args()

    t_start = time.time()
    root = os.getcwd()
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(root, bdir)
    w = workloads.WORKLOADS[a.workload]
    run_dir = os.path.join(bdir, "runs", f"{w.name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    st0 = steal_ticks()
    try:
        # inputs
        g0 = time.time()
        data = os.path.join(run_dir, "data")
        gen_summary = w.generate(data, a.seed)
        gen_s = time.time() - g0
        ihash = oracle.input_hash(data)
        expected = oracle.Expected(os.path.join(bdir, "expected"), w.name, a.seed, ihash)
        ops = w.ops(a.seed)
        keys = {op[1] for op in ops}

        # oracle replays for keys not yet expected: counted in no metric
        oracle_dir = None
        with open(os.path.join(bdir, "classes", "oracles.json")) as f:
            sqls = {k: v for k, v in {**json.load(f), **w.oracles(ops)}.items()
                    if k in keys and not expected.known(k)}
        if sqls:
            oracle_dir = os.path.join(run_dir, "oracle")
            oracle.replay(data, sqls, oracle_dir)

        # a traced run adds an untraced JVM, for the tracing overhead
        jvms = []
        for i, traced in enumerate([True, False] if a.trace else [False]):
            launch_ms, recs, spans = run_jvm(
                cp, w, data, os.path.join(run_dir, f"jvm{i}"), ops,
                w.passes(a.seconds), traced, oracle_dir)
            jvms.append({"launch_ms": launch_ms, "recs": recs, "spans": spans, "traced": traced})

        # correctness: oracle digests first, then first-seen digests
        for r in (r for j in jvms for r in j["recs"]):
            if r["kind"] == "oracle" and "digest" in r:
                expected.record(r["key"], f'{r["rows"]}:{r["digest"]}', "duckdb")
        op_recs = [r for j in jvms for r in j["recs"] if r["kind"] == "op"]
        for r in op_recs:
            if "digest" in r and r["key"] not in sqls:
                expected.record(r["key"], f'{r["rows"]}:{r["digest"]}', "first-run")
        failed = oracle.check(op_recs, expected)
        expected.save()

        st1 = steal_ticks()
        box = {"box.steal_frac": (st1[0] - st0[0]) / max(1, st1[1] - st0[1]),
               "box.load1": os.getloadavg()[0]}
        if a.trace:
            metrics, units = layers.per_layer(jvms), layers.UNITS
            metrics.update(box)
        else:
            metrics, units = layers.end_to_end(jvms[0], gen_s), layers.E2E_UNITS
        result = {"correct": not failed, "attempted": len(op_recs), "failed": len(failed),
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        details = {"workload": w.name, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
                   "input_hash": ihash, "inputs": gen_summary, "gen_s": gen_s,
                   "tail": layers.tail_info(jvms[-1]), "box": box,
                   "conf": next(r["conf"] for r in jvms[0]["recs"] if r["kind"] == "jvm"),
                   "wall_s": time.time() - t_start,
                   "failed_keys": failed,
                   "errors": {r["key"]: r["error"] for r in op_recs if "error" in r}}
        print(json.dumps(details))
        if a.save:
            os.makedirs(a.save, exist_ok=True)
            with open(os.path.join(a.save, f"{w.name}-{a.seed}-{a.trace}-{int(t_start)}.json"), "w") as f:
                json.dump({**result, "details": details}, f)
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
