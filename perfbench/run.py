#!/usr/bin/env python3
"""Run one benchmark workload against the engine of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source when the build is missing
or stale (sbt, into .bench_build/), generates the workload's inputs from
the seed, runs the workload in one JVM under a fresh run root
(.bench_run/<workload>-<seed>-<pid>/: warehouse, checkpoints, Spark local
dirs, temp files and inputs), checks its outputs, deletes the run root
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones (and the span file is written to
.bench_out/). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CDS = os.path.join(BUILD, "classes.jsa")

# Inputs per workload (see README.md for why these sizes).
REGISTRY_SF = 0.001         # generated fixture scale for registry_slice
ANN_CORPUS = 20_000         # 64-d vectors in the ANN corpus
GEN_REPS = 3                # input generation is repeated; setup takes the median
# a fixed heap and young generation: the JVM's peak RSS then tracks what
# the workload holds, not how far adaptive sizing happened to grow
JVM_HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
RUN_LIMIT_S = 170           # hard stop for the workload JVM

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Every time gated end to end is CPU time (user + system). The kernel counts
# it only while a thread runs on a core, so the time other tenants of a
# shared host take (steal) stays out of it; wall time, which moved by a
# quarter or more between runs on such a host, is reported per layer.
END_TO_END = {"setup_s": "s", "work_cpu_s": "s", "call_cpu_ms": "ms", "peak_rss_mb": "MB"}
# the figures a failed run must not report: a failure is never a timing
WORK_TIMES = ("work_cpu_s", "call_cpu_ms", "work_s", "latency_ms",
              "traced.work_cpu_s", "traced.call_cpu_ms", "traced.work_s", "traced.latency_ms")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, root, extra=()):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            list(extra) + JVM_HEAP +
            [f"-Djava.io.tmpdir={root}/tmp",
             f"-Dspark.sql.warehouse.dir={root}/warehouse", f"-Dspark.local.dir={root}/local",
             f"-Dderby.system.home={root}/tmp", "-Dspark.ui.enabled=false",
             # the co-serving posture ServeStream's scheduler pools are for
             "-Dspark.scheduler.mode=FAIR",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"])


def make_root(name):
    root = os.path.join(RUNS, name)
    if os.path.exists(root):
        raise SystemExit(f"run root {root} already exists; refusing to reuse state")
    for d in ["warehouse", "local", "tmp", "ckpt"]:
        os.makedirs(os.path.join(root, d))
    return root


def drop_root(root):
    shutil.rmtree(root, ignore_errors=True)
    try:
        os.rmdir(RUNS)
    except OSError:
        pass


def build():
    """Compiles and packages engine + harness with sbt unless the sources
    are unchanged since the last build, then dumps a class-data-sharing
    archive of a session start (it halves JVM + Spark start-up). Returns
    the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, CDS):
        if os.path.exists(f):
            os.remove(f)
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "package", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if ".bench_build" in l and os.pathsep in l and not l.startswith("[")]
    jar_dir = os.path.join(BUILD, "target", "scala-2.13")
    jars = sorted(os.path.join(jar_dir, f) for f in os.listdir(jar_dir)
                  if f.startswith("perfbench_") and f.endswith(".jar")) if os.path.isdir(jar_dir) else []
    if p.returncode != 0 or not cps or not jars:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("build failed")
    # the packaged jar instead of the classes directory: class-data
    # sharing archives classes from jars only
    cp = os.pathsep.join(jars[-1] if e.endswith("classes") else e
                         for e in cps[-1].split(os.pathsep))
    root = make_root(f"cds-{os.getpid()}")
    try:
        subprocess.run(java_cmd(cp, root, [f"-XX:ArchiveClassesAtExit={CDS}"]) +
                       ["--workload", "cds", "--seed", "0", "--seconds", "0", "--trace", "0",
                        "--data", root, "--root", root, "--result", f"{root}/cds.json"],
                       cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=300, check=True)
    finally:
        drop_root(root)
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tree_digest(top):
    """Digest of every path and byte under `top` (None if absent)."""
    if not os.path.exists(top):
        return None
    h = hashlib.sha256()
    for d, dirs, fs in os.walk(top):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, top).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def children_cpu_s():
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def generate(workload, seed, root):
    """Writes the workload's inputs under root/data; returns (dir, median
    wall seconds, median CPU seconds of GEN_REPS generations)."""
    data = os.path.join(root, "data")
    kind, size = (("fixture", REGISTRY_SF) if workload == "registry_slice"
                  else ("corpus", ANN_CORPUS))
    times, cpus = [], []
    for rep in range(GEN_REPS):
        out = data if rep == 0 else os.path.join(root, f"gen{rep}")
        t0, c0 = time.perf_counter(), children_cpu_s()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), kind, out, str(seed),
                        str(size)], check=True)
        times.append(time.perf_counter() - t0)
        cpus.append(children_cpu_s() - c0)
        if rep:
            shutil.rmtree(out)
    return data, statistics.median(times), statistics.median(cpus)


def oracle_counts(data, oracles, want):
    """Row count of each registry query's DuckDB oracle over the same
    generated files, compared with the count Spark's noop write observed.
    Returns the list of mismatches."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracles.items()):
        if name not in want:
            continue
        try:
            n = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except Exception as ex:  # an oracle that cannot run grades nothing
            bad.append(f"{name}: oracle failed: {str(ex)[:160]}")
            continue
        if n != want[name]:
            bad.append(f"{name}: spark {want[name]} rows, oracle {n}")
    return bad


def per_layer(workload, r):
    """The per-layer metrics of BENCHMARK.json from the run's figures; a
    layer the workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    alias = {
        "graft.session_s": "session_s", "graft.fixture_warm_s": "fixture_warm_s",
        "registry.batch_s": "batch_s", "registry.twins_s": "twins_s",
        "ann.index_lag_p50_ms": "index_lag_p50_ms",
        "ann.recall_at_5": "recall_at_5", "host.busy_pct": "host_busy_pct",
        "host.steal_pct": "host_steal_pct", "traced.work_s": "work_s",
        "traced.latency_ms": "latency_ms", "traced.work_cpu_s": "work_cpu_s",
        "traced.call_cpu_ms": "call_cpu_ms", "traced.setup_wall_s": "setup_wall_s"}
    out = {}
    for m in spec:
        v = r.get(alias.get(m["name"], m["name"]), 0.0)
        if v is None or (isinstance(v, float) and v != v):
            v = 0.0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["registry_slice", "ann_serve_maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"no engine sources under {ENGINE_SRC}: run from a checkout of the repo")
    cp = build()

    warehouse_before = tree_digest(os.path.join(ROOT, "spark-warehouse"))
    root = make_root(f"{a.workload}-{a.seed}-{os.getpid()}")
    proc = None
    try:
        data, gen_s, gen_cpu_s = generate(a.workload, a.seed, root)
        os.makedirs(OUT, exist_ok=True)
        result = os.path.join(root, "result.json")
        spans = os.path.join(OUT, f"spans-{a.workload}-{a.seed}.jsonl")
        cds = [f"-XX:SharedArchiveFile={CDS}", "-Xlog:cds=off"] if os.path.isfile(CDS) else []
        cmd = (java_cmd(cp, root, cds) + [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--root", root, "--result", result,
                "--spans", spans])
        launch_ms = time.time() * 1000.0
        with open(os.path.join(root, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=root, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"workload JVM exceeded {RUN_LIMIT_S} s")
        if proc.returncode != 0 or not os.path.isfile(result):
            with open(os.path.join(root, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            raise SystemExit(f"workload JVM failed with code {proc.returncode}")
        with open(result) as f:
            r = json.load(f)

        failed, errors = r["failed"], list(r["errors"])
        attempted = r["attempted"]
        if a.workload == "registry_slice":
            bad = oracle_counts(data, r.pop("oracle_sql"), r["rows"])
            failed += len(bad)
            errors += bad
        if tree_digest(os.path.join(ROOT, "spark-warehouse")) != warehouse_before:
            failed += 1
            errors.append("the repo's spark-warehouse/ changed during the run")
        # set-up: input generation, then JVM and session start and fixture
        # load, up to the first timed call
        r["setup_s"] = gen_cpu_s + r["jvm_setup_cpu_s"]
        r["setup_wall_s"] = gen_s + (r["setup_end_ms"] - launch_ms) / 1000.0
        for e in errors:
            log(f"FAILED {e}")
        info = {k: v for k, v in r.items() if k not in ("rows", "errors", "self_s")}
        info.update(seed=a.seed, workload=a.workload, gen_s=gen_s, gen_cpu_s=gen_cpu_s)
        log("figures " + json.dumps(info, sort_keys=True))
        metrics = per_layer(a.workload, r) if a.trace else {
            k: {"value": r[k], "unit": u} for k, u in END_TO_END.items() if k in r}
        if failed:
            # a failure is never a timing: a run with a throw or a wrong
            # output reports no work timings (the JVM reports none for a
            # throw; an oracle mismatch is only known here)
            for k in WORK_TIMES:
                metrics.pop(k, None)
        ok = failed == 0 and all(
            isinstance(m["value"], (int, float)) and m["value"] == m["value"]
            for m in metrics.values())
        print(json.dumps({"correct": ok, "attempted": max(1, attempted), "failed": failed,
                          "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        drop_root(root)


if __name__ == "__main__":
    main()
