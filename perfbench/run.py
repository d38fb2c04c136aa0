#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--scale bench|smoke]

Run it from the root of the repository. On first use it compiles the
program's sources together with the harness (sbt, offline); later runs
reuse the build. The DuckDB answers the checks compare against are
computed when first needed and cached under perfbench/work/oracle_cache;
`rm -rf perfbench/work/oracle_cache` rebuilds them. One JVM on local[N],
N = min(4, nproc), sets the workload up, measures it for --seconds and
writes its raw figures; this script then checks every output (DuckDB
answers for the batch queries, stated properties for the ingest
streams) and prints
{"correct", "attempted", "failed", "metrics"} as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. A traced run also leaves its per-query ledger beside its
summary under perfbench/work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CDS = os.path.join(HERE, "target", "perfbench.jsa")
sys.path.insert(0, HERE)

import checks  # noqa: E402

WORKLOADS = ["batch_mix", "daily_ingest"]
SCALES = {
    # batch queries at the oracle scale, ingest at the bench scale
    "bench": {"batch": "sf0.01", "ingest": "sf0.1"},
    "smoke": {"batch": "sf0.001", "ingest": "sf0.001"},
}
JVM_TIMEOUT_S = 160
DOC_DROPS = 3
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness into one jar unless the sources are
    unchanged, and train a class-data-sharing archive for it; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; "
             "run from the root of the repository")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        cp = [ln.strip() for ln in f if "scala-2.13/classes" in ln and ":" in ln]
    jar = os.path.join(HERE, "target", "scala-2.13", "perfbench.jar")
    if rc != 0 or not cp or not os.path.exists(jar):
        fail(f"build failed (rc={rc}); see {log}")
    # class-data sharing maps jars only, so the classes go in by jar
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    classpath = cp[-1].replace(classes, jar)
    train_cds(classpath)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def train_cds(classpath):
    """Archive the classes a smoke run of batch_mix loads: every
    later JVM maps them instead of loading them one by one."""
    if os.path.exists(CDS):
        os.remove(CDS)
    d = os.path.join(WORK, "cds_training")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "out"))
    smoke = SCALES["smoke"]
    run_jvm(classpath, d, "perfbench.Main",
            ["batch_mix", "1", "0", "0", data_dir(smoke["batch"]),
             data_dir(smoke["ingest"]), os.path.join(d, "out"), "2"],
            600, [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.rmtree(d, ignore_errors=True)


def java_cmd(classpath, tmp, main, args, jvm_opts=()):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if not jvm_opts and os.path.exists(CDS):
        jvm_opts = [f"-XX:SharedArchiveFile={CDS}"]
    return (["java", *jvm_opts, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.callstack.depth=200", "-Dspark.ui.enabled=false",
             "-Duser.timezone=UTC"] + opens + ["-cp", classpath, main] + args)


def cpu_times():
    """Host-wide (steal, iowait, total) jiffies from /proc/stat, to tell
    a slow host from a slow program in the run's summary."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], v[4], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0, 0


def run_jvm(classpath, run_dir, main, args, timeout, jvm_opts=()):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(java_cmd(classpath, tmp, main, args, jvm_opts),
                             cwd=run_dir,
                             stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} timed out after {timeout}s; see {log}")
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{main} exited {rc}; see {log}\n{tail}")


def data_dir(sf):
    d = os.path.join(HERE, "data", sf)
    if not os.path.isdir(d):
        fail(f"benchmark data {d} missing")
    return d


def stage_drops(staging, sfdir, seed):
    """Stage daily_ingest's input: the events as one drop per day, the
    documents in DOC_DROPS drops by a seeded shuffle. Each drop is one
    parquet file under drop_NN, with ascending modification times so
    the file source (one file per micro-batch) takes them in order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import random

    def write(kind, tables):
        base = time.time() - 10000
        for i, t in enumerate(tables):
            d = os.path.join(staging, kind, f"drop_{i:02d}")
            os.makedirs(d)
            f = os.path.join(d, "part-0.parquet")
            pq.write_table(t, f)
            os.utime(f, (base + i, base + i))

    ev = pq.read_table(os.path.join(sfdir, "events.parquet"))
    ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                       ev["ts"].cast(pa.timestamp("us", tz="UTC")))
    day = ev["ts"].cast(pa.date32())
    write("events", [ev.filter(pc.equal(day, d))
                     for d in sorted(pc.unique(day).to_pylist())])
    docs = pq.read_table(os.path.join(sfdir, "documents.parquet"))
    ids = docs["doc_id"].to_pylist()
    random.Random(seed).shuffle(ids)
    drop = {d: i * DOC_DROPS // len(ids) for i, d in enumerate(ids)}
    col = pa.array([drop[d] for d in docs["doc_id"].to_pylist()])
    write("documents", [docs.filter(pc.equal(col, k)) for k in range(DOC_DROPS)])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    a = ap.parse_args()
    scale = SCALES[a.scale]
    classpath = build()

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.scale}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    cpus = min(4, os.cpu_count() or 1)
    host0 = cpu_times()
    staging_s = 0.0
    if a.workload == "daily_ingest":
        t0 = time.time()
        stage_drops(os.path.join(run_dir, "staging"), data_dir(scale["ingest"]),
                    a.seed)
        staging_s = time.time() - t0
    run_jvm(classpath, run_dir, "perfbench.Main",
            [a.workload, str(a.seed), str(a.seconds), str(a.trace),
             data_dir(scale["batch"]), data_dir(scale["ingest"]), out,
             str(cpus)], JVM_TIMEOUT_S)
    host1 = cpu_times()
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    jiffies = max(1, host1[2] - host0[2])

    if a.workload == "daily_ingest":
        problems, rows = checks.check_ingest(run, data_dir(scale["ingest"]))
    else:
        problems, rows = checks.check_batch(run, data_dir(scale["batch"]))
    for f in run["failures"]:
        print(f"perfbench: {f['op']} failed ({f['pass']}): {f['message']}",
              file=sys.stderr)

    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "scale": a.scale, "problems": problems,
               "setup_s": run["setup_s"], "staging_s": staging_s,
               "passes": len(run["passes"]),
               "host_steal_pct": 100 * (host1[0] - host0[0]) / jiffies,
               "host_iowait_pct": 100 * (host1[1] - host0[1]) / jiffies}
    if a.trace:
        metrics = layer_metrics(run)
        ledger = [p.get("ledger") for p in run["passes"]]
        with open(os.path.join(run_dir, "ledger.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "passes": ledger}, f, indent=1)
    else:
        m = run["metrics"]
        if a.workload != "daily_ingest" and "suite_s" in m:
            m = dict(m, rows_per_s=rows / m["suite_s"])
        metrics = {"setup_s": run["setup_s"] + staging_s, **m}
    units = {e["name"]: e["unit"] for e in bench_spec()[
        "per_layer" if a.trace else "end_to_end"]}
    missing = sorted(set(units) - set(metrics))
    if missing:
        fail(f"metrics not measured: {missing}")
    result = {"correct": not problems,
              "attempted": run["attempted"], "failed": run["failed"],
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in units}}
    summary["result"] = result
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps(result))


def layer_metrics(run):
    """Per-layer metrics: the median over the run's traced passes."""
    layers = [p["layers"] for p in run["passes"]]
    out = {k: statistics.median(x[k] for x in layers) for k in layers[0]}
    for k in ("stream.batches", "stream.add_batch_pct", "stream.planning_pct",
              "stream.commit_pct", "stream.index_layers", "stream.compactions"):
        out.setdefault(k, 0.0)
    out.update(run["catalog"])
    return out


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
