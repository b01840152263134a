#!/usr/bin/env python3
"""The lake benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft's sources
together with the benchmark's own code (sbt, offline; see build.sbt) and later
runs reuse the build while the sources are unchanged. Each run starts one JVM
(perfbench.Main, Spark local[N] with N = nproc), which generates the seeded
inputs, sets up, measures for --seconds and checks its outputs. This script
adds the host-noise record and, on catalog_serve, the DuckDB oracle check of
the q_decl_* results, then prints every metric by name with its unit and, as
the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). Everything the run writes stays
inside the checkout: the build under perfbench/.build and target
directories, scratch data under perfbench/.work (deleted at exit), and one
record per run (samples, host noise, spans, operator table) under
perfbench/out.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ["backfill", "daily_append", "catalog_serve", "curate"]
RUN_DEADLINE_S = 165.0    # a run, after any build, ends within 180 s
BUILD_DEADLINE_S = 600.0  # a first run, build included, within 900 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: graft's sources and the bench's."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(BENCH, "src", "main", "**", "*.scala"), recursive=True)
        + [os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"graft sources not found at {GRAFT_SRC}: run from a graft checkout")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log("building graft + benchmark (sbt compile)")
    t0 = time.time()
    out = run_child(cmd, BENCH, env, deadline, capture=True)
    classpath = [l.strip() for l in out.splitlines()
                 if "scala-2.13/classes" in l and not l.startswith("[")]
    if not classpath:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(classpath[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return classpath[-1]


def run_child(cmd, cwd, env, deadline, capture=False, stdout=None, stderr=None):
    """Run a child in its own process group; kill the group at the deadline
    and always wait for it. Returns captured stdout when `capture`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else stdout,
                         stderr=subprocess.STDOUT if capture else stderr, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"timed out: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if p.returncode != 0:
        if capture:
            sys.stderr.write((out or "")[-4000:])
        raise SystemExit(f"{cmd[0]} exited with code {p.returncode}")
    return out


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def other_spark_jvms():
    """Process ids of Spark JVMs alive that this run did not start."""
    found = []
    for d in glob.glob("/proc/[0-9]*"):
        pid = int(os.path.basename(d))
        if pid == os.getpid():
            continue
        try:
            with open(os.path.join(d, "cmdline"), "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"java" in cmd and (b"spark" in cmd.lower()):
            found.append(pid)
    return found


def norm(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "item"):
        v = v.item()
    return v


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def oracle_check(work):
    """Compare each q_decl_* result with its DuckDB oracle on the generated
    input. Returns the names that differ."""
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(work, "oracle", "oracle.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET temp_directory = '%s'" % os.path.join(work, "duckdb"))
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet('%s')"
                % os.path.join(spec["lineitem"], "*.parquet"))
    bad = []
    for name, sql in sorted(spec["queries"].items()):
        files = sorted(glob.glob(os.path.join(work, "oracle", name, "*.parquet")))
        got = pq.ParquetDataset(files).read().to_pylist() if files else []
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        want = [dict(zip(cols, r)) for r in cur.fetchall()]
        keys = sorted(cols)
        if got and sorted(got[0].keys()) != keys:
            bad.append(name)
            log(f"oracle {name}: columns {sorted(got[0].keys())} vs {keys}")
            continue

        def rows(rs):
            return sorted((tuple(norm(r[k]) for k in keys) for r in rs),
                          key=lambda t: tuple((x is None, str(x)) for x in t))
        g, o = rows(got), rows(want)
        ok = len(g) == len(o) and all(
            all(same(x, y) for x, y in zip(a, b)) for a, b in zip(g, o))
        log(f"oracle {name}: {len(g)} rows, {'equal' if ok else 'DIFFERENT'} ({len(o)} oracle rows)")
        if not ok:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    classpath = build(t_start + BUILD_DEADLINE_S)
    t_built = time.time()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    host = {
        "start": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "nproc": cpus, "master": f"local[{cpus}]",
        "loadavg_before": loadavg(),
        "other_spark_jvms_at_start": other_spark_jvms(),
    }
    if host["other_spark_jvms_at_start"]:
        log(f"WARNING: other Spark JVMs alive: {host['other_spark_jvms_at_start']}; "
            "timings of this run are contaminated")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    result_file = os.path.join(work, "result.json")
    cmd = ([java] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--work", work, "--out", result_file])
    log_file = os.path.join(work, "jvm.log")
    try:
        with open(log_file, "w") as err:
            try:
                run_child(cmd, ROOT, dict(os.environ), t_built + RUN_DEADLINE_S,
                          stdout=None, stderr=err)
            except SystemExit:
                with open(log_file) as fh:
                    sys.stderr.write(fh.read()[-6000:])
                raise
        with open(result_file) as fh:
            rec = json.load(fh)
        res = rec["result"]
        if args.workload == "catalog_serve":
            bad = oracle_check(work)
            res["failed"] = min(res["attempted"], res["failed"] + len(bad))
            res["correct"] = res["failed"] == 0
            rec["info"]["oracle_mismatches"] = bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host["loadavg_after"] = loadavg()
    rec["host"] = host
    rec["info"]["failure_rate"] = res["failed"] / res["attempted"]
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(rec, fh)
    for k, v in rec["info"].items():
        print(f"info {args.workload} {k} = {v}")
    for k, v in res["metrics"].items():
        print(f"metric {args.workload} {k} = {v['value']:.6g} {v['unit']}")
    metrics = res["metrics"]
    listed = declared_metrics(args.trace)
    if listed is not None:
        missing = [m for m in listed if m not in metrics]
        if missing:
            raise SystemExit(f"metrics not produced: {missing}")
        metrics = {m: metrics[m] for m in listed}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


def declared_metrics(trace):
    """The metric names BENCHMARK.json declares for this mode, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


if __name__ == "__main__":
    main()
