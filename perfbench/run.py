#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Workloads: serve_mix, batch_pipeline (see BENCHMARK.json).
The first run in a checkout builds graft and the benchmark runner with sbt
(perfbench/build.sbt compiles the repository's own sources); later runs
reuse the build while no source file has changed.

Each run generates its inputs from --seed, starts one benchmark JVM with a
fresh java.io.tmpdir, measures for --seconds, checks every output, then
deletes its work directory. The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer ones, and the spans are kept under perfbench/.traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, ".traces")

# input scale per workload (fraction of the sf1 row counts), and ingest
# batch files written for ingest_mixed
SCALE = {"serve_mix": 0.01, "batch_pipeline": 0.01}
INGEST_BATCHES = 8
CORES = 4
JVM_TIMEOUT_S = 160

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def wait_group(proc, timeout):
    """Wait for `proc`; past `timeout` seconds kill its whole process group
    (it was started in a session of its own) and wait for it to end."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def build():
    """Compile graft and the runner; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"graft sources not found ({need} missing under {ROOT})")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building graft and the benchmark runner with sbt")
    t0 = time.time()
    out_path = os.path.join(BUILD, "sbt.out")
    with open(os.path.join(BUILD, "sbt.log"), "w") as err, open(out_path, "w") as out:
        rc = wait_group(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=err, start_new_session=True), 840)
    with open(out_path) as f:
        lines = [x for x in f.read().splitlines() if x.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (sbt exit {rc}); see {BUILD}/sbt.log and sbt.out")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, args, work, tmp):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as out:
        rc = wait_group(subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                         start_new_session=True), JVM_TIMEOUT_S)
    with open(logf) as f:
        text = f.read()
    if rc != 0:
        die(f"benchmark JVM failed ({rc}):\n{text[-4000:]}", 3)
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)


def oracle_failures(checks, data):
    """Compare each saved result with its DuckDB oracle on the same inputs:
    same column names, and the same rows as a multiset (exact values)."""
    if not checks:
        return 0
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = 0
    for c in checks:
        try:
            mine = con.sql(f"SELECT * FROM '{c['dir']}/*.parquet'")
            ref = con.sql(c["sql"])
            if sorted(mine.columns) != sorted(ref.columns):
                raise ValueError(f"columns {sorted(mine.columns)} vs {sorted(ref.columns)}")
            # Spark writes UTC-adjusted timestamps; compare them as plain ones
            cols = sorted(mine.columns)
            sel = ", ".join(f'"{n}"::TIMESTAMP AS "{n}"' if str(t) == "TIMESTAMP WITH TIME ZONE"
                            else f'"{n}"' for n, t in zip(mine.columns, mine.types))
            mine.create_view("mine_raw")
            ref.create_view("ref")
            con.sql(f"CREATE OR REPLACE TEMP VIEW mine AS SELECT {sel} FROM mine_raw")
            cl = ", ".join(f'"{n}"' for n in cols)
            diff = con.sql(
                f"SELECT (SELECT count(*) FROM (SELECT {cl} FROM mine EXCEPT ALL SELECT {cl} FROM ref))"
                f" + (SELECT count(*) FROM (SELECT {cl} FROM ref EXCEPT ALL SELECT {cl} FROM mine))"
            ).fetchone()[0]
            if diff:
                bad += 1
                log(f"oracle mismatch {c['name']}: {diff} rows differ")
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            bad += 1
            log(f"oracle error {c['name']}: {type(e).__name__}: {e}")
    return bad


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale (default per workload)")
    a = ap.parse_args()

    t0 = time.time()
    bench = spec()
    cp = build()
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        scale = a.scale if a.scale is not None else SCALE[a.workload]
        sys.path.insert(0, HERE)
        import gen
        gen.generate(data, a.seed, scale,
                     INGEST_BATCHES if a.workload == "batch_pipeline" else 0)
        log(f"gen done {time.time() - t0:.1f}s")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data, "--work", work, "--cores", str(CORES)], work, tmp)
        log(f"jvm done {time.time() - t0:.1f}s")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        failed = res["failed"] + oracle_failures(res["oracle"], data)
        log(f"oracles done {time.time() - t0:.1f}s")
        attempted = res["attempted"] + len(res["oracle"])
        if a.trace:
            os.makedirs(TRACES, exist_ok=True)
            base = os.path.join(TRACES, f"{a.workload}-seed{a.seed}")
            shutil.copy(os.path.join(work, "spans.jsonl"), base + ".spans.jsonl")
            with open(base + ".layers.json", "w") as f:
                json.dump({k: res[k] for k in ("layers", "spans", "context")}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    values = dict(res["layers"]) if a.trace else dict(res["end_to_end"])
    metrics = {}
    for m in bench[kind]:
        if m["name"] not in values or values[m["name"]] is None:
            die(f"metric {m['name']} was not measured on {a.workload}", 4)
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    for k, v in sorted(res["context"].items()):
        print(f"context {k} = {v}")
    for k, v in sorted(res["end_to_end"].items()):
        if k not in metrics:
            print(f"figure {k} = {v}")
    for k, v in sorted(res["layers"].items()):
        if k not in metrics:
            print(f"layer {k} = {v}")
    for k, m in metrics.items():
        print(f"{kind} {k} = {m['value']} {m['unit']}")
    print(f"fail_ratio = {failed / max(1, attempted)} ({failed} of {attempted} checks failed)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
