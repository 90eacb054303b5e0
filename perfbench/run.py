#!/usr/bin/env python3
"""Benchmark of the warehouse engine: the reference ingest pipeline and a
sample of the query catalog, end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program together with
the harness (sbt, offline) into the build directory ($CARGO_TARGET_DIR, else
.bench_build); later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, runs one JVM (local[4]), checks
the outputs, and prints one JSON result as its last line: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. A run whose
outputs are wrong, or where a file or query fails, exits 1. The run record
(stamps, per-pass times, failures, canary) is the line before the result and
is also kept under <build dir>/records/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("ingest_encrypt", "ingest_small_files", "catalog_sample")
CATALOG_SF = 0.01
DEADLINE_S = 170
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles, to decide when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir, stamp):
    """Compile program + harness with sbt; return the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    os.makedirs(build_dir, exist_ok=True)
    # class directories go into one jar: the JVM's class-data-sharing archive
    # (see run_jvm) only accepts a classpath of jars
    jar = os.path.join(build_dir, "perfbench.jar")
    entries = lines[-1].split(os.pathsep)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in (e for e in entries if os.path.isdir(e)):
            for base, _, fs in os.walk(d):
                for f in fs:
                    full = os.path.join(base, f)
                    z.write(full, os.path.relpath(full, d))
    classpath = os.pathsep.join([jar] + [e for e in entries if not os.path.isdir(e)])
    for f in os.listdir(build_dir):
        if f.endswith(".jsa"):
            os.remove(os.path.join(build_dir, f))
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def generate(workload, seed, inputs):
    import gen
    if workload == "catalog_sample":
        gen.warehouse(seed, CATALOG_SF, inputs)
        return
    files = gen.ingest_files(workload, seed, inputs)
    with open(os.path.join(inputs, "manifest.tsv"), "w") as f:
        for name, rows, enc, sums in files:
            cols = ";".join(f"{c}:{k}:{v}" for c, (k, v) in sums.items())
            f.write(f"{name}\t{rows}\t{','.join(enc) or '-'}\t{cols}\n")


def run_jvm(classpath, args, run_dir, cds, timeout):
    """Run perfbench.Main. The JVM loads Spark's classes from a class-data-
    sharing archive per workload, written at the exit of the workload's first
    run in this build; it halves JVM and session start on a 4-core host."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds}")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", share, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    cmd += [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {code}")


def _norm(v):
    """Comparable form of one result value (DuckDB vs Spark parquet)."""
    import math
    if v is None:
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        f = float(v)
        return None if math.isnan(f) else float(f"{f:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return str(v)


def oracle_failures(inputs, results, oracle):
    """Queries whose Spark result differs from DuckDB running the oracle SQL
    over the same generated tables; rows are compared as multisets."""
    import duckdb
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')")
            exp = con.sql(sql)
            cols = sorted(got.columns)
            if cols != sorted(exp.columns):
                failures.append((name, f"columns differ: {cols} vs {sorted(exp.columns)}"))
                continue
            key = lambda r: tuple(repr(x) for x in r)
            a = sorted((tuple(_norm(r[got.columns.index(c)]) for c in cols)
                        for r in got.fetchall()), key=key)
            b = sorted((tuple(_norm(r[exp.columns.index(c)]) for c in cols)
                        for r in exp.fetchall()), key=key)
            if a != b:
                failures.append((name, f"differs from DuckDB ({len(a)} vs {len(b)} rows)"))
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append((name, f"oracle check failed: {e}"))
    return failures


def git_commit():
    """HEAD of the checkout, or None when the checkout is not a git work tree
    (git must not find an enclosing repository instead)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {ROOT}/src; run from a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    stamp = source_hash()
    classpath = build(build_dir, stamp)
    started = time.monotonic()  # the run's time limit starts after the build

    run_dir = os.path.join(build_dir, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "record.json")
    try:
        os.makedirs(inputs)
        t0 = time.monotonic()
        generate(a.workload, a.seed, inputs)
        gen_s = time.monotonic() - t0
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--inputs", inputs, "--work", run_dir, "--out", out],
                run_dir, os.path.join(build_dir, f"cds-{a.workload}.jsa"),
                DEADLINE_S - (time.monotonic() - started))
        with open(out) as f:
            rec = json.load(f)
        if a.workload == "catalog_sample":
            rec["failed"] += [{"item": n, "reason": r} for n, r in
                              oracle_failures(inputs, os.path.join(run_dir, "results"),
                                              rec["oracle"])]
        spans = os.path.join(run_dir, "spans.json")
        records = os.path.join(build_dir, "records")
        os.makedirs(records, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(records, f"{tag}.spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    rec["metrics"]["setup_s"] = gen_s + rec["setup_jvm_s"]
    rec.update(gen_s=gen_s, commit=git_commit(), source_sha256=stamp,
               seconds=a.seconds, total_s=time.monotonic() - started)
    rec.pop("oracle")
    failed_items = sorted({f["item"] for f in rec["failed"]})
    rec["failed_frac"] = len(failed_items) / len(rec["items"])
    if a.trace:
        wanted, source = spec["per_layer"], rec["layers"]
    else:
        wanted, source = spec["end_to_end"], rec["metrics"]
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    for f in rec["failed"]:
        print(f"FAILED {f['item']}: {f['reason']}", file=sys.stderr)
    print(json.dumps({"record": rec}))
    print(json.dumps({"correct": not failed_items, "attempted": len(rec["items"]),
                      "failed": len(failed_items), "metrics": metrics}))
    sys.exit(1 if failed_items else 0)


if __name__ == "__main__":
    main()
