#!/usr/bin/env python3
"""graft's benchmark: run one workload for one seed, print one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload catalog|dispatch --seed N \
      --seconds S --trace 0|1 [--inject drop-row|replay]

Steps, each cached under .bench_build/perfbench/ and redone only when its
inputs change:
  1. build graft and the benchmark from this checkout's sources (sbt) and
     pack their class directories into jars;
  2. generate the input tables (perfbench/gen.py, fixed data seed);
  3. compute the DuckDB oracle of every catalog workload query;
  4. write the JVM's class-data-sharing archive (one training JVM).
Then it starts the benchmark JVM (graftbench.Main), checks the catalog
outputs it wrote against the oracle, and prints the result: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer ones. The
run's samples (in run order), spans and per-op counts are kept in
.bench_build/perfbench/runs/. --inject corrupts an output on purpose, so
the checks can be shown to fail (see perfbench/selftest.py).
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("catalog", "dispatch")
# The dispatch JVM compiles with C1 only. With C2 it spends about 40% of a
# run's CPU compiling Spark's code, its cycles keep getting faster for
# minutes, and where the compiles land decides how fast a whole run reads.
# Catalog runs are faster and no noisier with C2. See README.md.
JIT = {"catalog": (), "dispatch": ("-XX:TieredStopAtLevel=1",)}
SF = 0.01
DATA_SEED = 42
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile graft and the benchmark; return the run classpath."""
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties")]
    if not all(os.path.exists(p) for p in srcs):
        fail("graft's sources (src/main, build.sbt) are not next to perfbench/")
    key = tree_hash(srcs + [os.path.join(HERE, "build.sbt"),
                            os.path.join(HERE, "project", "build.properties"),
                            os.path.join(HERE, "src")])
    stamp = os.path.join(OUT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["key"] == key:
            return key, jar_classpath(key, s["classpath"])
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building graft and the benchmark (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return key, jar_classpath(key, classpath)


def jar_classpath(key, classpath):
    """Pack each class directory of the classpath into a jar: the JVM's
    class-data-sharing archive (see cds_archive()) takes classes from jars
    only."""
    out = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        jar = os.path.join(OUT, "jars", key, f"{i}-{os.path.basename(entry)}.jar")
        if os.path.isdir(entry) and not os.path.exists(jar):
            os.makedirs(os.path.dirname(jar), exist_ok=True)
            with zipfile.ZipFile(jar + ".tmp", "w") as z:
                for d, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
            os.replace(jar + ".tmp", jar)
        out.append(jar if os.path.isdir(entry) else entry)
    return os.pathsep.join(out)


def data():
    """Generate the input tables once per generator version."""
    key = tree_hash([os.path.join(HERE, "gen.py")])
    d = os.path.join(OUT, "data", f"sf{SF}-seed{DATA_SEED}-{key}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        log(f"generating sf{SF} tables")
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import gen
        gen.generate(d, SF, DATA_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def java(classpath, args, cwd, cds=None, jit=()):
    """Run graftbench.Main. With `cds` the JVM maps the classes it needs
    from that class-data-sharing archive (see cds_archive()); `jit` are
    the workload's compiler options (JIT)."""
    jvm = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
           if os.environ.get("JAVA_HOME") else "java"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if cds:
        jvm += ["-Xlog:cds*=off", "-Xlog:cds=off", cds]
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm += list(jit) + ["-Xms3g", "-Xmx3g", "-Xmn512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
            "graftbench.Main"] + args
    proc = subprocess.Popen(jvm, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def cds_archive(build_key, classpath, data_dir):
    """The JVM option that maps the benchmark's classes from a
    class-data-sharing archive, written once per build by a training JVM
    that runs one warm-up of each workload. A cold start then loads
    Spark's classes in about half the time, which keeps set-up short.
    None when the archive could not be made."""
    path = os.path.join(OUT, "cds", f"{build_key}.jsa")
    if not os.path.exists(path):
        log("writing the class-data-sharing archive (one training JVM)")
        work = os.path.join(OUT, "work", "train")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rc = java(classpath, ["--train", "1", "--data", data_dir, "--work", work], work,
                  cds=f"-XX:ArchiveClassesAtExit={path}.tmp")
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0 or not os.path.exists(path + ".tmp"):
            log("no class-data-sharing archive; starting the JVM without one")
            return None
        os.replace(path + ".tmp", path)
    return f"-XX:SharedArchiveFile={path}"


def oracle(build_key, classpath, data_dir):
    """Expected rows of every catalog workload query, computed once."""
    path = os.path.join(OUT, "oracle", f"{build_key}-{os.path.basename(data_dir)}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    log("computing the DuckDB oracle")
    work = os.path.join(OUT, "work", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sql_file = os.path.join(work, "oracle_sql.json")
    if java(classpath, ["--dump-oracle", sql_file], work) != 0:
        fail("could not export the oracle SQL")
    with open(sql_file) as f:
        sqls = json.load(f)
    import oracle as orc
    con = orc.connect(data_dir)
    want = {q: orc.expected(con, sql) for q, sql in sorted(sqls.items())}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("drop-row", "replay"), default="")
    a = ap.parse_args()
    t_start = time.time()
    sys.path.insert(0, HERE)

    build_key, classpath = build()
    data_dir = data()
    want = oracle(build_key, classpath, data_dir)
    cds = cds_archive(build_key, classpath, data_dir)

    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data_dir, "--work", work, "--out", result_file]
    if a.inject:
        args += ["--inject", a.inject]
    rc = java(classpath, args, work, cds=cds, jit=JIT[a.workload])
    if rc != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM exited with {rc}")
    with open(result_file) as f:
        res = json.load(f)

    # Catalog outputs: the warm-up pass wrote each query's result; a query
    # whose result is missing or differs from its oracle fails all its ops.
    mismatches = {}
    if a.workload != "dispatch":
        import oracle as orc
        con = orc.connect(data_dir)
        for q in res["per_query"]:
            d = os.path.join(work, "check", q)
            if q not in want:
                mismatches[q] = "no oracle SQL"
            elif not glob.glob(os.path.join(d, "*.parquet")):
                mismatches[q] = "no result written"
            else:
                err = orc.compare(con, d, want[q])
                if err:
                    mismatches[q] = err
    failed = sum(v["ops"] if q in mismatches else v["failed"]
                 for q, v in res["per_query"].items())
    errors = res["warmup_errors"] + [f"{q}: {e}" for q, e in sorted(mismatches.items())]
    errors += sorted({s["error"] for s in res["samples"] if s["error"]})
    for e in errors:
        log(f"CHECK FAILED {e}")
    res["oracle_mismatches"] = mismatches
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    with open(os.path.join(OUT, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)

    for name, m in sorted(res["metrics"].items()):
        log(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    tail = res["op_tail"]
    log(f"{a.workload} op tail = " + (
        f"{tail['value_ms']:.6g} ms at p{tail['percentile']:.1f}" if tail
        else f"undefined for {res['attempted']} ops (needs more than 10)"))
    log(f"{a.workload} fail_frac = {failed / max(1, res['attempted']):.4g}")
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
