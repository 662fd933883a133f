#!/usr/bin/env python3
"""graft benchmark: full-result query workloads and a long-lived kiara session.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Builds the harness (graft's sources plus perfbench/harness) with sbt when
the sources changed, runs one workload in one JVM on local[nproc], checks
every op's output, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Per-op detail, spans and the run record go to files under the build
directory ($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = os.path.join(HERE, "workloads.json")
# expected row count and canonical hash of every key's result on DATA
EXPECTED = os.path.join("tools", "baseline_sf001_hashes.json")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: graft's main sources and the harness."""
    out = [os.path.join(HARNESS, "build.sbt"),
           os.path.join(HARNESS, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HARNESS, "src")):
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return sorted(out)


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def spark_jars_dir():
    """The jars of the Spark installation the program runs on."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return jars


def build(root, target, stamp, spark_jars):
    classes = os.path.join(target, "harness", "scala-2.13", "classes")
    stamp_file = os.path.join(target, "build.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read().strip() == stamp:
        return classes
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = os.path.join(target, "harness")
    env["SPARK_JARS_DIR"] = spark_jars
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(target, "build.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isdir(classes):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (log: {log})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


def harness_jar(classes, target, stamp):
    """The compiled classes as one jar: class-data sharing archives only
    classes that come from jars."""
    jar = os.path.join(target, f"harness-{stamp}.jar")
    if not os.path.exists(jar):
        tmp = jar + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
            for base, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    p = os.path.join(base, f)
                    info = zipfile.ZipInfo(os.path.relpath(p, classes), (2000, 1, 1, 0, 0, 0))
                    with open(p, "rb") as fh:
                        z.writestr(info, fh.read())
        os.replace(tmp, jar)
    return jar


def commit_id(root, stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"source-digest:{stamp}"


def hash_check(root, out_dir, keys):
    """Canonical hashes of each key's result vs the committed expectations,
    through tools/baseline_compare.py (used read-only). Returns failures."""
    script = os.path.join(root, "tools", "baseline_compare.py")
    expected = {k: v for k, v in json.load(open(os.path.join(root, EXPECTED))).items()
                if k in keys}
    base = os.path.join(out_dir, "expected.json")
    with open(base, "w") as f:
        json.dump(expected, f)
    res = subprocess.run([sys.executable, script, out_dir, base], capture_output=True,
                         text=True, timeout=120, cwd=root)
    if res.returncode != 0:
        return [("hash_check", res.stderr.strip()[-300:] or "baseline_compare failed")]
    bad = []
    for line in res.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("MOVED", "MISSING"):
            bad.append((f"hash:{rest.split(':')[0].split(' ')[0]}", line.strip()))
    want = f"UNCHANGED {len(expected)}/{len(expected)}"
    if not bad and want not in res.stdout:
        bad.append(("hash_check", res.stdout.strip()[-300:]))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala", "graft",
                 "SparkEntry.scala"), os.path.join("tools", "baseline_compare.py"), EXPECTED):
        if not os.path.exists(os.path.join(root, need)):
            die(f"not a graft checkout: {need} is missing in {root}")
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    workloads = json.load(open(WORKLOADS))
    if a.workload not in workloads:
        die(f"unknown workload {a.workload!r}; known: {', '.join(workloads)}")
    keys = workloads[a.workload].get("keys", [])
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(target, exist_ok=True)
    # one run at a time per build directory: runs share its work space
    lock = open(os.path.join(target, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    stamp = digest(source_files(root), root)
    spark_jars = spark_jars_dir()
    jar = harness_jar(build(root, target, stamp, spark_jars), target, stamp)
    for f in os.listdir(target):  # artifacts of earlier builds
        if f.startswith(("harness-", "classes-", "hashcheck_")) and stamp not in f:
            os.remove(os.path.join(target, f))

    work = os.path.join(target, "work")
    for d in ("tmp", "spark-local", "warehouse", "kiara", "check"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(target, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    keys_file = os.path.join(work, f"keys_{a.workload}.txt")
    with open(keys_file, "w") as f:
        f.write("".join(k + "\n" for k in keys))
    expect_file = os.path.join(work, "expected_rows.tsv")
    with open(expect_file, "w") as f:
        for k, v in sorted(json.load(open(os.path.join(root, EXPECTED))).items()):
            f.write(f"{k}\t{v['rows']}\n")
    # the canonical-hash check depends only on the sources: run it on the
    # first run of each workload after a build, and keep its verdict
    with open(os.path.join(root, EXPECTED), "rb") as f:
        keys_id = hashlib.sha256("\n".join(keys).encode() + f.read()).hexdigest()[:8]
    verdict_file = os.path.join(target, f"hashcheck_{a.workload}_{stamp}_{keys_id}.json")
    check_dir = os.path.join(work, "check") if keys and not os.path.exists(verdict_file) else None

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    out_json = os.path.join(results, tag + ".json")
    if os.path.exists(out_json):
        os.remove(out_json)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # JVM start-up (class loading) is most of a run's fixed cost: the first
    # run after a build records a class-data sharing archive, later runs map it
    cds = os.path.join(target, f"classes-{stamp}.jsa")
    cmd.append(f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
               else f"-XX:ArchiveClassesAtExit={cds}")
    jars = sorted(os.path.join(spark_jars, j) for j in os.listdir(spark_jars) if j.endswith(".jar"))
    cmd += ["-cp", os.pathsep.join([jar] + jars), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", work, "--keys", keys_file,
            "--expect", expect_file, "--out", out_json, "--cpus", str(cpus)]
    if check_dir:
        cmd += ["--check-dir", check_dir]
    log = os.path.join(results, tag + ".log")
    t0 = time.time()
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=root, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s (log: {log})", 4)
    if rc != 0 or not os.path.exists(out_json):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"benchmark JVM failed with code {rc} (log: {log})", 4)
    res = json.load(open(out_json))

    failures = [(f["op"], f["error"]) for f in res["failures"]]
    bad = hash_check(root, check_dir, keys) if check_dir else []
    if check_dir and not bad:
        with open(verdict_file, "w") as f:
            json.dump(bad, f)
    failures += bad

    names = bench["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in names:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            die(f"metric {m['name']} missing from the harness result")
        if got["unit"] != m["unit"]:
            die(f"metric {m['name']} has unit {got['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "nproc": res["nproc"], "heap_max_mb": res["heap_max_mb"],
        "git_commit": commit_id(root, stamp), "keys": res["keys"],
        "host_steal_s": res["metrics"]["host.steal_s"]["value"],
        "wall_s": round(time.time() - t0, 3), "attempted": res["attempted"],
        "failures": failures, "metrics": res["metrics"], "ops": res["ops"],
    }
    detail = os.path.join(results, tag + ".detail.json")
    with open(detail, "w") as f:
        json.dump(record, f, indent=1)
    for op, err in failures:
        print(f"FAILED {op}: {err}")
    print(f"record: workload={a.workload} seed={a.seed} nproc={res['nproc']} "
          f"heap_max_mb={res['heap_max_mb']:.0f} commit={record['git_commit']} "
          f"keys={len(res['keys'])} host.steal_s={record['host_steal_s']:.2f} detail={detail}")
    print(final_line(not failures, res["attempted"], len(failures), metrics))


def final_line(correct, attempted, failed, metrics):
    """The result contract: one bare JSON object, the last line of stdout."""
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics}, separators=(",", ":"))


if __name__ == "__main__":
    main()
