#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one fixed window.

    python3 perfbench/run.py --workload dashboard_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Everything the benchmark writes goes under
`.bench_build/` in the checkout.

stdout: a `{"meta": ...}` line with the run's metadata, with --trace 1 a
`{"trace": ...}` line with self times, runEtl stages by call site and the
tracing overhead, and last the result line
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
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
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 540
ARCHIVE = os.path.join(OUT, "classes.jsa")
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the program's own build.sbt.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's sources and build, and
    the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))
                      or "resources" in d]
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm_flags(work):
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        # a run lives about a minute on a few cores: C2 compiler threads
        # would take those cores from Spark's task threads for most of it
        "-XX:TieredStopAtLevel=1",
        f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
    ]


def run_jvm(cp, work, args, log_path, extra=()):
    """Run perfbench.Main in `work`; return its exit code."""
    os.makedirs(work, exist_ok=True)
    cmd = [java_bin()] + jvm_flags(work) + list(extra) + \
        ["-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s; see {log_path}", 4)


def as_jars(cp):
    """The classpath with each class directory packed into a jar under
    .bench_build/jars: the class-data archive only takes classes from
    jars."""
    jars = os.path.join(OUT, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if not os.path.isdir(entry):
            out.append(entry)
            continue
        jar = os.path.join(jars, f"classes-{i}.jar")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, dirs, names in os.walk(entry):
                dirs.sort()
                rel = os.path.relpath(d, entry)
                if rel != ".":
                    z.write(d, rel + "/")
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.normpath(os.path.join(rel, n)))
        out.append(jar)
    return os.pathsep.join(out)


def build(stamp):
    """Compile with sbt unless this source tree is already built; return
    the runtime classpath. A build ends with one short training run that
    writes the class-data archive (ARCHIVE) every measured run maps, so
    loading Spark's classes is not re-paid in each run's set-up."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in sbt_opts:
        env["SBT_OPTS"] = (sbt_opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
           f"-Dsbt.global.base={OUT}/sbt-global", f"-Dsbt.ivy.home={OUT}/ivy",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "export perfbench/Runtime/fullClasspath"]
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}", 3)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or "classes" not in cp:
        fail(f"build failed (exit {p.returncode}); see {log_path}", 3)
    cp = as_jars(cp)

    train = os.path.join(OUT, "train")
    shutil.rmtree(train, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.chmod(ARCHIVE, 0o644)
        os.remove(ARCHIVE)
    train_log = os.path.join(OUT, "train.log")
    # a window of one round loads every class a run uses
    code = run_jvm(cp, train, ["--workload", "dashboard_interactive", "--seed", "0",
                               "--seconds", "1", "--trace", "0",
                               "--work", train, "--out", os.path.join(train, "result.json")],
                   train_log, [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=error"])
    shutil.rmtree(train, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail(f"training run failed (exit {code}); see {train_log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def other_java():
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                n += fh.read().strip() == "java"
        except OSError:
            pass
    return n


def git_commit():
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def overhead(meta, traced_e2e, results_dir):
    """Traced end-to-end figures against the median of this checkout's
    untraced runs of the same workload, sources and settings."""
    same = ("workload", "source_hash", "scale", "seconds")
    base = {}
    for name in os.listdir(results_dir):
        with open(os.path.join(results_dir, name)) as fh:
            r = json.load(fh)
        if r["meta"]["trace"] or any(r["meta"][k] != meta[k] for k in same):
            continue
        for k, m in r["result"]["metrics"].items():
            base.setdefault(k, []).append(m["value"])
    if not base:
        return {"note": "no untraced run of this workload in this checkout yet"}
    out = {"untraced_runs": max(len(v) for v in base.values())}
    for k, v in traced_e2e.items():
        if k in base and v is not None and statistics.median(base[k]):
            out[k] = round(v / statistics.median(base[k]) - 1, 4)
    return out


def declared():
    """Workload names and metric units, as BENCHMARK.json declares them."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    return ([w["name"] for w in b["workloads"]],
            {0: {m["name"]: m["unit"] for m in b["end_to_end"]},
             1: {m["name"]: m["unit"] for m in b["per_layer"]}})


def with_units(values, units):
    """The declared metrics, each with its unit; a missing or non-numeric
    value is a defect of the benchmark, not a result."""
    out = {}
    for name, unit in units.items():
        v = values.get(name)
        if not isinstance(v, (int, float)):
            fail(f"metric {name} has no value ({v!r})", 6)
        out[name] = {"value": v, "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    workloads, units = declared()
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(workloads)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not "
             "beside perfbench/; run from a full checkout")

    meta = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": loadavg(), "other_java_start": other_java(),
        "git_commit": git_commit(),
    }
    stamp = source_hash()
    meta["source_hash"] = stamp
    cp = build(stamp)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    work = os.path.join(OUT, "work", tag)
    results = os.path.join(OUT, "results")
    traces = os.path.join(OUT, "traces")
    for d in (work, results, traces, os.path.join(OUT, "logs")):
        os.makedirs(d, exist_ok=True)
    out_json = os.path.join(work, "result.json")
    trace_json = os.path.join(traces, tag + ".json")

    extra = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    meta["jvm_flags"] = [f for f in jvm_flags(work) + extra
                         if not f.startswith("--add-opens")]
    log_path = os.path.join(OUT, "logs", tag + ".log")
    try:
        code = run_jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--work", work, "--out", out_json,
                                  "--trace-out", trace_json], log_path, extra)
        if code != 0 or not os.path.exists(out_json):
            fail(f"run failed (exit {code}); see {log_path}", 5)
        with open(out_json) as fh:
            full = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    meta["loadavg_end"] = loadavg()
    meta["other_java_end"] = other_java()
    meta.update({k: full["detail"][k] for k in
                 ("spark_version", "scale", "cores", "clients", "tidy_rows",
                  "clean_rows", "workbook_bytes", "gen_s", "gen_wait_s",
                  "publish_s", "window_s", "refreshes", "interactions",
                  "new_version_reads", "error_rate")})
    full["meta"] = meta
    full["result"]["metrics"] = with_units(full["result"]["metrics"],
                                           units[a.trace])
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump(full, fh)

    print(json.dumps({"meta": meta}))
    if a.trace:
        d = full["detail"]
        print(json.dumps({"trace": {
            "file": os.path.relpath(trace_json, ROOT),
            "overhead_vs_untraced": overhead(meta, d["end_to_end"], results),
            "self_times": d["self_times"],
            "run_etl_by_call_site": d["run_etl_by_call_site"],
        }}))
    print(json.dumps(full["result"]))


if __name__ == "__main__":
    main()
