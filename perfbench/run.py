#!/usr/bin/env python3
"""Replication benchmark: one command per workload run.

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. When the program's or the benchmark's
sources changed, it builds both with the benchmark's own sbt build
(perfbench/build.sbt, offline) and records a class-data archive from a
tiny run of every workload. Then it generates the inputs from the seed,
drives the program through its public Scala API in one JVM
(perfbench.Main), checks every output with DuckDB (check.py), and prints
one JSON line: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. It exits non-zero if any check fails. See perfbench/README.md.
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
sys.path.insert(0, HERE)

RUN_DEADLINE_S = 170      # a run must end within 180 s once built
BUILD_DEADLINE_S = 350    # per build step; a first run, with both, ends in 900 s
HEAP = "3g"               # leaves room for sbt and DuckDB on a 15 GB host
CORES = min(4, len(os.sched_getaffinity(0)))
WORKLOADS = ("replicate", "curate_ops")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def plan_for(workload, seconds, tiny=False):
    """Input sizes and operation counts. They depend on --seconds alone,
    so every run of a workload attempts the same operations. On a 4-core
    host one replicate round takes about 30 s and one pass of the four
    curation queries about 8 s; a run makes as many whole rounds or
    passes as fit in --seconds, and at least one. `tiny` is the
    class-data training run."""
    if workload == "replicate":
        # `warm` is the orders input of set-up; set-up also drains one
        # slot segment for each of `setup_events` (the sink's schema
        # migration, then a per-bucket swap) before the timed rounds
        warm = dict(snapshot_rows=2_000, change_files=1, change_rows=200)
        if tiny:
            main = dict(warm, cdc_snapshot_rows=1_000,
                        setup_events=[100, 32], segments=2,
                        segment_events=100, trickle_segments=1,
                        trickle_events=32, rounds=1)
        else:
            main = dict(snapshot_rows=50_000, change_files=2,
                        change_rows=2_500, cdc_snapshot_rows=10_000,
                        setup_events=[200, 32], segments=4,
                        segment_events=1_250, trickle_segments=2,
                        trickle_events=32, rounds=max(1, seconds // 30))
        return dict(main=main, warm=warm)
    if workload == "curate_ops":
        return dict(main=dict(documents=200 if tiny else 400),
                    passes=1 if tiny else max(1, seconds // 8))
    raise SystemExit(f"unknown workload {workload!r}")


def prepare(workload, plan, seed, work, inputs):
    """Generate a workload's inputs under `inputs`; returns its params."""
    import gen
    params = {"workload": workload, "work": work}
    for i, (name, sizes) in enumerate(
            (k, v) for k, v in plan.items() if isinstance(v, dict)):
        d = os.path.join(inputs, name)
        params[name] = d
        params[f"{name}_sizes"] = sizes
        params[f"{name}_facts"] = gen.generate(workload, sizes,
                                               seed * 100 + i, d)
    params.update({k: v for k, v in plan.items() if not isinstance(v, dict)})
    return params


def run_bounded(cmd, cwd, out, deadline, env=None):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=deadline)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_program(classpath, params, archive_flag, deadline=RUN_DEADLINE_S):
    """Run perfbench.Main on `params`; returns its result document."""
    work = params["work"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    params.update(cores=CORES, out=os.path.join(work, "result.json"))
    path = os.path.join(work, "params.json")
    with open(path, "w") as f:
        json.dump(params, f)
    # a fixed set of JIT-compiler threads, so that none ends and takes its
    # CPU count with it (the traced run splits CPU time by thread kind)
    java = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-XX:-UseDynamicNumberOfCompilerThreads", archive_flag]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "perfbench.Main", path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = run_bounded(java, ROOT, out, deadline)
        except subprocess.TimeoutExpired:
            rc = None
    with open(log) as f:
        lines = [ln for ln in f if "][cds]" not in ln]
    sys.stderr.write("".join(ln for ln in lines
                             if ln.startswith("[perfbench]")))
    if rc is None:
        raise SystemExit(f"program did not finish within {deadline} s")
    if rc != 0:
        sys.stderr.write("".join(lines[-40:]))
        raise SystemExit(f"program failed (rc={rc})")
    with open(params["out"]) as f:
        return json.load(f)


def source_hash():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(tree):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile and package the program with the benchmark's Scala side,
    then record a class-data archive (JDK AppCDS) from a tiny run of every
    workload: loading Spark's classes from it rather than from jars
    shortens every later JVM start. Returns (classpath, archive flag)."""
    stamp = os.path.join(BUILD, "stamp.json")
    archive = os.path.join(BUILD, "classes.jsa")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["hash"] == digest and os.path.exists(archive):
            return s["classpath"], f"-XX:SharedArchiveFile={archive}"
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export Runtime/fullClasspathAsJars"],
                         HERE, out, BUILD_DEADLINE_S, env)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = [ln for ln in lines
          if not ln.startswith("[") and "scala-library" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("".join(ln + "\n" for ln in lines[-30:]))
        raise SystemExit(f"build failed (rc={rc}); see {log}")
    classpath = cp[-1]

    work = os.path.join(BUILD, "train")
    runs = [dict(prepare(w, plan_for(w, 1, tiny=True), 0, work,
                         os.path.join(work, "in", w)), trace=True)
            for w in WORKLOADS]
    run_program(classpath, {"workload": "train", "trace": True,
                            "work": work, "runs": runs},
                f"-XX:ArchiveClassesAtExit={archive}", BUILD_DEADLINE_S)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    return classpath, f"-XX:SharedArchiveFile={archive}"


UNITS = {
    "rows_per_s": "rows/s", "cpu_s_per_op": "s",
    "replicate.snapshot_rows_per_s": "rows/s",
    "replicate.incremental_rows_per_s": "rows/s",
    "replicate.cdc_events_per_s": "events/s",
    "replicate.bytes_written_per_change": "B/row",
    "replicate.trickle_bytes_written_per_event": "B/event",
    "sink.rewrite_ratio": "ratio", "spark.peak_exec_mem_mb": "MB",
}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_bytes", "bytes_read", "bytes_written")):
        return "B"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"program sources not found under {ROOT}/src")
    classpath, archive_flag = build()

    import check
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        params = prepare(a.workload, plan_for(a.workload, a.seconds),
                         a.seed, work, os.path.join(work, "in"))
        params["trace"] = bool(a.trace)
        res = run_program(classpath, params, archive_flag)
        outs = res["outputs"]
        t0 = time.monotonic()
        if a.workload == "replicate":
            errs = check.check_replicate(params["main"],
                                         params["main_facts"],
                                         outs["rounds"], outs["cdc"])
        else:
            errs = check.check_curate(params["main"], outs["results"],
                                      outs["oracle_sql"])
        sys.stderr.write(f"[perfbench] checks took "
                         f"{time.monotonic() - t0:.1f} s\n")
        for e in errs:
            sys.stderr.write(f"CHECK FAILED: {e}\n")
        print(json.dumps({
            "correct": not errs, "attempted": res["attempted"], "failed": 0,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in res["metrics"].items()}}))
        sys.exit(1 if errs else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
