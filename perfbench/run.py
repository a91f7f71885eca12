#!/usr/bin/env python3
"""The graft benchmark's one command.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. On first use it builds the program and
the benchmark from source with sbt (perfbench/build.sbt) and records the
JVM launch line under .bench_build/; later runs rebuild only when a source
or build file changed. Each workload run is one JVM: a Spark session shaped
like Tier-1 (local[nproc], SPARK_GRAFT_CPUS=nproc), one closed-loop client.
Inputs, Spark scratch space and traces stay under .bench_run/ in the
checkout; a run's own directory is deleted when it ends.

Standard output: human-readable `metric` lines, then, as the last line, one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones. A run that cannot build or complete exits non-zero without
printing that object.
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

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_DIR = os.path.join(ROOT, ".bench_run")
LAUNCH = os.path.join(HERE, "target", "bench-launch.txt")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
WORKLOADS = ["catalog_profile", "query_tail", "pipeline_cold"]
# catalog scale factor of each workload's generated input
SCALE = {"catalog_profile": 0.1, "query_tail": 0.01, "pipeline_cold": 0.01}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "-Xmx4g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources next to perfbench/ (build.sbt, src/main/scala): run from a full checkout")
        sys.exit(2)
    want = stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == want:
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and benchmark with sbt")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    "writeLaunch"], cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.isfile(LAUNCH):
        log(f"build failed (exit {rc})")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(want)
    log(f"built in {time.time() - t0:.1f} s")


def run_child(cmd, cwd, env, timeout, stdout):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def nproc():
    return len(os.sched_getaffinity(0))


def box_load():
    """(1-min loadavg, median runnable tasks other than this one over 0.5 s).
    Back-to-back runs leave their own load in the 1-min average, so a run
    counts as started contaminated when other work is runnable right now."""
    runnable = []
    for _ in range(5):
        with open("/proc/loadavg") as fh:
            runnable.append(int(fh.read().split()[3].split("/")[0]) - 1)
        time.sleep(0.1)
    return os.getloadavg()[0], sorted(runnable)[2]


def launch_java(main_args, work_dir):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java"] + opts + [HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                              f"-Dderby.system.home={os.path.join(work_dir, 'derby')}",
                              "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8",
                              "-cp", cp, "graft.perfbench.Main"] + main_args)
    out_path = os.path.join(work_dir, "stdout.txt")
    with open(out_path, "w") as out:
        try:
            rc = run_child(cmd, cwd=ROOT, env=env, timeout=RUN_TIMEOUT_S, stdout=out)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
            rc = -1
    with open(out_path, encoding="utf-8") as fh:
        return rc, fh.read().splitlines()


def parse_result(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def run_workload(workload, seed, seconds, trace):
    os.makedirs(RUN_DIR, exist_ok=True)
    work_dir = os.path.join(RUN_DIR, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    load, runnable = box_load()
    contaminated = runnable > nproc() / 2
    t0 = time.time()
    try:
        gen.generate(os.path.join(work_dir, "catalog"), SCALE[workload], seed,
                     with_derived=workload == "catalog_profile")
        gen_s = time.time() - t0
        rc, lines = launch_java(
            ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(trace), "--work-dir", work_dir,
             "--fixture-dir", os.path.join(HERE, "fixtures", "sf0.001"),
             "--golden-dir", os.path.join(ROOT, "src", "test", "resources")], work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    result = parse_result(lines) if rc == 0 else None
    lines.insert(0, f"box nproc={nproc()} loadavg_1m={load:.2f} runnable_others={runnable} "
                    f"start_contaminated={str(contaminated).lower()}")
    lines.insert(1, f"input sf={SCALE[workload]} generate_s={gen_s:.3f}")
    with open(os.path.join(RUN_DIR, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"time": t0, "workload": workload, "seed": seed, "seconds": seconds,
                             "trace": trace, "nproc": nproc(), "loadavg_launch": load,
                             "runnable_others": runnable, "start_contaminated": contaminated, "exit": rc,
                             "wall_s": time.time() - t0, "result": result}) + "\n")
    return rc, lines, result


def selftest():
    """The benchmark's own checks: the generator is deterministic for a seed
    and varies with it; the JVM half checks schemas and query samples; the
    printed workloads, metric names and units match BENCHMARK.json."""
    ensure_built()
    os.makedirs(RUN_DIR, exist_ok=True)
    work_dir = os.path.join(RUN_DIR, f"selftest-{os.getpid()}")
    problems = []
    try:
        for i, seed in enumerate([11, 11, 12]):
            gen.generate(os.path.join(work_dir, f"gen{i}"), 0.002, seed, with_derived=True)
        def files(d):
            out = {}
            for dirpath, _, names in os.walk(d):
                for n in names:
                    with open(os.path.join(dirpath, n), "rb") as fh:
                        out[os.path.relpath(os.path.join(dirpath, n), d)] = hashlib.sha256(fh.read()).hexdigest()
            return out
        g0, g1, g2 = (files(os.path.join(work_dir, f"gen{i}")) for i in range(3))
        if g0 != g1:
            problems.append("the same seed generated different files")
        if any(g0[f] == g2[f] for f in g0 if not f.startswith(("region", "nation"))):
            problems.append("another seed generated an identical table")
        os.rename(os.path.join(work_dir, "gen0"), os.path.join(work_dir, "catalog"))
        rc, lines = launch_java(["--workload", "selftest", "--seed", "11", "--seconds", "0",
                                 "--trace", "0", "--work-dir", work_dir,
                                 "--fixture-dir", os.path.join(HERE, "fixtures", "sf0.001"),
                                 "--golden-dir", os.path.join(ROOT, "src", "test", "resources")],
                                work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    for line in lines:
        print(line)
    if rc != 0:
        problems.append("JVM checks failed")
    else:
        declared = json.loads(lines[-1])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        for key in ("end_to_end", "per_layer"):
            want = [[m["name"], m["unit"]] for m in bench[key]]
            if want != declared[key]:
                problems.append(f"{key}: BENCHMARK.json has {want}, the benchmark prints {declared[key]}")
        missing = [w["name"] for w in bench["workloads"] if w["name"] not in declared["workloads"]]
        if missing:
            problems.append(f"BENCHMARK.json names workloads the benchmark lacks: {missing}")
    for p in problems:
        log("selftest: " + p)
    print("selftest " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        ap.error("--workload is required")
    ensure_built()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        rc, lines, result = run_workload(w, a.seed, a.seconds, a.trace)
        body = lines[:-1] if result else lines
        for line in body:
            print(line if len(names) == 1 else f"{w}: {line}")
        if result is None:
            log(f"{w}: no result (exit {rc})")
            sys.exit(1)
        if len(names) == 1:
            print(json.dumps(result))
            return
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        combined["metrics"].update({f"{w}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(combined))


if __name__ == "__main__":
    main()
