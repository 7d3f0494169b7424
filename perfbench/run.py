"""The repository benchmark.

  python3 perfbench/run.py --workload <classify|suite> --seed <n>
                           --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (see
build.py), generates the workload's inputs from the seed (gen.py), runs
the workload in one JVM (local[nproc], one client thread), checks its
outputs and prints, as the last line of standard
output, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The line before it is a record of the run: host, inputs
(row, byte and file counts and a digest), sample counts and checks.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("classify", "suite")
IMAGES, TRAIN_IMAGES = 600, 300
# Each run must end within 180 s; the JVM gets what is left after the
# build, minus a margin for the checks that follow it.
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# A fixed heap: with a growing one, heap resizing and the GC work it
# brings moved whole runs by 20-40%.
HEAP = ["-Xms3g", "-Xmx3g"]


def digest_inputs(root):
    """File count, byte count and a digest of every generated input file
    (relative path and contents)."""
    h, files, nbytes = hashlib.sha256(), 0, 0
    for d, dirs, fs in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            data = open(p, "rb").read()
            h.update(os.path.relpath(p, root).encode() + b"\0" + data)
            files, nbytes = files + 1, nbytes + len(data)
    return {"files": files, "bytes": nbytes, "sha256": h.hexdigest()[:16]}


def cpu_ticks():
    """(steal, total) CPU ticks of the host since boot, or None."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t[:8])
    except (OSError, ValueError, IndexError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    try:
        classes, jars = build.build(".")
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    t_built = time.time()

    # Relative paths: the manifest names its images relative to the
    # checkout root, the JVM's working directory, so inputs and their
    # digest are the same in every checkout.
    work = os.path.join(build.OUT, "work", a.workload)
    inputs = os.path.join(work, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(inputs)
    t0 = time.time()
    if a.workload == "classify":
        rows = gen.images(inputs, a.seed, IMAGES, TRAIN_IMAGES)
    else:
        rows = gen.tables(inputs, a.seed)
    gen_s = time.time() - t0
    input_record = dict(digest_inputs(inputs), rows=rows, gen_s=round(gen_s, 3))
    cmd = (["java", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + HEAP + ["-Xss8m", "-Dspark.ui.enabled=false",
                     f"-Djava.io.tmpdir={os.path.abspath(work)}/tmp",
                     "-cp", f"{os.path.abspath(classes)}:{os.path.join(jars, '*')}",
                     "perfbench.Harness", a.workload, str(a.seed), str(a.seconds),
                     str(a.trace), inputs, work])
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: point it into the
    # checkout too.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(work, "spark-local")))
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
        try:
            rc = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - t_built), 30))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if rc is None:
            sys.exit("[perfbench] harness overran its time limit")
        if rc != 0:
            sys.exit(f"[perfbench] harness exited {rc}")
        raw = json.load(open(os.path.join(work, "raw.json")))
        rec = raw["record"]
        checks = {}
        if a.workload == "suite":
            verdict = oracle.check(rec["tables_dir"], rec["check_dir"], rec["oracle"])
            checks["oracle"] = {q: v or "ok" for q, v in verdict.items()}
            for o in raw["ops"]:
                if verdict.get(o["label"]):
                    o["ok"], o["error"] = False, "oracle mismatch"
        if a.workload == "classify" and a.trace:
            checks["sentinels_equal_planted"] = all(
                s == rec["planted_bad"] for s in rec["sentinels"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    e2e, samples = metrics.end_to_end(raw)
    chosen = metrics.per_layer(raw) if a.trace else e2e
    correct = failed == 0 and attempted > 0 and all(
        v is True or v == "ok" for c in checks.values()
        for v in (c.values() if isinstance(c, dict) else [c]))
    cores = os.cpu_count()
    load_end = os.getloadavg()[0]
    ticks_end = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run
    steal = (None if not (ticks_start and ticks_end) or ticks_end[1] == ticks_start[1]
             else (ticks_end[0] - ticks_start[0]) / (ticks_end[1] - ticks_start[1]))
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": {"nproc": cores, "jvm_cores": raw["cores"],
                 "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                 "heap_flag": raw["heap_flag"], "load1_start": load_start,
                 "load1_end": load_end, "steal_share": steal,
                 # quiet: under nproc before the run, and under the run's own
                 # nproc busy threads plus nproc at its end
                 "load_quiet": load_start < cores and load_end < 2 * cores},
        "inputs": input_record,
        "samples": samples, "ops_failed_share": failed / attempted if attempted else 1.0,
        "errors": sorted({o["error"] for o in ops if o["error"]})[:5],
        "checks": checks, "end_to_end": {k: v[0] for k, v in e2e.items()},
        "build_s": round(t_built - t_start, 3), "run_s": round(time.time() - t_start, 3),
    }
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
