"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline); later runs reuse that build while
the sources are unchanged. The registry workload's tables are generated
once by gen_tables.py. The JVM side (harness/, perfbench.Main) runs the
workload and checks every output; this script records host noise around
it and prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics with --trace 1). The line before
it is the run's host-noise record. Every run's full record is also kept
under perfbench/.runs/. Exit status: 0 when every check passed, 1 when a
check failed or the run did not finish, 2 on bad usage or a missing tree.

--workload all runs every workload in turn and prints each metric by
workload, name and unit. --record retakes the registry fingerprints into
perfbench/registry.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RUNS = os.path.join(HERE, ".runs")
DATA = os.path.join(HERE, ".data")
# A run must end within 180 s of its start, unless it builds first.
JVM_TIMEOUT_S = 165

# The JVM flags the repository's build gives its forked runs, with a heap
# sized for one workload at sf0.1 on a small host.
JVM_OPTS = [
    *[a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Duser.timezone=UTC",
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
    "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UseCodeCacheFlushing",
]


# Per-layer metrics a workload must produce; the rest read 0 when the
# workload does not enter that layer (see README.md).
EVERY_WORKLOAD = (
    "plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "exec.action_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.scan_bytes",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "codegen.compile_n", "codegen.compile_ms", "jvm.jit_ms", "jvm.gc_ms",
    "jvm.cpu_s", "jvm.live_heap_mb", "trace.spans", "trace.overhead_pct",
    "tail.p90_ms")
REQUIRED_LAYERS = {
    "serve_intervalo": EVERY_WORKLOAD + (
        "interval.serve_p50_ms", "interval.rows_per_req", "interval.jobs_per_req",
        "interval.scan_bytes_per_req", "api.c1_p50_ms", "api.http_ms", "api.queue_ms",
        "api.p99_ms", "api.resp_bytes_p50", "ingest.batch_rows_per_s",
        "ingest.rows_valid", "ingest.rows_bad",
        # the write path, measured in the same traced run
        "fresh.p50_ms", "rawzone.write_ms", "ingest.drain_ms", "stream.addBatch_ms",
        "stream.latestOffset_ms", "stream.walCommit_ms", "stream.queryPlanning_ms",
        "fresh.read_p50_ms", "fresh.read_p90_ms", "ingest.dest_files"),
    "registry": EVERY_WORKLOAD + ("entry.build_ms", "entry.build_jobs"),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)]
    return files


def classpath():
    """Compile the program and the harness unless an up-to-date build exists."""
    stamp = digest(sources())
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "compile", "export harness/Runtime/fullClasspath"],
                          cwd=HARNESS, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"sbt build failed with exit code {proc.returncode}")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return cp


def registry_tables():
    """The registry tables, generated once per version of gen_tables.py."""
    gen = os.path.join(HERE, "gen_tables.py")
    out = os.path.join(DATA, digest([gen])[:16])
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(DATA, ignore_errors=True)
        log("generating registry tables")
        subprocess.run([sys.executable, gen, out], check=True, timeout=300)
        open(os.path.join(out, "_done"), "w").close()
    return out


def host_sample():
    """Host-wide counters: load average, pressure stall totals ("some", us)
    for cpu, memory and io, and cpu ticks stolen by the hypervisor."""
    s = {"t": time.time()}
    with open("/proc/loadavg") as f:
        s["load1"], s["load5"], s["load15"] = (float(x) for x in f.read().split()[:3])
    for kind in ("cpu", "memory", "io"):
        try:
            with open(f"/proc/pressure/{kind}") as f:
                some = f.readline().split()
            s[f"psi_{kind}_some_us"] = int(dict(kv.split("=") for kv in some[1:])["total"])
        except (OSError, KeyError, ValueError):
            s[f"psi_{kind}_some_us"] = None
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    s["cpu_ticks"], s["steal_ticks"] = sum(ticks), ticks[7] if len(ticks) > 7 else 0
    return s


def host_noise(a, b):
    """The noise record of one run. `loaded` marks a run another tenant
    disturbed: 3 % or more of cpu time stolen by the hypervisor (runs at
    3-5 % steal measured up to 30 % slower per operation than runs under
    2 %), or tasks waiting for cpu over half the wall time (the run's own
    threads stay near a fifth on an otherwise idle host)."""
    nproc = os.cpu_count()
    wall = b["t"] - a["t"]
    ticks = max(b["cpu_ticks"] - a["cpu_ticks"], 1)
    steal = (b["steal_ticks"] - a["steal_ticks"]) / ticks
    psi = {}
    for kind in ("cpu", "memory", "io"):
        k = f"psi_{kind}_some_us"
        psi[kind] = None if a[k] is None or b[k] is None else (b[k] - a[k]) / 1e6 / max(wall, 1e-9)
    return {
        "nproc": nproc, "wall_s": round(wall, 3),
        "load1_before": a["load1"], "load1_after": b["load1"], "load5_after": b["load5"],
        "psi_cpu_some_share": psi["cpu"], "psi_memory_some_share": psi["memory"],
        "psi_io_some_share": psi["io"], "steal_share": steal,
        "loaded": steal >= 0.03 or (psi["cpu"] is not None and psi["cpu"] > 0.5),
    }


def fail(code, msg):
    log(msg)
    sys.exit(code)


def run_all(names, args):
    """Run every workload in turn and print each metric by workload, name
    and unit; the last line is one JSON object over all of them. Exits
    non-zero if any workload failed a check."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", name,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 1,
                                                  "failed": 1, "metrics": {}}
        for metric, v in res["metrics"].items():
            print(f"{name:16} {metric:28} {v['value']:>14.6g} {v['unit']}")
            total["metrics"][f"{name}.{metric}"] = v
        total["correct"] = total["correct"] and res["correct"] and proc.returncode == 0
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
    print(json.dumps(total))
    sys.exit(0 if total["correct"] else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        run_all(names, args)
    if args.workload not in names:
        fail(2, f"unknown workload {args.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, "run from the root of a checkout of the repository: its sources are missing")

    t_start = time.time()
    cp = classpath()
    data = registry_tables() if args.workload == "registry" else "."

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    out = os.path.join(WORK, "result.json")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={WORK}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", WORK, "--out", out, "--data", data,
           "--registry", os.path.join(HERE, "registry.json")]
    if args.record:
        cmd.append("--record")
    before = host_sample()
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
        log("run timed out")
    noise = host_noise(before, host_sample())

    res = {}
    if os.path.exists(out):
        with open(out) as f:
            res = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.get("layers" if args.trace else "e2e", {})
    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if v is None and args.trace and m["name"] not in REQUIRED_LAYERS[args.workload]:
            v = 0  # a layer this workload does not enter
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted = max(res.get("attempted", 0), 1)
    failed = res.get("failed", attempted)
    if code != 0 or missing:
        failed = max(failed, 1)
    correct = failed == 0
    for e in res.get("errors", []):
        log(f"check failed: {e}")
    if missing:
        log(f"metrics missing: {missing}")

    os.makedirs(RUNS, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "exit": code, "host": noise, "jvm": res}
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start)}.json"
    with open(os.path.join(RUNS, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"host": noise}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
