#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload, one client thread.

    python3 perfbench/run.py --workload rides|lake --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness from
source (cached under .bench_build), generates the seed's inputs, runs the
workload on local[nproc], checks every output and prints one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. A
fuller report (host record, sample counts, per-check detail) is written to
.bench_build/runs/<workload>-<seed>-trace<T>/report.json.
See perfbench/README.md for the metrics and workloads.
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
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("rides", "lake")
# Nominal seconds per pass over the rides lanes (about 9 s at sf0.05 on a
# 4-vCPU host): --seconds buys round(seconds / pass) whole passes, so a
# run's work is fixed by its flags and not by the speed of the code under
# test.
RIDES_PASS_S = 10.0
# Lake: operations per requested second on the same host, and one special
# operation (MERGE, DELETE, MV refresh, drain epoch, read) every LAKE_EVERY.
LAKE_OPS_PER_S = 4.5
LAKE_EVERY = 5
JVM_HEAP = "3g"
# A run ends within this many seconds of its build. The harness gets what
# is left after generation, less what the output checks need.
DEADLINE_S = 175
CHECK_RESERVE_S = {"rides": 20, "lake": 5}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load1():
    return os.getloadavg()[0]


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, for the host's steal share."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src",
            "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness with sbt (offline) and cache the runtime
    classpath; reuse it while the sources are unchanged."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state stays inside the checkout too
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={out}/sbt-global",
            f"-Dsbt.boot.directory={out}/sbt-boot"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(out, "build.log"), "w") as blog:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdout=subprocess.PIPE, stderr=blog, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp, stamp


def git_sha(root):
    """The checkout's commit, when it is a git work tree (the source hash
    identifies the tree either way)."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, cwd=root, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def file_digest(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def generate(workload, seed, run_dir, lake_ops, tiny):
    """Generate the inputs three times: the median time is the generator's
    set-up cost, and the copies must be byte-identical."""
    times, digests = [], []
    for k in range(3):
        d = os.path.join(run_dir, f"input{k}")
        shutil.rmtree(d, ignore_errors=True)
        t = time.perf_counter()
        gen.main(workload, seed, d, lake_ops, LAKE_EVERY, tiny)
        times.append(time.perf_counter() - t)
        digests.append(file_digest(d))
    return os.path.join(run_dir, "input0"), metrics.med(times), \
        all(x == digests[0] for x in digests)


def dir_stats(path):
    """Bytes under a table root, and its version-log, data and
    deletion-vector file counts (checksum sidecars aside)."""
    st = {"bytes": 0, "log_files": 0, "snapshot_bytes": 0, "data_files": 0,
          "dv_files": 0}
    for d, _, fs in os.walk(path):
        top = os.path.relpath(d, path).split(os.sep)[0]
        for f in fs:
            size = os.path.getsize(os.path.join(d, f))
            st["bytes"] += size
            if f.endswith(".crc"):
                continue
            if top == "_graft_log":
                st["log_files"] += 1
                st["snapshot_bytes"] += size
            elif top == "_graft_deletes":
                st["dv_files"] += 1
            elif top == "." and f.endswith(".parquet"):
                st["data_files"] += 1
    return st


def timed_out(run_dir, limit_s):
    """Reports how far a harness cut at its time limit got: the ops it
    finished are in report.json and summed up on stderr."""
    path = os.path.join(run_dir, "result.json.ops.jsonl")
    ops = []
    if os.path.exists(path):
        with open(path) as f:
            ops = [json.loads(l) for l in f if l.strip()]
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({"timed_out_after_s": limit_s, "partial_ops": ops}, f, indent=1)
    fail(f"harness timed out after {limit_s:.0f} s, {len(ops)} ops finished, "
         f"op p50 {metrics.med(metrics.op_ms(ops)):.1f} ms; "
         f"see {run_dir}/report.json")


def run_harness(cp, w, seed, trace, cores, run_dir, input_dir, passes, lake_ops,
                limit_s):
    """Run the JVM harness; returns its result and the launch time."""
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", w, "--input", input_dir,
              "--work", run_dir, "--out", result, "--passes", str(passes),
              "--lake-ops", str(lake_ops), "--trace", str(trace),
              "--cpus", str(cores), "--seed", str(seed)])
    launch_ms = time.time() * 1000
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        try:
            p = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                               timeout=limit_s)
        except subprocess.TimeoutExpired:
            timed_out(run_dir, limit_s)
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"harness exited {p.returncode}; see {run_dir}/jvm.log")
    with open(result) as f:
        return json.load(f), launch_ms


def layer_metrics(r, w, cores, spans, stored, setup):
    """Per-layer metrics of a traced run (round 0 untraced, round 1 traced)."""
    rnd, traced = r["rounds"]
    tw = traced["workload"]
    ts = stored.get(tw.get("table_path"), ({}, {}))[0]
    extra = {"scan_files": tw.get("scan_files", {}),
             "versions_list_ms": tw.get("versions_list_ms", 0.0),
             "new_versions": sum(1 for o in traced["ops"] if o["kind"] in metrics.WRITES),
             "log_files": ts.get("log_files", 0),
             "snapshot_bytes": ts.get("snapshot_bytes", 0),
             "data_files": ts.get("data_files", 0),
             "dv_files": ts.get("dv_files", 0)}
    m = metrics.per_layer(traced["ops"], spans, cores, extra)
    m.update(setup)
    m["jvm.heap_peak_mb"] = (r["heap_peak_mb"], "MB")
    m["jvm.rss_peak_mb"] = (r["rss_peak_mb"], "MB")
    m["jvm.heap_retained_mb"] = (r["heap_retained_mb"], "MB")
    m["trace.overhead_share"] = (traced["wall_s"] / rnd["wall_s"] - 1, "share")
    m["host.probe_ms"] = (metrics.med(rnd["probe_ms"]), "ms")
    # under ten samples lie beyond p90 at the sizes the run budget allows
    m["ops.p90_ms"] = (metrics.pct(metrics.op_ms(rnd["ops"]), 0.9), "ms")
    # the lake writer's per-kind latencies, from the untraced round
    st = stored.get(rnd["workload"].get("table_path"))
    mb = (st[0]["bytes"] + st[1]["bytes"]) / 1048576 if st else 0.0
    m.update(metrics.lake_kinds(rnd["ops"] if w == "lake" else [], mb))
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs (self-test)")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft",
                 "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, stamp = build(root, out)
    built = time.monotonic()

    w, trace = args.workload, args.trace
    cores = os.cpu_count() or 1
    host = {"nproc": cores, "load1_start": load1(), "seed": args.seed,
            "workload": w, "trace": trace, "source_sha256": stamp}
    run_dir = os.path.join(out, "runs", f"{w}-{args.seed}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    passes = max(1, round(args.seconds / RIDES_PASS_S))
    lake_ops = max(6 * LAKE_EVERY, round(args.seconds * LAKE_OPS_PER_S))
    input_dir, generate_s, deterministic = generate(
        w, args.seed, run_dir, lake_ops, args.tiny)

    ticks0 = cpu_ticks()
    limit_s = DEADLINE_S - CHECK_RESERVE_S[w] - (time.monotonic() - built)
    r, launch_ms = run_harness(cp, w, args.seed, trace, cores, run_dir,
                               input_dir, passes, lake_ops, limit_s)
    ticks1 = cpu_ticks()
    rnd = r["rounds"][0]
    host.update(load1_end=load1(), jvm=r["jvm_version"], spark=r["spark_version"],
                steal_share=(ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
                probe_ms=metrics.med(rnd["probe_ms"]), git_sha=git_sha(root))

    # output checks
    if w == "lake":
        checks = check.lake(input_dir, rnd["workload"]["checks"])
    else:
        checks = check.lanes(root, input_dir, os.path.join(run_dir, "results"),
                             DEADLINE_S - (time.monotonic() - built))
    checks.append(("inputs_deterministic", deterministic, ""))
    failed_ops = [o for rd in r["rounds"] for o in rd["ops"] if not o["ok"]]
    bad = [c for c in checks if not c[1]]
    for name, _, detail in bad:
        log(f"check failed: {name} {detail}")
    attempted = sum(len(rd["ops"]) for rd in r["rounds"]) + len(checks)
    failed = len(failed_ops) + len(bad)

    setup = {"setup.generate_s": (generate_s, "s"),
             "setup.jvm_start_s": ((r["main_start_ms"] - launch_ms) / 1000, "s"),
             "setup.session_s": (r["session_s"], "s"),
             "setup.warmup_s": (r["warmup_s"], "s")}
    stored = {}
    if w == "lake":
        for rd in r["rounds"]:
            t, mv = rd["workload"]["table_path"], rd["workload"]["mv_path"]
            stored[t] = (dir_stats(t), dir_stats(mv))
    if trace:
        with open(os.path.join(run_dir, "result.json.spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        m = layer_metrics(r, w, cores, spans, stored, setup)
    else:
        m = metrics.end_to_end(rnd, sum(v for v, _ in setup.values()))

    report = {"host": host, "passes": passes, "lake_ops": lake_ops,
              "samples": {"ops": len(rnd["ops"]),
                          "beyond_p90": len(rnd["ops"]) // 10},
              "checks": [{"name": c[0], "ok": c[1], "detail": c[2]} for c in checks],
              "failed_ops": failed_ops, "setup": setup, "metrics": m}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    log("host " + json.dumps(host))
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}
    print(json.dumps(line))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
