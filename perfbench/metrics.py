"""End-to-end and per-layer metrics from the harness's op log and spans.

End-to-end metrics come from an untraced sequence; per-layer metrics from
the traced one, with each span assigned to the op that caused it: by its
parent chain (op <- sql <- job <- stage <- task), else by the op whose
interval holds its start (events from Spark's asynchronous buses).
"""
import bisect
import statistics
from collections import defaultdict

WRITES = ("append", "merge", "delete", "drain")
QUERIES = ("lane", "read_version", "read_keys")


def med(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def op_ms(ops, kinds=None):
    return [o["end"] - o["start"] for o in ops
            if kinds is None or o["kind"] in kinds]


def end_to_end(rnd, setup_s):
    ops = rnd["ops"]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (rnd["wall_s"], "s"),
        "ops_per_s": (len(ops) / rnd["wall_s"], "ops/s"),
        "op_p50_ms": (med(op_ms(ops)), "ms"),
    }


def lake_kinds(ops, stored_mb):
    """Per-kind latencies of the lake writer (zero on other workloads)."""
    appends = op_ms(ops, ("append",))
    late = [o["end"] - o["start"] for o in ops[len(ops) * 4 // 5:]
            if o["kind"] == "append"]
    return {
        "lake.append_p50_ms": (med(appends), "ms"),
        "lake.append_late_p50_ms": (med(late), "ms"),
        "lake.merge_p50_ms": (med(op_ms(ops, ("merge",))), "ms"),
        "lake.delete_p50_ms": (med(op_ms(ops, ("delete",))), "ms"),
        "lake.mv_refresh_p50_ms": (med(op_ms(ops, ("refresh_mv",))), "ms"),
        "lake.drain_epoch_p50_ms": (med(op_ms(ops, ("drain",))), "ms"),
        "lake.read_p50_ms": (med(op_ms(ops, ("read_version", "read_keys"))), "ms"),
        "lake.stored_mb": (stored_mb, "MB"),
    }


def assign(spans, ops):
    """Map span id -> op id."""
    starts = [o["start"] for o in ops]
    by_id = {s["id"]: s for s in spans}
    memo = {}

    def by_time(t):
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= ops[i]["end"] + 1.0:
            return ops[i]["id"]
        return ""

    def op_of(sid, depth=0):
        if sid in memo:
            return memo[sid]
        s = by_id.get(sid)
        if s is None or depth > 8:
            return ""
        p = s["parent"]
        r = p if p.startswith("op:") else (op_of(p, depth + 1) if p else "")
        if not r:
            r = by_time(s["start"])
        memo[sid] = r
        return r

    return {s["id"]: op_of(s["id"]) for s in spans}


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def per_layer(ops, spans, cores, extra):
    """Per-layer metrics of the traced sequence. `extra` carries what the
    report measured outside the spans (table files, list timing, set-up)."""
    op_ids = {o["id"] for o in ops}
    owner = assign(spans, ops)
    spans = [s for s in spans if owner[s["id"]] in op_ids]
    n = max(1, len(ops))
    by = defaultdict(list)
    for s in spans:
        by[(s["layer"], s["name"])].append(s)
    tasks = by[("exec", "task")]
    stages = {s["id"]: s for s in by[("scheduler", "stage")]}
    jobs = by[("scheduler", "job")]
    a = lambda s, k: s["attrs"].get(k, 0)
    tsum = lambda k: sum(a(t, k) for t in tasks)

    def phase(name):
        return sum(s["end"] - s["start"] for s in by[("plans", name)]) / n

    waits = [t["start"] - stages[t["parent"]]["start"] for t in tasks
             if t["parent"] in stages and stages[t["parent"]]["start"] > 0]
    per_stage = defaultdict(list)
    for t in tasks:
        per_stage[t["parent"]].append(t["end"] - t["start"])
    worst = defaultdict(float)
    for sid, ds in per_stage.items():
        if len(ds) > 1 and med(ds) > 0:
            o = owner.get(sid, "")
            worst[o] = max(worst[o], max(ds) / med(ds))
    wall_ms = sum(o["end"] - o["start"] for o in ops)
    queries = {o["id"]: max(0, o["rows"]) for o in ops if o["kind"] in QUERIES}
    query_scan_rows = sum(a(t, "in_rows") for t in tasks if owner[t["id"]] in queries)

    by_kind = defaultdict(int)
    for (layer, name), ss in by.items():
        if layer == "commit":
            by_kind[name] += len(ss)
    claims = sum(1 for s in by[("commit", "create")] if a(s, "log"))
    writes = [o for o in ops if o["kind"] in WRITES]
    driver = []
    busy = defaultdict(list)
    for s in jobs + by[("plans", "analysis")] + by[("plans", "optimization")] \
            + by[("plans", "planning")]:
        busy[owner[s["id"]]].append((s["start"], s["end"]))
    for o in writes:
        driver.append(o["end"] - o["start"] - union_ms(
            [(max(s, o["start"]), min(e, o["end"])) for s, e in busy[o["id"]]
             if e > o["start"] and s < o["end"]]))
    refresh_ids = {o["id"] for o in ops if o["kind"] == "refresh_mv"}
    progress = by[("streaming", "trigger")]
    pm = lambda k: med([a(p, k) for p in progress])

    m = {
        "plans.analysis_ms": (phase("analysis"), "ms"),
        "plans.optimizer_ms": (phase("optimization"), "ms"),
        "plans.planning_ms": (phase("planning"), "ms"),
        "scheduler.jobs_per_op": (len(jobs) / n, "count"),
        "scheduler.stages_per_op": (len(stages) / n, "count"),
        "scheduler.tasks_per_op": (len(tasks) / n, "count"),
        "scheduler.launch_wait_ms": (med(waits), "ms"),
        "scheduler.empty_task_share": (
            sum(1 for t in tasks if a(t, "in_rows") == 0 and a(t, "sh_read_rows") == 0)
            / max(1, len(tasks)), "share"),
        "scan.bytes": (tsum("in_bytes") / n, "B"),
        "scan.rows": (tsum("in_rows") / n, "count"),
        "scan.files": (sum(extra["scan_files"].values()) / n, "count"),
        "scan.rows_per_output_row": (query_scan_rows / max(1, sum(queries.values())),
                                     "ratio"),
        "shuffle.write_bytes": (tsum("sh_write_bytes") / n, "B"),
        "shuffle.read_bytes": (tsum("sh_read_bytes") / n, "B"),
        "shuffle.records": (tsum("sh_read_rows") / n, "count"),
        "shuffle.spill_bytes": (tsum("spill_bytes") / n, "B"),
        "exec.run_ms": (tsum("run_ms") / n, "ms"),
        "exec.cpu_ms": (tsum("cpu_ns") / 1e6 / n, "ms"),
        "exec.gc_ms": (tsum("gc_ms") / n, "ms"),
        "exec.busy_share": (tsum("cpu_ns") / 1e6 / max(1e-9, wall_ms * cores), "share"),
        "exec.task_skew": (med(list(worst.values())), "ratio"),
        "commit.driver_ms": (med(driver), "ms"),
        "commit.fs_list": (by_kind["list"] / n, "count"),
        "commit.fs_open": (by_kind["open"] / n, "count"),
        "commit.fs_create": (by_kind["create"] / n, "count"),
        "commit.fs_rename": (by_kind["rename"] / n, "count"),
        "commit.fs_delete": (by_kind["delete"] / n, "count"),
        "commit.fs_bytes_written": (sum(o["bytes_written"] for o in ops) / n, "B"),
        "commit.claims_per_commit": (claims / max(1, extra["new_versions"]), "ratio"),
        "commit.versions_list_ms": (extra["versions_list_ms"], "ms"),
        "commit.log_files": (extra["log_files"], "count"),
        "commit.snapshot_bytes": (extra["snapshot_bytes"], "B"),
        "commit.data_files": (extra["data_files"], "count"),
        "commit.dv_files": (extra["dv_files"], "count"),
        "mv.jobs_per_refresh": (sum(1 for j in jobs if owner[j["id"]] in refresh_ids)
                                / max(1, len(refresh_ids)), "count"),
        "streaming.add_batch_ms": (pm("addBatch"), "ms"),
        "streaming.wal_commit_ms": (pm("walCommit"), "ms"),
        "streaming.query_planning_ms": (pm("queryPlanning"), "ms"),
        "streaming.trigger_ms": (pm("triggerExecution"), "ms"),
    }
    return m
