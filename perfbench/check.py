"""Output checks for the graft benchmark.

- `rides`: each distinct lane's result, written by the warm-up pass, must
  hash-match its catalog DuckDB oracle run over the same generated inputs,
  as the engine's own oracle compare (tools/oracle_check.py) judges it.
- `lake`: every read, every MV refresh and the final table must equal a
  replay of the seeded operation sequence on a plain key -> row model.

Each check returns a list of (name, ok, detail).
"""
import json
import os
import subprocess
import sys

import pandas as pd


def lanes(root, input_dir, results_dir, timeout_s=170):
    """Runs the engine's oracle compare, tools/oracle_check.py, over the
    generated inputs and the warm-up's results; one check per lane."""
    try:
        p = subprocess.run([sys.executable,
                            os.path.join(root, "tools", "oracle_check.py"),
                            input_dir, results_dir], capture_output=True,
                           text=True, timeout=max(1, timeout_s))
    except subprocess.TimeoutExpired:
        return [("oracle_check", False, f"timed out after {timeout_s:.0f} s")]
    out = []
    for line in p.stdout.splitlines():
        status, _, rest = line.partition(" ")
        if status in ("OK", "FAIL", "ERROR"):
            name, _, detail = rest.partition(": ")
            out.append((name, status == "OK", detail))
    if p.returncode != 0 and all(ok for _, ok, _ in out):
        out.append(("oracle_check", False, (p.stderr or p.stdout)[-500:]))
    return out


def lake_model(base_rows, ops):
    """Table state after each op, as {key: (g, v)} snapshots (shared when
    an op does not write)."""
    state = {r[0]: (r[1], r[2]) for r in base_rows}
    after = []
    for op in ops:
        if op["kind"] in ("append", "merge", "drain"):
            state = dict(state)
            state.update({k: (g, v) for k, g, v in op["rows"]})
        elif op["kind"] == "delete":
            state = {k: x for k, x in state.items() if k not in set(op["keys"])}
        after.append(state)
    return after


def rows_of(state, keys=None):
    ks = state.keys() if keys is None else [k for k in keys if k in state]
    return sorted(([k, *state[k]] for k in ks), key=lambda r: ",".join(map(str, r)))


def lake(input_dir, checks):
    with open(os.path.join(input_dir, "lake_ops.json")) as f:
        ops = json.load(f)
    base = pd.read_parquet(os.path.join(input_dir, "lake_base.parquet"))
    after = lake_model(base.values.tolist(), ops)
    out = []
    for c in checks:
        i, kind = c["i"], c["kind"]
        if kind == "final":
            want = rows_of(after[i - 1])
        elif kind == "read_version":
            want = rows_of(after[c["at"]])
        elif kind == "read_keys":
            want = rows_of(after[i], ops[i]["keys"])
        else:  # refresh_mv: count(*) and sum(v) per group
            agg = {}
            for g, v in after[i].values():
                n, s = agg.get(g, (0, 0))
                agg[g] = (n + 1, s + v)
            want = sorted(([g, n, s] for g, (n, s) in agg.items()),
                          key=lambda r: ",".join(map(str, r)))
        ok = c["rows"] == want
        out.append((f"{kind}@{i}", ok, f"rows {len(c['rows'])}/{len(want)}"))
    return out
