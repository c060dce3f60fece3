"""Output checks against the generators' ground truth, one per activity.

Each check gets the run's operations as (index, op) pairs of its own kinds,
the activity's post-loop output and its ground truth, and returns (indices
of failed operations, report). An operation fails when its own output is
wrong; a wrong whole-run result (a query's DuckDB oracle) fails every
operation it covers.
"""
import decimal
import math
import os

import duckdb
import pyarrow.parquet as pq

import gen


# activity -> (operation kinds it times, check)
ACTIVITIES = {}


def activity(name, kinds):
    def register(fn):
        ACTIVITIES[name] = (kinds, fn)
        return fn
    return register


def run(raw, truth, inputs):
    """Checks every activity of the run; returns (failed ops, report)."""
    failed, report = set(), {}
    for name, fin in raw["finish"].items():
        kinds, fn = ACTIVITIES[name]
        ops = [(i, o) for i, o in enumerate(raw["ops"]) if o["kind"] in kinds]
        bad, report[name] = fn(ops, fin, truth[name], inputs)
        failed |= bad
    return len(failed), report


@activity("etl", {"etl_batch"})
def etl(ops, fin, truth, inputs):
    bad = {}
    for i, o in ops:
        want = truth["batches"][o["batch"]]["expected_valid"]
        if not o["preflight_ok"] or o["fact_rows"] != want:
            bad[i] = {"batch": o["batch"], "preflight_ok": o["preflight_ok"],
                      "problems": o["problems"], "fact_rows": o["fact_rows"], "expected": want}
    return set(bad), {"failures": bad, "batches": truth["batches"]}


# --------------------------------------------------------------- star queries

def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return v + 0.0
    return v


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return a == b


def _key(row):
    return tuple((0, "") if v is None else (1, v) for v in row)


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    return sorted(cols), sorted(rows, key=_key)


def compare(con, oracle_sql, result_dir):
    """None when the Spark result equals the oracle's rows, else a reason."""
    o_cols, o_rows = _rows(con, oracle_sql)
    s_cols, s_rows = _rows(con, f"SELECT * FROM '{result_dir}/*.parquet'")
    if o_cols != s_cols:
        return f"columns differ: oracle={o_cols} spark={s_cols}"
    if len(o_rows) != len(s_rows):
        return f"row counts differ: oracle={len(o_rows)} spark={len(s_rows)}"
    for i, (a, b) in enumerate(zip(o_rows, s_rows)):
        for c, x, y in zip(o_cols, a, b):
            if not _same(x, y):
                return f"row {i} column {c}: oracle={x!r} spark={y!r}"
    return None


@activity("star", {"query"})
def star(ops, fin, truth, inputs):
    con = duckdb.connect()
    for stmt in gen.tables_view_sql(os.path.join(inputs, "star")):
        con.execute(stmt)
    wrong = {}
    rows = {}
    for name, sql in sorted(fin["oracles"].items()):
        d = os.path.join(fin["results_dir"], name)
        if not os.path.isdir(d):
            wrong[name] = "query did not run in the window"
            continue
        try:
            why = compare(con, sql, d)
        except duckdb.Error as e:
            why = f"oracle error: {e}"
        if why:
            wrong[name] = why
        rows[name] = sum(1 for _, o in ops if o["query"] == name)
    con.close()
    report = {"oracle_mismatches": wrong, "queries_checked": len(fin["oracles"]),
              "executions": rows}
    return {i for i, o in ops if o["query"] in wrong}, report


# ------------------------------------------------------------------- curation

def curate_output(out_dir, truth, eval_sh):
    """Reasons the curated output in out_dir is wrong (empty when right)."""
    t = pq.read_table(out_dir, columns=["doc_id", "text", "split", "position"]).to_pydict()
    ids, texts, splits, pos = t["doc_id"], t["text"], t["split"], t["position"]
    why = []
    if not ids:
        why.append("empty output")
    if len(set(ids)) != len(ids):
        why.append("a document appears in more than one row or split")
    if set(splits) - {"train", "val", "test"}:
        why.append(f"unknown split labels {sorted(set(splits) - {'train', 'val', 'test'})}")
    leaked = set(ids) & set(truth["contaminated"])
    if leaked:
        why.append(f"{len(leaked)} planted contaminated documents kept")
    overlap = 0
    for text in texts:
        w = text.lower().split()
        if any(" ".join(w[i:i + 3]) in eval_sh for i in range(len(w) - 2)):
            overlap += 1
    if overlap:
        why.append(f"{overlap} documents share a 3-word shingle with the eval set")
    kept = set(ids)
    dup = sum(1 for c in truth["exact_clusters"] if len(kept.intersection(c)) > 1)
    if dup:
        why.append(f"{dup} exact-duplicate clusters keep more than one document")
    p = sorted(pos)
    if p and (p[0] not in (0, 1) or p != list(range(p[0], p[0] + len(p)))):
        why.append("training positions are not dense")
    return why


@activity("curate", {"curate"})
def curate(ops, fin, truth, inputs):
    eval_sh = gen.eval_shingles(os.path.join(inputs, "corpus"))
    bad = {}
    for i, o in ops:
        why = curate_output(o["output"], truth, eval_sh)
        if why:
            bad[i] = why
    return set(bad), {"failures": bad, "planted_exact_clusters": len(truth["exact_clusters"]),
                      "planted_contaminated": len(truth["contaminated"])}
