"""Output checks. Each returns {"problems": [...], "failed_calls": [...]}
plus, for capture_live, the figures read back from the capture log."""
import datetime as dt
import decimal
import glob
import json
import math
import os
import statistics

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents"]


def _norm(v):
    """One canonical form for a value from Spark's JSON rows or DuckDB."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2 ** 53:
            return int(v)
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(_norm(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    return repr(v)


def _multiset(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def board(work, tables):
    """Each query's rows against its DuckDB twin from `SparkEntry.oracleSql`
    over the same generated tables: same columns, same row count, same
    order-independent multiset of rows."""
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    for t in TABLES:
        f = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(f):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    twins = {}
    for line in open(os.path.join(work, "oracle.tsv"), encoding="utf-8"):
        if "\t" in line:
            name, sql = line.rstrip("\n").split("\t", 1)
            twins[name] = sql.replace("\\n", "\n").replace("\\\\", "\\")
    calls = [l for l in open(os.path.join(work, "calls.jsonl")) if l.strip()]
    problems, failed = [], []
    for c in map(json.loads, calls):
        name = c["name"]
        if not c["ok"]:
            continue
        if name not in twins:
            problems.append(f"{name}: no DuckDB twin")
            failed.append(c["id"])
            continue
        try:
            with open(os.path.join(work, "out", f"{name}.jsonl"), encoding="utf-8") as f:
                cols = json.loads(f.readline())
                got = [json.loads(line) for line in f if line.strip()]
            exp = con.sql(twins[name])
            if sorted(cols) != sorted(exp.columns):
                raise AssertionError(f"columns {sorted(cols)} != {sorted(exp.columns)}")
            order = sorted(cols)
            want = [dict(zip(exp.columns, r)) for r in exp.fetchall()]
            if len(got) != len(want):
                raise AssertionError(f"{len(got)} rows, twin has {len(want)}")
            if (_multiset([[r.get(c) for c in order] for r in got]) !=
                    _multiset([[r[c] for c in order] for r in want])):
                raise AssertionError("row hash differs from the twin")
        except Exception as e:  # any mismatch or twin failure fails the call
            problems.append(f"{name}: {str(e)[:300]}")
            failed.append(c["id"])
    return {"problems": problems, "failed_calls": failed}


def live(work, res, calls):
    """Read the capture log back: every issued statement has exactly one
    SUBMITTED and one COMPLETED event with the right Status. Also derives
    durable latency, loss ratio, batch sizes and file counts."""
    log = os.path.join(work, "capture_log")
    files = sorted(glob.glob(os.path.join(log, "*", "*.parquet")))
    out = {"problems": [], "failed_calls": []}
    if not files:
        out["problems"].append("capture log is empty")
        return out
    con = duckdb.connect()
    rows = con.sql(
        "SELECT QueryId, EventType, Status, split_part(QueryText, chr(10), 1) AS tag, "
        "epoch_ms(StartTime) AS s, epoch_ms(EndTime) AS e, filename "
        f"FROM read_parquet({files!r}, filename = true)").fetchall()
    tag_of = {q: tag for q, et, _, tag, _, _, _ in rows
              if et == "QUERY_SUBMITTED" and tag and tag.startswith("gb:")}
    events = {}
    for q, et, st, _, _, _, _ in rows:
        t = tag_of.get(q)
        if t is not None:
            events.setdefault(t, []).append((et, st))
    issued = res["issued"]
    once = 0
    for t, evs in events.items():
        kinds = [x[0] for x in evs]
        once += sum(1 for k in ("QUERY_SUBMITTED", "QUERY_COMPLETED") if kinds.count(k) == 1)
    out["loss_ratio"] = 1.0 - once / (2.0 * issued)
    # statements of the timed phase: exact lifecycle and status
    for c in calls:
        if c.get("phase") != "steady":
            continue
        t = f"gb:steady:{c['id']}"
        evs = events.get(t, [])
        kinds = sorted(x[0] for x in evs)
        want = "FAIL" if c["name"].endswith(":fail") else "SUCCESS"
        status = [x[1] for x in evs if x[0] == "QUERY_COMPLETED"]
        if kinds != ["QUERY_COMPLETED", "QUERY_SUBMITTED"] or status != [want]:
            out["problems"].append(f"{t}: events {kinds} status {status}, want {want}")
            out["failed_calls"].append(c["id"])
    # durability: a file belongs to the first batch that returned after it
    # was last modified
    batches = sorted(res.get("batches", []), key=lambda b: b[1])
    mtime = {f: os.stat(f).st_mtime * 1000.0 for f in files}

    def batch_of(fn):
        for i, (_, b1) in enumerate(batches):
            if mtime[fn] <= b1 + 1:
                return i
        return None

    fb = {f: batch_of(f) for f in files}
    durable = []
    size = {}
    for q, et, st, tag, s, e, fn in rows:
        fn = os.path.abspath(fn)
        b = fb.get(fn)
        if b is not None:
            size[b] = size.get(b, 0) + 1
        t = tag_of.get(q, "")
        if not t.startswith("gb:steady:") or b is None:
            continue
        made = s if et == "QUERY_SUBMITTED" else e
        durable.append(batches[b][1] - made)
    if durable:
        durable.sort()
        out["durable_p50_ms"] = statistics.median(durable)
        out["durable_p99_ms"] = durable[min(len(durable) - 1, int(0.99 * len(durable)))]
    out["batch_events_p50"] = statistics.median(size.values()) if size else 0
    out["files"] = len(files)
    out["bytes_per_event"] = sum(os.path.getsize(f) for f in files) / max(1, len(rows))
    return out
