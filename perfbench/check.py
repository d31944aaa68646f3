"""Correctness checks: judge each operation the measured process recorded
against what the generator predicted (`expected.json`).

Every check returns one boolean per operation plus messages; an operation
that fails its check counts as failed and its time enters no timing
metric. The checks read the program's outputs directly (gzip CSV part
files, the offsets state file, parquet query results), never through the
program itself.
"""
import glob
import gzip
import hashlib
import json
import os


def read_state(path):
    """{"topic/partition": [[from, to], ...]} from an offsets state file."""
    with open(path) as f:
        doc = json.load(f)
    return {f"{p['topic']}/{p['partition']}": [[r["from"], r["to"]] for r in p["ranges"]]
            for p in doc["partitions"]}


def output_rows(topic_dir):
    """(project/user/bin, csv line) for every data row under a topic's
    output dir, plus the distinct headers seen."""
    rows, headers = [], set()
    for path in glob.glob(os.path.join(topic_dir, "_project=*", "_user=*", "_bin=*", "part-*")):
        parts = path.split(os.sep)
        key = "/".join(p.split("=", 1)[1] for p in parts[-4:-1])
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt", encoding="utf-8") as f:
            lines = f.read().splitlines()
        if lines:
            headers.add(lines[0])
            rows.extend((key, line) for line in lines[1:])
    return rows, headers


def check_bulk(work, exp, ops):
    ok, msgs = [], []
    for op in ops:
        root = os.path.join(work, op["root"])
        rows, headers = output_rows(os.path.join(root, "out", exp["topic"]))
        per_dir = {}
        for key, _ in rows:
            per_dir[key] = per_dir.get(key, 0) + 1
        errs = []
        if op["records"] != exp["records"]:
            errs.append(f"program wrote {op['records']} records, expected {exp['records']}")
        if len(rows) != exp["records"]:
            errs.append(f"read back {len(rows)} rows, expected {exp['records']}")
        if len(set(rows)) != exp["distinct"]:
            errs.append(f"read back {len(set(rows))} distinct rows, expected {exp['distinct']}")
        if per_dir != exp["dirs"]:
            errs.append(f"per-dir counts differ in {len(set(per_dir.items()) ^ set(exp['dirs'].items()))} dirs")
        if len(headers) != 1:
            errs.append(f"{len(headers)} distinct CSV headers")
        state = read_state(os.path.join(root, "state", "offsets.json"))
        if state != exp["state"]:
            errs.append(f"state {state} != expected {exp['state']}")
        ok.append(not errs)
        msgs += [f"pass {op['root']}: {e}" for e in errs]
    return ok, msgs


def check_clean(exp, ops):
    ok, msgs = [], []
    for i, op in enumerate(ops):
        errs = []
        for field, want in (("deleted", exp["deleted"]), ("reprocess", exp["readmitted"]),
                            ("replanned", exp["readmitted"])):
            if sorted(op[field]) != sorted(want):
                errs.append(f"{field}: {len(op[field])} files, expected {len(want)} "
                            f"(extra {sorted(set(op[field]) - set(want))[:3]}, "
                            f"missing {sorted(set(want) - set(op[field]))[:3]})")
        ok.append(not errs)
        msgs += [f"cleaner pass {i}: {e}" for e in errs]
    return ok, msgs


def canon(con, rel_sql):
    """Columns sorted by name, values rendered with floats at 6 significant
    digits, rows sorted: the catalog compare tool's canonical form, with a
    stable digest so oracle answers can be cached."""
    cur = con.execute(rel_sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = []
    for t in cur.fetchall():
        rows.append("\x01".join(f"{t[i]:.6g}" if isinstance(t[i], float) else str(t[i])
                                 for i in order))
    rows.sort()
    digest = hashlib.sha256("\x02".join(rows).encode()).hexdigest()
    return sorted(names), len(rows), digest


def check_catalog_results(work, names, cache_path=None):
    """{query: None if its written result matches its oracle SQL in DuckDB,
    else the reason}. Oracle answers are cached in `cache_path`, keyed by
    the tables' bytes and the SQL, since the catalog tables are fixed."""
    import duckdb
    res = os.path.join(work, "results")
    with open(os.path.join(res, "oracle_sql.json")) as f:
        oracles = json.load(f)
    tables = hashlib.sha256()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "events"):
        path = os.path.join(work, "tables", f"{t}.parquet")
        with open(path, "rb") as f:
            tables.update(f.read())
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    cache = {}
    if cache_path and os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    verdict = {}
    for q in names:
        try:
            got = list(canon(con, f"SELECT * FROM read_parquet('{res}/{q}/*.parquet')"))
            key = hashlib.sha256((tables.hexdigest() + oracles[q]).encode()).hexdigest()
            if key not in cache:
                cache[key] = list(canon(con, oracles[q]))
            want = cache[key]
            verdict[q] = None if got == want else \
                f"rows {got[1]}/{want[1]} cols {got[0] == want[0]} hash {got[2] == want[2]}"
        except Exception as e:  # a missing or unreadable result is a mismatch
            verdict[q] = f"{type(e).__name__}: {e}"
    if cache_path:
        with open(cache_path, "w") as f:
            json.dump(cache, f)
    return verdict


def check_catalog(work, names, ops, cache_path=None):
    """One verdict per query execution: an execution fails if it raised or
    if its query's result does not match the oracle."""
    verdict = check_catalog_results(work, names, cache_path)
    ok, msgs = [], [f"{q}: {why}" for q, why in verdict.items() if why]
    for op in ops:
        ok.append({q: op["queries"][q] != "error" and verdict[q] is None for q in names})
    return ok, msgs
