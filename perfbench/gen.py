#!/usr/bin/env python3
"""Seeded input generator: one single-threaded process per run.

Usage: gen.py <workload> <seed> <out_dir>

Writes the workload's input files under <out_dir> and, next to them,
`expected.json`: what a correct program must produce from those inputs.
The measured program only ever sees the input files; the checker reads
`expected.json`. Every generator asserts the distinct-record count it
intends, so any duplicate mass is planted on purpose.

Avro file mtimes are set a month in the past, older than the restructure
job's default minimum file age (60 s) and the cleaner's default age
(7 days), so the program runs with its production defaults. The catalog
tables do not depend on the seed.
"""
import json
import os
import random
import struct
import sys
import time

from avro_writer import Schema, write_container
from metrics import CATALOG_QUERIES

DAY0 = 1580169600  # 2020-01-28T00:00:00Z
MONTH_AGO = int(time.time()) - 30 * 86400

# ----------------------------------------------------------------- shapes

# bulk_restructure: one topic, 4 Kafka partitions, 3 projects x 4 users x
# 24 hour bins = 288 output dirs
BULK = dict(records=120_000, files=40, partitions=4, projects=3, users=4)
# catalog_core: the two tables the 12 catalog queries read
CATALOG = dict(documents=800, events=15_000, users=600, seed=42)

SENSOR = Schema({
    "type": "record", "name": "Envelope", "namespace": "bench", "fields": [
        {"name": "key", "type": {"type": "record", "name": "ObservationKey", "fields": [
            {"name": "projectId", "type": ["null", "string"], "default": None},
            {"name": "userId", "type": "string"},
            {"name": "sourceId", "type": "string"}]}},
        {"name": "value", "type": {"type": "record", "name": "Sensor", "fields": [
            {"name": "time", "type": "double"},
            {"name": "timeReceived", "type": "double"},
            {"name": "light", "type": "float"}]}}]})


def f32(x):
    return struct.unpack("<f", struct.pack("<f", x))[0]


def bin_of(t):
    return time.strftime("%Y%m%d_%H00", time.gmtime(t))


def file_path(root, topic, partition, start, end):
    return os.path.join(root, topic, f"partition={partition}",
                        f"{topic}+{partition}+{start}+{end}.avro")


def sensor_record(project, user, source, t, light):
    return {"key": {"projectId": project, "userId": user, "sourceId": source},
            "value": {"time": t, "timeReceived": t + 0.5, "light": f32(light)}}


def record_identity(r):
    """The tuple keep-last dedup compares: every payload field."""
    k, v = r["key"], r["value"]
    return (k["projectId"], k["userId"], k["sourceId"], v["time"], v["timeReceived"], v["light"])


# ------------------------------------------------------------ day of sensor

def sensor_day(rng, topic, shape, root, sync):
    """One topic of time-ordered sensor records over one day.

    Each Kafka partition owns a fixed set of (project, user) keys, as a
    keyed producer would, and its files cover consecutive time windows,
    so each file touches a few hour bins of its keys. Every record
    is distinct (light = its global index). Returns the file manifest and
    the files each (project, user, hour bin) output dir draws from."""
    n, n_files, n_parts = shape["records"], shape["files"], shape["partitions"]
    keys = [(f"proj{p}", f"user{p}{u}") for p in range(shape["projects"])
            for u in range(shape["users"])]
    part_keys = {q: keys[q::n_parts] for q in range(n_parts)}
    per_part = n // n_parts
    files_per_part = n_files // n_parts
    per_file = per_part // files_per_part
    assert per_file * files_per_part * n_parts == n, "records must split evenly"
    files, idx = [], 0
    bins = {}
    for q in range(n_parts):
        for fi in range(files_per_part):
            start = fi * per_file
            recs = []
            for i in range(per_file):
                off = start + i
                t = DAY0 + (off + rng.random()) * 86400.0 / per_part
                project, user = rng.choice(part_keys[q])
                recs.append(sensor_record(project, user, f"src{q}", t, idx))
                idx += 1
                b = (project, user, bin_of(t))
                bins.setdefault(b, set()).add(len(files))
            path = file_path(root, topic, q, start, start + per_file - 1)
            write_container(path, SENSOR, recs, sync, mtime=MONTH_AGO + len(files))
            files.append(dict(path=os.path.relpath(path, root), partition=q,
                              start=start, end=start + per_file - 1, records=recs))
    distinct = len({record_identity(r) for f in files for r in f["records"]})
    assert distinct == n, f"generator meant {n} distinct records, made {distinct}"
    return files, bins


def gen_bulk(seed, out):
    rng = random.Random(seed)
    sync = rng.randbytes(16)
    files, bins = sensor_day(rng, "sensor", BULK, os.path.join(out, "in"), sync)
    per_dir = {}
    for f in files:
        for r in f["records"]:
            k = f"{r['key']['projectId']}/{r['key']['userId']}/{bin_of(r['value']['time'])}"
            per_dir[k] = per_dir.get(k, 0) + 1
    # the cleaner leg of the traced run: one output bin is deleted before
    # the cleaner runs. Candidates are every file but the newest of each
    # partition (the cleaner never deletes a partition's newest offset);
    # those with a record in the deleted bin fail verification and are
    # readmitted, the rest are verified and deleted.
    newest = {}
    for i, f in enumerate(files):
        if f["partition"] not in newest or f["start"] > files[newest[f["partition"]]]["start"]:
            newest[f["partition"]] = i
    candidates = [i for i in range(len(files)) if i not in newest.values()]
    choices = sorted(b for b, fs in bins.items() if fs & set(candidates))
    planted = rng.choice(choices)
    readmitted = sorted(files[i]["path"] for i in candidates if i in bins[planted])
    deleted = sorted(files[i]["path"] for i in candidates if i not in bins[planted])
    assert readmitted and deleted
    return dict(workload="bulk_restructure", topic="sensor", records=BULK["records"],
                distinct=BULK["records"], dirs=per_dir,
                state={f"sensor/{q}": [[0, BULK["records"] // BULK["partitions"] - 1]]
                       for q in range(BULK["partitions"])},
                candidate_records=sum(len(files[i]["records"]) for i in candidates),
                planted=dict(project=planted[0], user=planted[1], bin=planted[2]),
                deleted=deleted, readmitted=readmitted)


# ---------------------------------------------------------------- catalog

WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "the join vector customer").split()
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def gen_catalog(_seed, out):
    """Fixed tables: the catalog scores are compared across commits, and
    the oracle answers are computed once per checkout (see check.py)."""
    import duckdb
    rng = random.Random(CATALOG["seed"])
    c = CATALOG
    tables = os.path.join(out, "tables")
    os.makedirs(tables, exist_ok=True)
    docs, random_texts = [], set()
    for i in range(c["documents"]):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document with a few edits
            words = docs[rng.randrange(i)][1].split()
            for _ in range(rng.randint(0, 3)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 100))]
            # duplicates must be planted, never accidental
            assert " ".join(words) not in random_texts
            random_texts.add(" ".join(words))
        text = " ".join(words)
        docs.append((i, text, rng.choice(LANGS), f"src{i % 20}", len(text)))
    events = []
    t = 1704067200.0  # 2024-01-01
    for i in range(c["events"]):
        t += rng.random() * 2592000.0 / c["events"] * 2
        events.append((i, int(t * 1e6), rng.randrange(c["users"]), rng.choice(EVENT_TYPES),
                       round(rng.random() * 500, 2), json.dumps({"k": rng.randrange(100)})))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
                "source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", docs)
    con.execute("CREATE TABLE ev (event_id BIGINT, ts_us BIGINT, user_id BIGINT, "
                "event_type VARCHAR, value DOUBLE, props VARCHAR)")
    # executemany is slow for tens of thousands of rows: stage through CSV
    csv_path = os.path.join(out, "events.csv")
    with open(csv_path, "w") as f:
        for e in events:
            f.write(f"{e[0]},{e[1]},{e[2]},{e[3]},{e[4]},\"{e[5].replace(chr(34), chr(34) * 2)}\"\n")
    con.execute(f"INSERT INTO ev SELECT * FROM read_csv('{csv_path}', header=false, "
                "columns={'a':'BIGINT','b':'BIGINT','c':'BIGINT','d':'VARCHAR','e':'DOUBLE','f':'VARCHAR'})")
    os.remove(csv_path)
    con.execute(f"COPY documents TO '{tables}/documents.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT event_id, make_timestamp(ts_us) AS ts, user_id, event_type, value, props "
                f"FROM ev ORDER BY event_id) TO '{tables}/events.parquet' (FORMAT PARQUET)")
    return dict(workload="catalog_core", documents=c["documents"], events=c["events"],
                queries=CATALOG_QUERIES)


GENERATORS = dict(bulk_restructure=gen_bulk, catalog_core=gen_catalog)


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    expected = GENERATORS[workload](seed, out)
    expected["seed"] = seed
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    main()
