"""DuckDB oracle digests for the benchmark's checked calls.

Runs each call's oracle SQL (the engine's `SparkEntry.oracleSql`) in
DuckDB over the generated parquet directory and digests the rows the
same way `perfbench/scala/Digest.scala` digests the engine's result.
Each query runs on a single-threaded DuckDB: multi-threaded float
aggregation changes the reduction order and can move a rounded value
across a boundary. Queries run in parallel processes before the engine
starts, and digests are cached per data directory, which is per seed.
"""
import datetime
import decimal
import hashlib
import json
import math
import multiprocessing
import os
import struct

import duckdb

WORKERS = 4
B = 1099511628211
MASK = (1 << 64) - 1
EPOCH_DATE = datetime.date(1970, 1, 1)
EPOCH_TS = datetime.datetime(1970, 1, 1)


def _dbl(v):
    if math.isnan(v):
        return "n"
    if v == math.floor(v) and abs(v) < 9.007199254740992e15:
        return "i%d" % int(v)
    return "f%x" % struct.unpack(">Q", struct.pack(">d", v))[0]


def _value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return "d" + format(v, "f")
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        delta = v.replace(tzinfo=None) - EPOCH_TS
        return "i%d" % ((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return "i%d" % (v - EPOCH_DATE).days
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(_value(x) for x in v.values()) + "}"
    raise TypeError(f"digest: unsupported value {v!r}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = 0
    for r in rows:
        text = "|".join(_value(r[i]) for i in order)
        rh = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
        h = (h * B + rh) & MASK
    return "%d:%016x" % (len(rows), h)


def _run(job):
    """Digest of one oracle query, on its own single-threaded DuckDB."""
    data_dir, name, query = job
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, f)}')")
        cur = con.execute(query)
        return name, digest([d[0] for d in cur.description], cur.fetchall())
    except Exception as e:  # reported as the call's failure cause
        return name, f"error: {e}".replace("\n", " ")[:300]
    finally:
        con.close()


def digests(data_dir, sql):
    """{name: digest or "error: ..."} for each {name: oracle SQL}.
    Queries run in parallel processes, each DuckDB on one thread."""
    cache = os.path.join(data_dir, "oracle_digests.json")
    done = json.load(open(cache)) if os.path.exists(cache) else {}
    todo = [(data_dir, n, q) for n, q in sorted(sql.items()) if n not in done]
    if todo:
        with multiprocessing.get_context("fork").Pool(min(WORKERS, len(todo))) as pool:
            done.update(pool.map(_run, todo, chunksize=1))
            pool.close()
            pool.join()
        tmp = cache + ".tmp"
        with open(tmp, "w") as f:
            json.dump(done, f, sort_keys=True)
        os.replace(tmp, cache)
    return {n: done[n] for n in sql}
