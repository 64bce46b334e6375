#!/usr/bin/env python3
"""Compute the curation workload's expected answers with DuckDB.

Each curation query carries a registered DuckDB oracle (NamedQuery.oracle).
This script evaluates those oracles over the benchmark's fixture and stores
each answer as a row count plus an order-independent hash, using the same
canonical row text as RowHash.scala. The benchmark compares every curation
result against these stored answers.

Regenerate after a fixture or oracle change:

  python3 perfbench/run.py --dump-oracles perfbench/.work/oracles.json
  python3 perfbench/oracle_answers.py perfbench/.work/oracles.json \
      perfbench/data/sf0.1 perfbench/answers/curation_sf0.1.json
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import struct
import sys

EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fNaN"
        return "f" + struct.pack(">d", 0.0 if v == 0.0 else v).hex()
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "D0"
        return "D" + format(v.normalize(), "f")
    if isinstance(v, str):
        return f"S{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, datetime.datetime):
        base = EPOCH_UTC if v.tzinfo is not None else EPOCH
        return f"t{(v - base) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"d{(v - EPOCH.date()).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v)}")


def row_hash(text):
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big", signed=True)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash("\x1f".join(canon(r[i]) for i in order))) & (2**64 - 1)
        n += 1
    return {"rows": n, "hash": f"{total:016x}"}


def main(oracles_path, data_dir, out_path):
    import duckdb

    oracles = json.load(open(oracles_path))
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    answers = {}
    for name, sql in sorted(oracles.items()):
        rel = con.sql(sql)
        answers[name] = digest(rel.columns, rel.fetchall())
        print(name, answers[name], flush=True)
    out = {"engine": f"duckdb {duckdb.__version__}", "answers": answers}
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(*sys.argv[1:])
