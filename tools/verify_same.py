#!/usr/bin/env python3
"""Compare two Verify parquet dumps query by query.

Usage: verify_same.py DIR_A DIR_B

Verify's parquet is not byte-reproducible, even between two runs of one
commit: parquet-mr writes each column chunk's `encodings` list in hash
order. This tool compares what the bytes encode instead. For every query
directory in either dump it requires:
  - equal tables: schema (with its metadata), values and row order, NaN
    equal to NaN;
  - equal footers: every file and column-chunk field, with each column
    chunk's `encodings` sorted, plus the key-value metadata.
Files are paired by sorted name within a query directory (part-file names
carry a per-run UUID). Prints every query that differs with the first
reason and exits 1 if there is one; exits 0 when all are the same.
"""
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def parquet_files(qdir):
    return sorted(f for f in os.listdir(qdir) if f.endswith(".parquet"))


def same_values(a, b):
    """Python values equal, with NaN equal to NaN at any depth."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same_values(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_values(a[k], b[k]) for k in a)
    return a == b


def table_diff(ta, tb):
    if not ta.schema.equals(tb.schema, check_metadata=True):
        return "schema differs: %s vs %s" % (ta.schema, tb.schema)
    if ta.num_rows != tb.num_rows:
        return "rows differ: %d vs %d" % (ta.num_rows, tb.num_rows)
    for name in ta.column_names:
        ca, cb = ta.column(name), tb.column(name)
        # Arrow's equality says NaN != NaN; fall back to a NaN-aware walk
        if not ca.equals(cb) and not same_values(ca.to_pylist(), cb.to_pylist()):
            return "values differ in column %s" % name
    return None


def footer(path):
    md = pq.ParquetFile(path).metadata
    d = md.to_dict()
    for rg in d["row_groups"]:
        for col in rg["columns"]:
            col["encodings"] = sorted(col["encodings"])
    # the first line of the schema's text is the Python object's address
    return d, md.metadata, str(md.schema).split("\n", 1)[1]


def query_diff(qa, qb):
    fa, fb = parquet_files(qa), parquet_files(qb)
    if len(fa) != len(fb):
        return "parquet files differ: %d vs %d" % (len(fa), len(fb))
    for a, b in zip(fa, fb):
        pa_, pb_ = os.path.join(qa, a), os.path.join(qb, b)
        why = table_diff(pq.read_table(pa_), pq.read_table(pb_))
        if why:
            return "%s: %s" % (a, why)
        if not same_values(footer(pa_), footer(pb_)):
            return "%s: footer differs" % a
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    da, db = argv[1], argv[2]
    qs = sorted({q for d in (da, db) for q in os.listdir(d)
                 if os.path.isdir(os.path.join(d, q))})
    differ = []
    for q in qs:
        qa, qb = os.path.join(da, q), os.path.join(db, q)
        if not os.path.isdir(qa) or not os.path.isdir(qb):
            why = "only in %s" % (da if os.path.isdir(qa) else db)
        else:
            try:
                why = query_diff(qa, qb)
            except (OSError, pa.ArrowException) as e:
                why = "unreadable: %s" % e
        if why:
            differ.append(q)
            print("DIFF %s: %s" % (q, why))
    print("%d queries compared, %d differ" % (len(qs), len(differ)))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
