#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs DuckDB on each oracle_sql.json entry (views over the sf parquet
tables) and compares against the Spark result parquet written by
graft.Verify: columns sorted by name, rows sorted, values hashed.

Beyond values, compares RESULT TYPES per column (arrow schema of the
Spark parquet vs DuckDB's arrow output): the driver's hash covers raw
values INCLUDING their type, so a DuckDB DECIMAL(38,0) (sum(BIGINT) ->
HUGEINT) against a Spark BIGINT hash-mismatches even when every value
is identical — 16 round-4 queries shipped exactly that way. A type
mismatch is reported with the column NAME, not an opaque hash miss.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [only1,only2,...]
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import pyarrow.parquet as pq

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # lists/arrays -> tuples so they sort/compare
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or
                     (hasattr(v, '__len__') and not isinstance(v, str) and not pd.api.types.is_scalar(v))).any():
            df[c] = df[c].map(lambda v: tuple(v) if v is not None and not pd.api.types.is_scalar(v) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)

# Type pairs the driver's value-hash treats as equal (same raw python
# value out of arrow): all integer widths collapse to python int —
# verified empirically, every int32-vs-int64 row was hash-GREEN in
# round 4 — but decimal128 materializes as Decimal, which hashes
# differently from int even at equal value. So int widths are
# canonicalized; decimal vs int stays a mismatch.
def type_key(t):
    s = str(t)
    if s.startswith('large_string'): return 'string'
    if s.startswith(('int', 'uint')): return 'int'
    return s

# DuckDB runs every oracle under one fixed memory cap, so an oracle that
# outgrows it fails loudly instead of taking the host. Spill goes under
# the engine's scratch root (graft.queries.Scratch.root: the
# `graft-scratch` dir of $SPARK_GRAFT_SCRATCH, else of /dev/shm), not the
# working directory. The progress bar is off: it overwrites the
# per-oracle lines.
SCRATCH = os.path.join(os.environ.get('SPARK_GRAFT_SCRATCH', '/dev/shm'),
                       'graft-scratch')

def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    temp_dir = os.path.join(SCRATCH, 'duckdb-tmp')
    os.makedirs(temp_dir, exist_ok=True)
    con.execute("SET memory_limit='4GB'")
    con.execute(f"SET temp_directory='{temp_dir}'")
    con.execute("SET enable_progress_bar=false")
    for p in glob.glob(os.path.join(sf_dir, '*.parquet')):
        name = os.path.basename(p)[:-len('.parquet')]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, 'oracle_sql.json')))
    failures = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            print(f"FAIL {name}: no spark output dir"); failures += 1; continue
        try:
            part = glob.glob(os.path.join(spark_dir, '*.parquet'))
            spark_types = {f.name: type_key(f.type)
                           for f in pq.read_schema(part[0])} if part else {}
            got = canon(pd.read_parquet(spark_dir))
            duck = con.execute(sql).arrow()
            duck_types = {f.name: type_key(f.type) for f in duck.schema}
            want = canon(duck.to_pandas())
        except Exception as e:
            print(f"FAIL {name}: {e}"); failures += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            failures += 1; continue
        bad_types = [f"{c}: spark={spark_types.get(c)} duck={duck_types.get(c)}"
                     for c in got.columns
                     if spark_types.get(c) != duck_types.get(c)]
        if bad_types:
            print(f"FAIL {name}: result TYPE mismatch (driver hash covers types) — "
                  + "; ".join(bad_types))
            failures += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); failures += 1; continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
            print(f"OK   {name}: {len(got)} rows")
        except AssertionError as e:
            print(f"FAIL {name}: value mismatch\n{str(e)[:500]}")
            for c in got.columns:
                if not got[c].equals(want[c]):
                    diff = (got[c] != want[c])
                    print(f"  col {c}: {int(diff.sum())} differing rows; "
                          f"spark={got[c][diff].head(3).tolist()} duck={want[c][diff].head(3).tolist()}")
            failures += 1
    print(f"{'ALL OK' if failures == 0 else str(failures) + ' FAILURES'}")
    return 1 if failures else 0

if __name__ == '__main__':
    only = set(sys.argv[3].split(',')) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
