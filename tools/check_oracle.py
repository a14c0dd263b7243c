"""Replay every oracle of a graft.Verify run in DuckDB and compare.

    python3 tools/check_oracle.py <sfDir> <verifyOutDir>

The local correctness gate: run graft.Verify first, then this script
replays every oracle_sql.json entry in DuckDB over the sf tables and
compares it with the Spark output (columns sorted by name, rows sorted,
stringified values). It prints one verdict per query with its wall time
(the oracle, the output read and the compare), then an `N/M OK` summary
and the 5 slowest queries, and exits 1 unless every query is OK (2 on a
usage error).
"""
import glob
import json
import sys
import time

import duckdb

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def verdict(con, name, sql, out):
    """(ok, message) for one query: its Spark output against its oracle."""
    files = glob.glob(f'{out}/{name}/*.parquet')
    if not files:
        return False, 'NO SPARK OUTPUT'
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{files[0]}')").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:
        return False, f'ORACLE ERROR {e}'
    # driver-style: sort columns by name, then compare value hashes
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return False, f'SCHEMA MISMATCH {list(got.columns)} vs {list(want.columns)}'
    if len(got) != len(want):
        return False, f'ROWCOUNT {len(got)} vs {len(want)}'
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    for c in got.columns:
        bad = g[c].astype(str).values != w[c].astype(str).values
        if bad.any():
            i = bad.argmax()
            return False, f'VALUE MISMATCH col={c} row={i}: {g[c].iloc[i]!r} vs {w[c].iloc[i]!r}'
    return True, f'OK ({len(got)} rows)'


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    sf, out = argv[1], argv[2]
    con = duckdb.connect()
    for t in TABLES:
        # a missing table fails only the oracles that read it
        if glob.glob(f'{sf}/{t}.parquet'):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    with open(f'{out}/oracle_sql.json') as f:
        oracle = json.load(f)
    # fetchdf imports pandas on first use (~0.5 s); keep that out of the
    # first query's time
    con.execute('SELECT 1').fetchdf()
    n_ok = 0
    secs = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.perf_counter()
        ok, msg = verdict(con, name, sql, out)
        secs[name] = time.perf_counter() - t0
        n_ok += ok
        print(f'{name}: {msg} [{secs[name]:.2f} s]', flush=True)
    print(f'{n_ok}/{len(oracle)} OK')
    slowest = sorted(secs, key=lambda n: (-secs[n], n))[:5]
    print(f'slowest {len(slowest)}:')
    for name in slowest:
        print(f'  {secs[name]:8.2f} s  {name}')
    return 0 if n_ok == len(oracle) else 1


if __name__ == '__main__':
    sys.exit(main(sys.argv))
