"""Compare the benchmark's generated tables with a reference copy.

    python3 perfbench/compare_tables.py <reference_dir> [<generated_dir>]

The reference is the engine's fixed test data at the same scale (seed 42,
sf0.1). Without <generated_dir> the tables are generated (or reused) under
.bench_build/perfbench as the benchmark would. For each table the script
prints its row counts and, per scalar column, min / max / distinct count /
mean (mean length for strings) on both sides. It exits 1 when a parquet
schema (without the pandas metadata), a row count or the range of a key
column (a name ending in `key` or `_id`) differs: those are what the
queries' joins and loops depend on.
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

NUMERIC = ("BIGINT", "INTEGER", "DOUBLE", "FLOAT")


def stats(con, path, col, typ):
    mean = f"avg({col})" if typ in NUMERIC else f"avg(length(CAST({col} AS VARCHAR)))"
    return con.execute(f"SELECT min({col}), max({col}), count(DISTINCT {col}), {mean} "
                       f"FROM read_parquet('{path}')").fetchone()


def compare(ref, gen, out=sys.stdout):
    """Print the comparison; return the list of hard differences."""
    con = duckdb.connect()
    problems = []
    names = sorted(f for f in os.listdir(ref) if f.endswith(".parquet"))
    for f in names:
        r, g = os.path.join(ref, f), os.path.join(gen, f)
        if not os.path.isfile(g):
            problems.append(f"{f}: not generated")
            continue
        ra, ga = (pq.read_schema(p).remove_metadata() for p in (r, g))
        if ra != ga:
            problems.append(f"{f}: schema {ga} != {ra}")
            continue
        rs = [c[:2] for c in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{r}')").fetchall()]
        rn, gn = (con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
                  for p in (r, g))
        print(f"{f[:-8]}: rows {rn} / {gn}, bytes {os.path.getsize(r)} / {os.path.getsize(g)}",
              file=out)
        if rn != gn:
            problems.append(f"{f}: {gn} rows, reference has {rn}")
        for col, typ in rs:
            if "[" in typ or typ.startswith(("STRUCT", "MAP")):
                continue
            a, b = stats(con, r, col, typ), stats(con, g, col, typ)
            print(f"  {col:16s} {typ:9s} ref min={a[0]} max={a[1]} distinct={a[2]} mean={a[3]:.4g}"
                  f"\n  {'':26s} gen min={b[0]} max={b[1]} distinct={b[2]} mean={b[3]:.4g}",
                  file=out)
            if col.endswith(("key", "_id")) and a[:2] != b[:2]:
                problems.append(f"{f}.{col}: range {b[:2]} != {a[:2]}")
    return problems


def main(argv):
    if len(argv) not in (1, 2):
        raise SystemExit(__doc__)
    if len(argv) == 2:
        gen = argv[1]
    else:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import run
        gen = run.tables()
    problems = compare(argv[0], gen)
    for p in problems:
        print("DIFF", p)
    print("tables match on schema, row counts and key ranges" if not problems
          else f"{len(problems)} differences")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
