#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: for each query dir in
outDir, run the matching oracle SQL in DuckDB over the sfDir parquet tables,
sort columns by name, sort rows, and compare values exactly (with a
float-tolerance report so we can distinguish hard mismatches from low-bit
noise). Usage: compare_oracle.py <sfDir> <outDir> [query ...]

With query names after the two dirs, only those queries are compared (a
name not in outDir/oracle_sql.json is an error); with none, every query
in oracle_sql.json is, and one without an output dir fails as
MISSING_OUTPUT.
"""
import sys, os, json, glob, math
import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(v):
    if isinstance(v, float):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalar/array
        return canon(v.tolist())
    return v

def kind_of(t):
    """Coarse dtype class mirroring how the driver's pandas hash treats values:
    ints and floats hash differently (3 vs 3.0), so int-vs-float divergence
    between Spark and DuckDB is a real gate failure even when values compare
    equal in Python. HUGEINT (int128) lands in pandas as float64 -> 'f'."""
    import pyarrow.types as pt
    if pt.is_integer(t):
        return "i"
    if pt.is_floating(t):
        return "f"
    if pt.is_decimal(t):
        return "dec"
    if str(t) in ("int128", "uint128"):
        return "f"
    if pt.is_list(t) or pt.is_large_list(t):
        return "list<" + kind_of(t.value_type) + ">"
    return "o"

def rows_of(tbl):
    order = sorted(range(len(tbl.column_names)), key=lambda i: tbl.column_names[i])
    cols = [tbl.column_names[i] for i in order]
    kinds = [kind_of(tbl.schema.types[i]) for i in order]
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(canon(data[j][i]) for j in range(len(cols))) for i in range(tbl.num_rows)]
    return cols, kinds, sorted(rows, key=lambda r: tuple(str(x) for x in r))

def eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(eq(x, y) for x, y in zip(a, b))
    return a == b

def close(a, b, tol=1e-9):
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return eq(a, b)

# DuckDB's default memory limit is 80% of RAM. A fixed limit with a temp
# directory under the output dir lets spillable operators spill to disk
# and leaves the rest of the machine's memory to the run. The heaviest
# oracles that pass, q_bpe_apply and q_bpe_fertility, need between 7.4 and
# 10 GB at sf0.001; q_candidate_stats fails with "failed to pin block"
# (unspillable state) at any limit a 16 GB host can give, and stays a
# named FAIL line.
MEMORY_LIMIT = "10GB"

def main(sf_dir, out_dir, names=()):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(set(names) - set(oracle))
    if unknown:
        sys.exit(f"compare_oracle: not in {out_dir}/oracle_sql.json: {', '.join(unknown)}")
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": os.path.join(out_dir, "duckdb_tmp")})
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    results = {}
    for name in sorted(names or oracle):
        qdir = f"{out_dir}/{name}"
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            results[name] = "MISSING_OUTPUT"
            continue
        got = pq.read_table(files[0])
        try:
            exp = con.sql(oracle[name]).arrow()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        gc, gk, gr = rows_of(got)
        ec, ek, er = rows_of(exp)
        if gc != ec:
            results[name] = f"COLS got={gc} exp={ec}"
        elif gk != ek and any(
            {a, b} == {"i", "f"} for a, b in zip(gk, ek)
        ):
            results[name] = f"DTYPE got={list(zip(gc, gk))} exp={list(zip(ec, ek))}"
        elif len(gr) != len(er):
            results[name] = f"NROWS got={len(gr)} exp={len(er)}"
        else:
            bad = [(a, b) for a, b in zip(gr, er) if not eq(a, b)]
            if not bad:
                results[name] = "OK"
            else:
                soft = all(close(a, b) for a, b in bad)
                tag = "FLOAT_NOISE" if soft else "MISMATCH"
                results[name] = f"{tag} {len(bad)}/{len(gr)} rows; first: got={bad[0][0]} exp={bad[0][1]}"
    ok = sum(1 for v in results.values() if v == "OK")
    for k, v in results.items():
        print(("PASS " if v == "OK" else "FAIL ") + k + ("" if v == "OK" else "  " + str(v)))
    print(f"== {ok}/{len(results)} OK ==")
    return 0 if ok == len(results) else 1

if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
