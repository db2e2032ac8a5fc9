#!/usr/bin/env python3
"""DuckDB oracle compare for graft.Verify output.

Usage: python3 scripts/compare_oracle.py <sf_dir> <verify_out>
Registers every single-file .parquet table in <sf_dir> as a DuckDB view plus
the per-query spark result dirs under <verify_out>, runs each oracle_sql.json
entry, and diffs (rows, schema, hash) against the spark parquet. Hash = sha256
over rows with columns sorted by name, floats formatted %.9g, rows sorted.
"""
import duckdb, json, sys, os, hashlib, glob

sf_dir, vout = sys.argv[1], sys.argv[2]
con = duckdb.connect()

for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    # quoted: a stem with a hyphen, a leading digit or a reserved word is
    # still a valid view name
    ident = '"' + name.replace('"', '""') + '"'
    con.execute(f"CREATE VIEW {ident} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(os.path.join(vout, "oracle_sql.json")))

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("%.9g" % v)
            elif isinstance(v, bool):
                vals.append("true" if v else "false")
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return hashlib.sha256("\n".join(out).encode()).hexdigest()

n_pass = n_fail = 0
results = {}
for q in sorted(oracle.keys()):
    sql = oracle[q]
    spark_dir = os.path.join(vout, q)
    try:
        sp = con.execute(
            f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
        sp_cols = [d[0] for d in sp.description]
        sp_rows = sp.fetchall()
        orc = con.execute(sql)
        or_cols = [d[0] for d in orc.description]
        or_rows = orc.fetchall()
        rows_match = len(sp_rows) == len(or_rows)
        schema_match = sorted(sp_cols) == sorted(or_cols)
        hash_match = canon(sp_cols, sp_rows) == canon(or_cols, or_rows)
        ok = rows_match and schema_match and hash_match
        results[q] = dict(rows_match=rows_match, schema_match=schema_match,
                          hash_match=hash_match, spark_rows=len(sp_rows),
                          oracle_rows=len(or_rows), err=None)
    except Exception as e:
        ok = False
        results[q] = dict(rows_match=False, schema_match=False,
                          hash_match=False, err=str(e)[:300])
    if ok:
        n_pass += 1
    else:
        n_fail += 1
        print(f"FAIL {q}: {results[q]}")

print(f"{n_pass}/{n_pass + n_fail} pass")
json.dump(results, open("/tmp/compare_r6_results.json", "w"), indent=1)
