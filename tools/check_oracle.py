#!/usr/bin/env python3
"""Local pre-check of SparkEntry.oracleSql vs Verify output (mimics the
driver's DuckDB compare: sort columns by name, canonical-render values,
SHA-256 over '|'-joined rows). Usage: check_oracle.py <verify_out> <sf_dir>
"""
import sys, json, glob, os, hashlib


def render(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def lines(cols, rows):
    """Each row as one '|'-joined line of its values, columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["|".join(render(r[i]) for i in order) for r in rows]


def canon(cols, rows):
    return hashlib.sha256("\n".join(lines(cols, rows)).encode()).hexdigest()


def main(out_dir, sf_dir):
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    fails = []
    for name in sorted(oracle):
        pdir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(pdir, "*.parquet"))
        if not files:
            fails.append((name, "no spark output")); continue
        tbl = pq.read_table(files[0])
        scols = tbl.column_names
        srows = [tuple(r[c] for c in scols) for r in tbl.to_pylist()]
        try:
            res = con.execute(oracle[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            fails.append((name, f"duckdb error: {e}")); continue
        if sorted(scols) != sorted(dcols):
            fails.append((name, f"schema mismatch spark={sorted(scols)} duck={sorted(dcols)}")); continue
        if len(srows) != len(drows):
            fails.append((name, f"rowcount spark={len(srows)} duck={len(drows)}")); continue
        hs, hd = canon(scols, srows), canon(dcols, drows)
        if hs != hd:
            # find first differing row for debugging
            detail = ""
            for i, (la, lb) in enumerate(zip(lines(scols, srows), lines(dcols, drows))):
                if la != lb:
                    detail = f" first diff row {i}: spark={la!r} duck={lb!r}"
                    break
            fails.append((name, "hash mismatch" + detail))
        else:
            print(f"OK   {name} ({len(srows)} rows)")

    for name, why in fails:
        print(f"FAIL {name}: {why}")
    print(f"\n{len(oracle) - len(fails)}/{len(oracle)} oracled queries match")
    # rows-only queries: report counts
    for name in sorted(os.listdir(out_dir)):
        if name in oracle or name == "oracle_sql.json":
            continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        n = pq.read_metadata(files[0]).num_rows if files else -1
        print(f"ROWS {name}: {n}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
