#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: compares each
SparkEntry query parquet (written by graft.Verify) against its DuckDB
oracle SQL on the same sf dir. Usage (args auto-detected by content):
    python3 tools/check_oracle.py <verifyOutDir> <sfDir> [query...]

Regression mode: compare two Verify outputs (e.g. before/after a
refactor) query by query, row for row in stored order, with exact cells
(no rounding, -0.0 != 0.0, NaN == NaN) and exact arrow types; exits 1 on
any difference:
    python3 tools/check_oracle.py <verifyOutDir> --against <otherVerifyOutDir> [query...]
"""
import json, math, os, sys
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # tolerate last-ulp noise: 9 significant digits
        return f"{v:.9g}"
    if hasattr(v, "as_py"):
        v = v.as_py()
    return str(v)

def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [cols[i] for i in order]

def exact_cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(exact_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{exact_cell(x)}" for k, x in v.items()) + "}"
    return repr(v)

def read_exact(qdir):
    tbl = pq.read_table(qdir)
    schema = [(f.name, str(f.type)) for f in tbl.schema]
    cols = [[exact_cell(v) for v in tbl.column(i).to_pylist()]
            for i in range(tbl.num_columns)]
    return schema, list(zip(*cols)) if cols else []

def query_names(out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        names = set(json.load(f))
    return names | {d for d in os.listdir(out_dir)
                    if os.path.isdir(os.path.join(out_dir, d))}

def against(out_dir, other_dir, only):
    names = sorted(query_names(out_dir) | query_names(other_dir))
    n_same = n_diff = 0
    for name in names:
        if only and name not in only:
            continue
        qa, qb = os.path.join(out_dir, name), os.path.join(other_dir, name)
        if not (os.path.isdir(qa) and os.path.isdir(qb)):
            print(f"MISSING  {name}: only in {qa if os.path.isdir(qa) else qb}")
            n_diff += 1
            continue
        (sa, ra), (sb, rb) = read_exact(qa), read_exact(qb)
        if sa != sb:
            print(f"SCHEMA   {name}: {sa} vs {sb}")
        elif ra != rb:
            first = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y),
                         min(len(ra), len(rb)))
            kind = "ORDER " if sorted(ra) == sorted(rb) else "VALUES"
            print(f"{kind}   {name}: rows {len(ra)} vs {len(rb)}; first diff "
                  f"at row {first}: {ra[first:first + 1]} vs {rb[first:first + 1]}")
        else:
            print(f"SAME     {name} ({len(ra)} rows)")
            n_same += 1
            continue
        n_diff += 1
    print(f"\n{n_same} same, {n_diff} differ")
    sys.exit(1 if n_diff else 0)

def main():
    if "--against" in sys.argv[1:]:
        i = sys.argv.index("--against")
        rest = sys.argv[1:i] + sys.argv[i + 2:]
        against(rest[0], sys.argv[i + 1], set(rest[1:]))
    a, b = sys.argv[1], sys.argv[2]
    if os.path.exists(os.path.join(a, "oracle_sql.json")):
        out_dir, sf_dir = a, b
    else:
        sf_dir, out_dir = a, b
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    n_pass = n_fail = n_skip = 0
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            print(f"MISSING  {name}: no spark output")
            n_fail += 1
            continue
        try:
            tbl = pq.read_table(qdir)
            s_cols = [c.lower() for c in tbl.column_names]
            s_rows = [tuple(tbl.column(i)[j].as_py() for i in range(tbl.num_columns))
                      for j in range(tbl.num_rows)]
            res = con.execute(sql)
            d_cols = [d[0].lower() for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"ERROR    {name}: {str(e)[:200]}")
            n_fail += 1
            continue
        s_norm, s_c = norm_rows(s_cols, s_rows)
        d_norm, d_c = norm_rows(d_cols, d_rows)
        if s_c != d_c:
            print(f"SCHEMA   {name}: spark={s_c} duck={d_c}")
            n_fail += 1
        elif s_norm != d_norm:
            diffs = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
            extra = abs(len(s_norm) - len(d_norm))
            print(f"VALUES   {name}: rows spark={len(s_norm)} duck={len(d_norm)}; "
                  f"first diffs: {diffs[:3]}{' +sizediff' if extra else ''}")
            n_fail += 1
        else:
            print(f"OK       {name} ({len(s_norm)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
