import duckdb, json, math, sys, glob, os
# Local replica of the driver's correctness compare: runs each oracle SQL in
# DuckDB over the sf tables, loads the graft.Verify parquet dump, and
# compares row counts, sorted-column schemas, and value hashes. A query with
# no parquet dump counts as a failure; the exit status is 1 when any query
# fails. Usage:
#   python3 tools/localcheck.py /tmp/verify_out /root/testdata/sf0.01 [q_filter]
out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_out'
sf = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
flt = sys.argv[3] if len(sys.argv) > 3 else ''

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']:
    p = f'{sf}/{t}.parquet'
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f'{out}/oracle_sql.json'))

def canon(v):
    if v is None: return 'NULL'
    if isinstance(v, float):
        if math.isnan(v): return 'NULL'
        if v == int(v) and abs(v) < 1e15: return repr(float(v))
        return repr(round(v, 10))
    if isinstance(v, bool): return str(v).lower()
    return str(v)

fails = ok = 0
for q in sorted(oracle):
    if flt and flt not in q: continue
    try:
        odf = con.execute(oracle[q]).df()
    except Exception as e:
        print(f'{q}: ORACLE SQL ERROR: {e}'); fails += 1; continue
    if not glob.glob(f'{out}/{q}/*.parquet'):
        print(f'{q}: MISSING dump (the query failed or wrote nothing)')
        fails += 1; continue
    sdf = duckdb.sql(f"SELECT * FROM '{out}/{q}/*.parquet'").df()
    cols_o, cols_s = sorted(odf.columns), sorted(sdf.columns)
    if cols_o != cols_s:
        print(f'{q}: SCHEMA mismatch spark={cols_s} oracle={cols_o}'); fails += 1; continue
    if len(odf) != len(sdf):
        print(f'{q}: ROWS mismatch spark={len(sdf)} oracle={len(odf)}'); fails += 1; continue
    def rows(df):
        return sorted(tuple(canon(df[c][i]) for c in cols_o) for i in range(len(df)))
    ro, rs = rows(odf), rows(sdf)
    if ro != rs:
        diff = [(a, b) for a, b in zip(ro, rs) if a != b][:3]
        print(f'{q}: HASH mismatch, first diffs (oracle, spark): {diff}'); fails += 1; continue
    ok += 1
print(f'ok={ok} fail={fails}')
sys.exit(1 if fails else 0)
