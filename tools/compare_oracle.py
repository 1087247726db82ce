import duckdb, json, glob, sys
sfdir = sys.argv[1] if len(sys.argv)>1 else '/root/testdata/sf0.001'
out = sys.argv[2] if len(sys.argv)>2 else '/tmp/vout'
con = duckdb.connect()
for t in ['lineitem','orders','customer','supplier','part','nation','region','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
oracle = json.load(open(f'{out}/oracle_sql.json'))
okn, failn = 0, 0
for name, sql in sorted(oracle.items()):
    try:
        o = con.execute(sql).fetchdf()
        s = duckdb.connect().execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        o = o[sorted(o.columns)]; s = s[sorted(s.columns)]
        if list(o.columns) != list(s.columns):
            print(f"FAIL {name}: cols oracle={list(o.columns)} spark={list(s.columns)}"); failn+=1; continue
        if len(o) != len(s):
            print(f"FAIL {name}: rows oracle={len(o)} spark={len(s)}"); failn+=1; continue
        o2 = o.sort_values(by=list(o.columns)).reset_index(drop=True).astype(str)
        s2 = s.sort_values(by=list(s.columns)).reset_index(drop=True).astype(str)
        diff = (o2 != s2)
        if diff.any().any():
            cells = int(diff.sum().sum())
            print(f"FAIL {name}: {cells} differing cells")
            mask = diff.any(axis=1)
            print("  oracle:", o2[mask].head(3).to_dict('records'))
            print("  spark :", s2[mask].head(3).to_dict('records'))
            failn+=1
        else:
            okn+=1
    except Exception as e:
        print(f"ERROR {name}: {str(e)[:200]}"); failn+=1
print(f"== {okn} ok, {failn} fail; rows-only queries:", sorted(set(g.split('/')[-1] for g in glob.glob(out+'/*') if g.split('/')[-1] not in oracle and not g.endswith('.json'))))
# non-zero exit on any FAIL or ERROR, so a script or CI step can gate on it
sys.exit(1 if failn else 0)
