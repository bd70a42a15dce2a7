"""Output check: each dumped query result against its oracle SQL run in
DuckDB over the same generated tables, with the comparison rules of
tools/diffcheck.py (same column set, same row count, rows equal in order
after sorting the column names, NaN equal to NaN). Oracle answers are
cached next to the seed's inputs."""
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq

from gen import TABLES


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def compare(got, exp):
    """None when the two arrow tables agree, else the reason."""
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns differ spark={gcols} oracle={ecols}"
    if got.num_rows != exp.num_rows:
        return f"rows spark={got.num_rows} oracle={exp.num_rows}"
    grows = [tuple(_norm(r[c]) for c in gcols) for r in got.to_pylist()]
    erows = [tuple(_norm(r[c]) for c in gcols) for r in exp.to_pylist()]
    bad = [i for i, (a, b) in enumerate(zip(grows, erows)) if a != b]
    if bad:
        return f"{len(bad)}/{len(grows)} rows differ; first at row {bad[0]}"
    return None


def check(data_dir, dump_dir, oracle_sql):
    """{query: None | reason} for every query in oracle_sql."""
    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = pq.read_table(os.path.join(dump_dir, name))
        except Exception as e:  # the query failed before writing
            out[name] = f"no result ({type(e).__name__})"
            continue
        key = hashlib.sha1(sql.encode()).hexdigest()[:12]
        path = os.path.join(cache, f"{name}.{key}.parquet")
        if os.path.exists(path):
            exp = pq.read_table(path)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
            try:
                exp = con.execute(sql).fetch_arrow_table()
            except Exception as e:
                out[name] = f"oracle sql error: {str(e).splitlines()[0]}"
                continue
            pq.write_table(exp, path)
        out[name] = compare(got, exp)
    if con is not None:
        con.close()
    return out
