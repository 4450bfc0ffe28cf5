"""DuckDB oracle compare for the batch workload's results, in the
canonical form of ``tools/check.py`` (columns sorted by name, values
canonicalized, rows sorted), whose ``canon`` and ``table_of`` it uses."""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import table_of  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(data_dir, results_dir, oracles, names):
    """[(query, ok, detail)] for each query in ``names``."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = []
    for q in names:
        if q not in oracles:
            out.append((q, False, "no oracle SQL"))
            continue
        path = os.path.join(results_dir, q)
        if not os.path.isdir(path):
            out.append((q, False, "no result written"))
            continue
        try:
            s = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            s_cols, s_rows = list(s.columns), s.fetchall()
            o = con.sql(oracles[q])
            o_cols, o_rows = list(o.columns), o.fetchall()
        except Exception as e:  # an oracle or read error is a failure
            out.append((q, False, f"error: {e}"[:300]))
            continue
        if sorted(s_cols) != sorted(o_cols):
            out.append((q, False, f"columns {sorted(s_cols)} != {sorted(o_cols)}"))
            continue
        st, ot = table_of(s_rows, s_cols), table_of(o_rows, o_cols)
        out.append((q, st == ot, f"rows={len(st)} oracle_rows={len(ot)}"))
    con.close()
    return out
