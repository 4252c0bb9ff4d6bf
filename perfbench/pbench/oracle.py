"""DuckDB oracle check of dumped query results.

Applies the type-and-value rules of the repository's `tools/verify_local.py`
(imported from the checkout, so the benchmark and the project's correctness
gate cannot drift apart): DuckDB's typing of the oracle SQL must equal the
dumped parquet schema, and values must match exactly after sorting columns
by name and rows by all values."""
import importlib.util
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _verify_local(root):
    path = os.path.join(root, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check(root, data_dir, dump_dir, oracle_sql):
    """Compare each dumped result `dump_dir/<name>/*.parquet` with DuckDB
    running `oracle_sql[name]` over `data_dir`. Returns {name: error or
    None}."""
    vl = _verify_local(root)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        got_sql = f"SELECT * FROM '{dump_dir}/{name}/*.parquet'"
        try:
            texp = vl.types_of(con, f"({sql})")
            tgot = vl.types_of(con, got_sql)
            if texp != tgot:
                diffs = {k: (texp.get(k), tgot.get(k))
                         for k in set(texp) | set(tgot)
                         if texp.get(k) != tgot.get(k)}
                out[name] = f"result types differ (oracle, spark): {diffs}"
                continue
            exp = vl.canon(con.sql(sql).df())
            got = vl.canon(con.sql(got_sql).df())
        except Exception as e:  # noqa: BLE001 - reported per query
            out[name] = str(e)[:200]
            continue
        if list(exp.columns) != list(got.columns):
            out[name] = f"columns exp={list(exp.columns)} got={list(got.columns)}"
        elif len(exp) != len(got):
            out[name] = f"rows exp={len(exp)} got={len(got)}"
        else:
            out[name] = None
            ev, gv = exp.values, got.values
            for i in range(len(exp)):
                bad = next((j for j in range(len(exp.columns))
                            if not vl.cmp_cell(ev[i][j], gv[i][j])), None)
                if bad is not None:
                    out[name] = (f"row {i} col {exp.columns[bad]} "
                                 f"exp={ev[i][bad]!r} got={gv[i][bad]!r}")
                    break
    con.close()
    return out
