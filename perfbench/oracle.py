"""Output check: each query's Spark output against its DuckDB oracle SQL, with
the comparison rules of the repository's `tools/check.py` (same columns,
canonical Arrow types, same row count, values equal in order, NaN equal to
NaN). Runs after the timed passes, on the generated inputs. It is a copy, not
an import, so the benchmark's check stays fixed when the repository's tools
change."""
import math
import os
import threading

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ORACLE_TIMEOUT_S = 60.0


def canon_type(t):
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{canon_type(f.type)}" for f in t) + ">"
    return str(t)


def _run(con, sql):
    result = {}

    def work():
        try:
            result["table"] = con.execute(sql).fetch_arrow_table()
        except Exception as exc:  # reported by the caller
            result["error"] = exc

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(ORACLE_TIMEOUT_S)
    if t.is_alive():
        con.interrupt()
        t.join(30)
        raise TimeoutError(f"oracle exceeded {ORACLE_TIMEOUT_S:.0f}s")
    if "error" in result:
        raise result["error"]
    return result["table"]


def compare(got, want):
    """None when the tables match, else the first difference."""
    g_cols, w_cols = sorted(got.column_names), sorted(want.column_names)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    for c in g_cols:
        gt, wt = got.schema.field(c).type, want.schema.field(c).type
        if canon_type(gt) != canon_type(wt):
            return f"col {c} type spark={gt} != duck={wt}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    for c in g_cols:
        for i, (a, b) in enumerate(zip(got.column(c).to_pylist(), want.column(c).to_pylist())):
            if a == b or (isinstance(a, float) and isinstance(b, float)
                          and math.isnan(a) and math.isnan(b)):
                continue
            return f"col {c} row {i}: spark={a!r} duck={b!r}"
    return None


def check(data_dir, tables, outputs_dir, oracle_sql, temp_dir):
    """{query: None if it matched, else the reason} for every query in
    `oracle_sql` ({query: sql or None}). DuckDB spills to `temp_dir`."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    res = {}
    for name, sql in oracle_sql.items():
        if sql is None:
            res[name] = "no oracle SQL"
            continue
        path = os.path.join(outputs_dir, name)
        try:
            got = pq.read_table(path)
        except Exception as exc:
            res[name] = f"no spark output ({exc})"
            continue
        try:
            want = _run(con, sql)
        except Exception as exc:
            res[name] = f"oracle error: {exc}"
            continue
        res[name] = compare(got, want)
    con.close()
    return res
