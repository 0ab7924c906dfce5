"""Output checks for perfbench, all run in DuckDB after the JVM has exited."""
import glob
import os

import duckdb

CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]

ETL_INPUT_COLUMNS = {
    "l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
    "l_linenumber": "INTEGER", "l_quantity": "INTEGER", "l_extendedprice": "DOUBLE",
    "l_discount": "DOUBLE", "l_tax": "DOUBLE", "l_returnflag": "VARCHAR",
    "l_linestatus": "VARCHAR", "l_shipdate": "DATE", "l_shipmode": "VARCHAR",
    "l_comment": "VARCHAR"}

ETL_OUTPUT_COLUMNS = {
    "l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
    "l_linenumber": "INTEGER", "l_quantity": "INTEGER", "l_extendedprice": "DOUBLE",
    "l_discount": "DOUBLE", "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
    "l_shipdate": "DATE", "l_shipmode": "VARCHAR", "size_band": "VARCHAR",
    "net_price": "DOUBLE", "comment_words": "INTEGER", "ship_year": "INTEGER",
    "is_bulk": "BOOLEAN"}


def connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _struct(cols):
    return "{" + ", ".join(f"'{k}': '{v}'" for k, v in cols.items()) + "}"


def _digest(con, relation, cols):
    """Row count plus an order-independent sum of per-row hashes."""
    h = ", ".join(f'"{c}"' for c in sorted(cols))
    n, s = con.execute(f"SELECT count(*), sum(hash({h})) FROM {relation}").fetchone()
    return [int(n), str(s)]


def csv_header(out_dir):
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if not parts:
        return None, []
    with open(parts[0], encoding="utf-8") as f:
        return f.readline().rstrip("\n"), parts


def csv_digest(con, out_dir, delim, cols=None):
    """Digest of a Spark CSV output dir; typed by `cols`, else all text."""
    header, parts = csv_header(out_dir)
    if header is None:
        return None
    names = header.split(delim)
    if cols is not None and sorted(names) != sorted(cols):
        return ["columns", sorted(names)]
    types = cols or {c: "VARCHAR" for c in names}
    rel = (f"read_csv({parts!r}, header = true, delim = '{delim}', "
           f"escape = '\\', columns = {_struct({c: types[c] for c in names})})")
    return _digest(con, rel, names)


def line_digest(con, out_dir):
    """Digest of a CSV output dir's data lines, as written."""
    _, parts = csv_header(out_dir)
    if not parts:
        return None
    rel = (f"read_csv({parts!r}, header = true, delim = chr(1), quote = '', escape = '', "
           "columns = {'line': 'VARCHAR'}, auto_detect = false)")
    return _digest(con, rel, ["line"])


def etl_oracle_digest(con, sql_path, input_csv):
    sql = open(sql_path).read().replace("{input}", input_csv) \
        .replace("{columns}", _struct(ETL_INPUT_COLUMNS))
    sql = "\n".join(l for l in sql.splitlines() if not l.startswith("--"))
    con.execute(f"CREATE OR REPLACE TEMP VIEW etl_oracle AS {sql}")
    return _digest(con, "etl_oracle", ETL_OUTPUT_COLUMNS)


def rest_rows(con, out_dir):
    _, parts = csv_header(out_dir)
    if not parts:
        return set()
    rel = (f"read_csv({parts!r}, header = true, delim = ',', columns = "
           "{'id': 'BIGINT', 'kind': 'VARCHAR', 'label': 'VARCHAR', "
           "'score': 'BIGINT', 'kind_echo': 'VARCHAR'})")
    return set(con.execute(f"SELECT id, kind, label, score, kind_echo FROM {rel}").fetchall())


def _norm(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def catalog_check(con, sf_dir, out_root, oracle_sql):
    """Per query: None if the Spark result equals the DuckDB oracle (columns
    sorted by name, rows by all columns, cells compared by repr), else the
    reason; also the Spark row count."""
    for t in CATALOG_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    res = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out_root}/{name}/*.parquet')").df()
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - a failed compare is a failed check
            res[name] = (f"{type(e).__name__}: {e}", None)
            continue
        g, w = _norm(got), _norm(want)
        if list(g.columns) != list(w.columns):
            res[name] = (f"columns {list(g.columns)} != {list(w.columns)}", len(g))
        elif len(g) != len(w):
            res[name] = (f"rows {len(g)} != {len(w)}", len(g))
        else:
            bad = None
            for c in g.columns:
                for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
                    if repr(a) != repr(b) and not (a != a and b != b):
                        bad = f"col={c} row={i}: spark={a!r} oracle={b!r}"
                        break
                if bad:
                    break
            res[name] = (bad, len(g))
    return res
