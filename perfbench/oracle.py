"""Expected results, computed with DuckDB straight from the generated
source tables, and the checks of the engine's outputs against them.

etl_build: every written warehouse table is reduced to a row count, a
count of distinct surrogate keys and an order-free digest (the sum of
DuckDB's row hashes) of its rows with every surrogate key resolved back
through the written dimensions to the source's natural keys. The same
reduction of the source tables is the expectation, so a wrong measure,
a key pointing at the wrong customer or part, or a wrong date key shows.

store_churn: the live table is hashed in `tools/check.py`'s canonical
form (rows sorted, columns by name, values as pandas/DuckDB see them)
and compared with the source events.
"""
import ast
import hashlib
import json
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_TABLES = ["region", "nation", "customer", "part", "orders", "lineitem", "events"]
WAREHOUSE_TABLES = ["dim_customer", "dim_date", "dim_order_flags", "dim_part",
                    "dim_segment", "dim_type", "fact_lineitem"]


def _check_py(*names):
    """The named functions of tools/check.py (one scope), without running
    its main."""
    path = os.path.join(ROOT, "tools", "check.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    tree.body = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in names]
    scope = {}
    exec(compile(tree, path, "exec"), scope)
    return scope


_CHECK = _check_py("canon", "df_rows", "frame_sig")


def _digest(cols, key, frm):
    hashed = ", ".join(cols)
    return f"SELECT count(*), count(DISTINCT {key}), sum(hash({hashed})) FROM {frm}"


def _revenue_written(c):
    """revenue in units of 1e-8: the engine computes it exactly in
    DECIMAL(18,4) x DECIMAL(18,4) and stores the double nearest"""
    return f"CAST(round({c} * 1e8) AS BIGINT)"


# (written side, source side) per table; the written side joins every
# surrogate key back to its dimension's natural key
ETL_DIGESTS = {
    "dim_customer": (
        _digest(["c_custkey::BIGINT", "c_name::VARCHAR", "c_mktsegment::VARCHAR",
                 "c_acctbal::DOUBLE", "nation::VARCHAR", "region::VARCHAR"],
                "customer_sk", "w_dim_customer"),
        _digest(["c_custkey::BIGINT", "c_name::VARCHAR", "c_mktsegment::VARCHAR",
                 "c_acctbal::DOUBLE", "n_name::VARCHAR", "r_name::VARCHAR"], "c_custkey",
                """customer LEFT JOIN nation ON c_nationkey = n_nationkey
                   LEFT JOIN region ON n_regionkey = r_regionkey""")),
    "dim_date": (
        _digest(["date_key::BIGINT", "date_actual::DATE", "year::BIGINT", "month::BIGINT",
                 "quarter::BIGINT", "day_of_week::BIGINT", "month_name::VARCHAR"],
                "date_key", "w_dim_date"),
        _digest(["(year(d) * 10000 + month(d) * 100 + day(d))::BIGINT", "d", "year(d)::BIGINT",
                 "month(d)::BIGINT", "quarter(d)::BIGINT", "(dayofweek(d) + 1)::BIGINT",
                 "strftime(d, '%B')"], "d",
                """(SELECT DISTINCT d FROM (SELECT CAST(o_orderdate AS DATE) AS d FROM orders
                    UNION ALL SELECT CAST(l_shipdate AS DATE) FROM lineitem)
                    WHERE d IS NOT NULL)""")),
    "dim_order_flags": (
        _digest(["order_status::VARCHAR", "order_priority::VARCHAR"], "junk_sk",
                "w_dim_order_flags"),
        _digest(["o_orderstatus::VARCHAR", "o_orderpriority::VARCHAR"],
                "(o_orderstatus, o_orderpriority)",
                "(SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)")),
    "dim_part": (
        _digest(["p_partkey::BIGINT", "p_name::VARCHAR", "p_brand::VARCHAR", "p.p_type::VARCHAR",
                 "p_size::BIGINT", "p_retailprice::DOUBLE", "t.p_type::VARCHAR",
                 "seg_name::VARCHAR"], "part_sk",
                """w_dim_part p LEFT JOIN w_dim_type t ON p.type_sk = t.type_sk
                   LEFT JOIN w_dim_segment s ON t.seg_sk = s.seg_sk"""),
        _digest(["p_partkey::BIGINT", "p_name::VARCHAR", "p_brand::VARCHAR", "p_type::VARCHAR",
                 "p_size::BIGINT", "p_retailprice::DOUBLE", "p_type::VARCHAR",
                 "split_part(p_type, ' ', 1)"], "p_partkey", "part")),
    "dim_segment": (
        _digest(["seg_name::VARCHAR"], "seg_sk", "w_dim_segment"),
        _digest(["s::VARCHAR"], "s",
                "(SELECT DISTINCT split_part(p_type, ' ', 1) AS s FROM part)")),
    "dim_type": (
        _digest(["t.p_type::VARCHAR", "seg_name::VARCHAR"], "type_sk",
                "w_dim_type t LEFT JOIN w_dim_segment s ON t.seg_sk = s.seg_sk"),
        _digest(["p_type::VARCHAR", "split_part(p_type, ' ', 1)"], "p_type",
                "(SELECT DISTINCT p_type FROM part)")),
    "fact_lineitem": (
        _digest(["l_orderkey::BIGINT", "l_linenumber::BIGINT", "c.c_custkey::BIGINT",
                 "p.p_partkey::BIGINT", "j.order_status::VARCHAR", "j.order_priority::VARCHAR",
                 "order_date_key::BIGINT", "ship_date_key::BIGINT", "quantity::DOUBLE",
                 _revenue_written("revenue"), "return_flag::VARCHAR"],
                "(l_orderkey, l_linenumber)",
                """w_fact_lineitem f
                   LEFT JOIN w_dim_customer c ON f.customer_sk = c.customer_sk
                   LEFT JOIN w_dim_part p ON f.part_sk = p.part_sk
                   LEFT JOIN w_dim_order_flags j ON f.junk_sk = j.junk_sk"""),
        _digest(["l_orderkey::BIGINT", "l_linenumber::BIGINT", "c_custkey::BIGINT",
                 "p_partkey::BIGINT", "o_orderstatus::VARCHAR", "o_orderpriority::VARCHAR",
                 "(year(o_orderdate) * 10000 + month(o_orderdate) * 100"
                 " + day(o_orderdate))::BIGINT",
                 "(year(l_shipdate) * 10000 + month(l_shipdate) * 100"
                 " + day(l_shipdate))::BIGINT", "l_quantity::DOUBLE",
                 "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(38,4))"
                 " * CAST(1.0 - l_discount AS DECIMAL(18,4)) * 100000000 AS BIGINT)",
                 "l_returnflag::VARCHAR"],
                "(l_orderkey, l_linenumber)",
                """lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
                   LEFT JOIN customer ON o_custkey = c_custkey
                   LEFT JOIN part ON l_partkey = p_partkey""")),
}

# ts compared as a UTC wall-clock TIMESTAMP: the engine writes instants
# (TIMESTAMP WITH TIME ZONE), the source holds plain timestamps
EVENT_COLUMNS = "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props"


def connect(data_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    if data_dir is None:
        return con
    for t in SOURCE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _sig(df):
    return list(_CHECK["frame_sig"](*_CHECK["df_rows"](df)))


def _etl_digests(con, side):
    return {t: [str(x) for x in con.execute(q[side]).fetchone()]
            for t, q in ETL_DIGESTS.items()}


def compute(workload, data_dir):
    con = connect(data_dir)
    if workload == "etl_build":
        return {"fact_rows": con.execute("SELECT count(*) FROM lineitem").fetchone()[0],
                "digests": _etl_digests(con, 1)}
    if workload == "store_churn":
        return {"live": _sig(con.execute(f"SELECT {EVENT_COLUMNS} FROM events").df())}
    raise ValueError(workload)


def expected(workload, data_dir):
    """Computed once per (workload, input dir, oracle code) and kept beside
    the inputs."""
    h = hashlib.sha256()
    for f in (__file__, os.path.join(ROOT, "tools", "check.py")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(data_dir, f"expected-{workload}-{h.hexdigest()[:12]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    exp = compute(workload, data_dir)
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(path + ".tmp", path)
    return exp


def warehouse_digests(out_dir):
    """The written warehouse under out_dir, reduced as the source is."""
    con = connect()
    for t in WAREHOUSE_TABLES:
        con.execute(f"CREATE VIEW w_{t} AS SELECT * FROM read_parquet('{out_dir}/{t}/*.parquet')")
    return _etl_digests(con, 0)


def spark_output_sig(parquet_dir):
    return _sig(connect().execute(
        f"SELECT {EVENT_COLUMNS} FROM read_parquet('{parquet_dir}/*.parquet')").df())
