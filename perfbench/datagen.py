"""Seeded TPC-H-shaped input tables for the served-path benchmark.

The same seed always yields byte-for-byte the same rows (DuckDB's `hash`
is deterministic within a release). Sizes follow TPC-H scale factor 0.1:
150k orders, 15k customers, 600k lineitems, plus 100k events. Money is
stored in integer cents and discounts in integer percent, so every
aggregate the benchmark checks is exact in both Spark and DuckDB.
"""
import os

import duckdb

ORDERS = 150_000
CUSTOMERS = 15_000
LINES_PER_ORDER = 4
EVENTS = 100_000
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "search", "cart", "purchase", "logout"]
# first order date and the span of order dates in days (1992-01-01 .. 1998-08-02)
EPOCH_DATE = "1992-01-01"
ORDER_DAYS = 2405
# events cover 30 days from this unix second
EVENT_T0 = 1_700_000_000
EVENT_SPAN_S = 30 * 86_400


def _pick(values, expr):
    """SQL picking one of `values` by a non-negative integer expression."""
    arr = "[" + ",".join("'%s'" % v for v in values) + "]"
    return "%s[1 + (%s) %% %d]" % (arr, expr, len(values))


def _tables(seed):
    h = lambda salt, col="i": "(hash(%s, %d, %d) >> 1)::BIGINT" % (col, seed, salt)
    region = "SELECT i::INTEGER AS r_regionkey, %s AS r_name FROM range(5) t(i)" % (
        "['%s'][i + 1]" % "','".join(REGIONS))
    nation = ("SELECT i::INTEGER AS n_nationkey, 'NATION_' || lpad(i::VARCHAR, 2, '0') "
              "AS n_name, (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)")
    customer = (
        "SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
        "(%s %% 25)::INTEGER AS c_nationkey, (%s %% 1100000)::BIGINT - 100000 AS c_acctbal, "
        "%s AS c_mktsegment FROM range(1, %d) t(i)"
        % (h(1), h(2), _pick(SEGMENTS, h(3)), CUSTOMERS + 1))
    orders = (
        "SELECT i::BIGINT AS o_orderkey, (1 + %s %% %d)::BIGINT AS o_custkey, "
        "%s AS o_orderstatus, (100000 + %s %% 50000000)::BIGINT AS o_totalprice, "
        "(DATE '%s' + (%s %% %d)::INTEGER) AS o_orderdate, %s AS o_orderpriority "
        "FROM range(1, %d) t(i)"
        % (h(11), CUSTOMERS, _pick(["F", "O", "P"], h(12)), h(13), EPOCH_DATE, h(14),
           ORDER_DAYS, _pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                             h(15)), ORDERS + 1))
    lineitem = (
        "SELECT o.o_orderkey AS l_orderkey, n::INTEGER AS l_linenumber, "
        "(1 + %s %% 20000)::BIGINT AS l_partkey, (1 + %s %% 50)::INTEGER AS l_quantity, "
        "(10000 + %s %% 10000000)::BIGINT AS l_extendedprice, "
        "(%s %% 11)::INTEGER AS l_discount, (%s %% 9)::INTEGER AS l_tax, "
        "%s AS l_returnflag, %s AS l_linestatus, "
        "(o.o_orderdate + (1 + %s %% 121)::INTEGER) AS l_shipdate "
        "FROM orders o, range(1, %d) l(n)"
        % (h(21, "o.o_orderkey * 8 + n"), h(22, "o.o_orderkey * 8 + n"),
           h(23, "o.o_orderkey * 8 + n"), h(24, "o.o_orderkey * 8 + n"),
           h(25, "o.o_orderkey * 8 + n"), _pick(["A", "N", "R"], h(26, "o.o_orderkey * 8 + n")),
           _pick(["F", "O"], h(27, "o.o_orderkey * 8 + n")), h(28, "o.o_orderkey * 8 + n"),
           LINES_PER_ORDER + 1))
    events = (
        "SELECT i::BIGINT AS event_id, (%d + %s %% %d)::BIGINT AS ts, "
        "(1 + %s %% 5000)::BIGINT AS user_id, %s AS event_type, "
        "(%s %% 1000)::BIGINT AS value FROM range(1, %d) t(i)"
        % (EVENT_T0, h(31), EVENT_SPAN_S, h(32), _pick(EVENT_TYPES, h(33)), h(34), EVENTS + 1))
    return [("region", region), ("nation", nation), ("customer", customer),
            ("orders", orders), ("lineitem", lineitem), ("events", events)]


def generate(seed, out_dir, tables=TABLES):
    """Write the seed's `tables` as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, sql in _tables(seed):
        # lineitem is derived from orders, so orders is built for it too
        if name in tables or (name == "orders" and "lineitem" in tables):
            con.execute("CREATE TABLE %s AS %s ORDER BY 1" % (name, sql))
        if name in tables:
            con.execute("COPY %s TO '%s' (FORMAT PARQUET, ROW_GROUP_SIZE 100000)"
                        % (name, os.path.join(out_dir, name + ".parquet")))
    con.close()
    return out_dir
