"""Seeded star-schema inputs for the benchmark, written with DuckDB.

The tables have the names, column types and parquet layout (one file,
one row group, naive microsecond timestamps) of the engine's test data,
which `graft.Tables` loads and the DuckDB oracles query. Every value is a
hash of (row id, seed, column salt), so a seed and scale always give the
same tables. Cardinalities follow the test data's ratios per unit of
scale (1.5M orders, 6M lineitems, 200k parts, 10k suppliers) and the
value domains match it (25 brands, sizes 1-50, 25 nations, quantities
1-50): the registry's blocking and the graph kernels' shapes depend on
them.
"""
import os

import duckdb

TABLES = ("region", "nation", "supplier", "part", "orders", "lineitem")


def sizes(sf):
    orders = max(100, int(1_500_000 * sf))
    return {"orders": orders, "lineitem": orders * 4,
            "part": max(50, int(200_000 * sf)),
            "supplier": max(10, int(10_000 * sf))}


def _pick(u, values):
    items = ", ".join("'" + v + "'" for v in values)
    return f"[{items}][{u} + 1]"


def table_sql(seed, sf):
    n = sizes(sf)

    # the outer hash mixes the combined key: DuckDB's multi-argument
    # hash leaves the low bits of different salts correlated
    def u(salt, k):
        return f"(hash(hash(i, {int(seed)}, {salt})) % {k})::BIGINT"

    def day(salt, days):
        return f"(TIMESTAMP '1995-01-01' + to_days({u(salt, days)}::INTEGER))"

    rng = "FROM range({}) t(i)"
    return {
        "region": "SELECT i::INTEGER AS r_regionkey, "
                  + _pick("i", ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])
                  + " AS r_name " + rng.format(5),
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey " + rng.format(25),
        "supplier": "SELECT i::BIGINT AS s_suppkey, "
                    "'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                    f"{u(1, 25)}::INTEGER AS s_nationkey, "
                    f"({u(2, 1_100_000)} - 100000) / 100.0 AS s_acctbal "
                    + rng.format(n["supplier"]),
        "part": "SELECT i::BIGINT AS p_partkey, "
                + _pick(u(1, 8), ["small", "new", "blue", "old", "large", "hot", "cold", "red"])
                + " || ' ' || "
                + _pick(u(2, 8), ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
                + " AS p_name, "
                f"'Brand#' || ({u(3, 25)} + 1) AS p_brand, "
                + _pick(u(4, 6), ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
                + " AS p_type, "
                f"({u(5, 50)} + 1)::INTEGER AS p_size, "
                "900.0 + (i % 1000) / 10.0 AS p_retailprice "
                + rng.format(n["part"]),
        "orders": "SELECT i::BIGINT AS o_orderkey, "
                  f"{u(1, max(10, n['orders'] // 10))} AS o_custkey, "
                  + _pick(u(2, 3), ["O", "F", "P"]) + " AS o_orderstatus, "
                  f"({u(3, 49_900_000)} + 100000) / 100.0 AS o_totalprice, "
                  f"{day(4, 2404)} AS o_orderdate, "
                  + _pick(u(5, 5), ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                  + " AS o_orderpriority " + rng.format(n["orders"]),
        "lineitem": f"SELECT {u(1, n['orders'])} AS l_orderkey, "
                    f"{u(2, n['part'])} AS l_partkey, "
                    f"{u(3, n['supplier'])} AS l_suppkey, "
                    f"({u(4, 7)} + 1)::INTEGER AS l_linenumber, "
                    f"({u(5, 50)} + 1)::DOUBLE AS l_quantity, "
                    f"({u(6, 10_410_000)} + 90000) / 100.0 AS l_extendedprice, "
                    f"{u(7, 11)} / 100.0 AS l_discount, "
                    f"{u(8, 9)} / 100.0 AS l_tax, "
                    + _pick(u(9, 3), ["A", "N", "R"]) + " AS l_returnflag, "
                    + _pick(u(10, 2), ["O", "F"]) + " AS l_linestatus, "
                    f"{day(11, 2499)} AS l_shipdate "
                    + rng.format(n["lineitem"]),
    }


def generate(out, seed, sf):
    """Writes the tables for (seed, sf) into directory `out`."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, sql in table_sql(seed, sf).items():
            path = os.path.join(out, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' "
                        "(FORMAT PARQUET, ROW_GROUP_SIZE 100000000)")
    finally:
        con.close()
    return out
