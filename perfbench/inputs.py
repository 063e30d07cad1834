"""Pipeline inputs: CSV copies of the parquet test tables in the reference's
source schemas (the mapping of `graft.queries.CsvFixtures`), one set for
day 1 and one for day 2. Day 2 carries a change set drawn from the seed:
5% of each dimension source's business keys get new non-key attributes
(strings reversed, so declared widths still validate; prices +1.00).
"""
import math
import random

import duckdb

SOURCES = {
    "customers": (
        "SELECT CAST(c_custkey AS INTEGER) AS customerid, c_name AS firstname, "
        "c_mktsegment AS lastname, c_name || '@example.com' AS email, "
        "c_mktsegment AS address, c_mktsegment AS city, substr(c_name, 10, 2) AS state, "
        "substr(c_name, 10, 9) AS zipcode FROM '$DATA/customer.parquet'"),
    "products": (
        "SELECT CAST(p_partkey AS INTEGER) AS productid, p_brand AS productname, "
        "p_type AS category, substr(p_name, 1, 50) AS description, "
        "CAST(p_retailprice AS DECIMAL(8,2)) AS price FROM '$DATA/part.parquet'"),
    "stores": (
        "SELECT CAST(n_nationkey AS INTEGER) AS storeid, n_name AS storename, "
        "n_name AS address, n_name AS city, substr(n_name, 1, 2) AS state, "
        "substr(n_name, 1, 10) AS zipcode FROM '$DATA/nation.parquet'"),
    "orders": (
        "SELECT CAST(o_orderkey AS INTEGER) AS orderid, CAST(o_custkey AS INTEGER) AS customerid, "
        "CAST(o_orderkey % 25 AS INTEGER) AS storeid, "
        "DATE '2023-01-01' + CAST(o_orderkey % 731 AS INTEGER) AS orderdate "
        "FROM '$DATA/orders.parquet'"),
    "orderdetails": (
        "SELECT CAST(l_orderkey AS INTEGER) AS orderid, CAST(l_partkey AS INTEGER) AS productid, "
        "CAST(trunc(min(l_quantity)) AS INTEGER) AS quantity, "
        "CAST((l_partkey % 100000) / 100 AS DECIMAL(8,2)) AS unitprice "
        "FROM '$DATA/lineitem.parquet' GROUP BY l_orderkey, l_partkey"),
}

# business key and non-key attributes of each dimension source
DIMENSIONS = {
    "customers": ("customerid", ["firstname", "lastname", "email", "address", "city",
                                 "state", "zipcode"]),
    "products": ("productid", ["productname", "category", "description", "price"]),
    "stores": ("storeid", ["storename", "address", "city", "state", "zipcode"]),
}

CHANGE_SHARE = 0.05


def _changed(key, attrs, table):
    cols = [key] + [
        (f"CASE WHEN {key} IN (SELECT k FROM changed_{table}) THEN "
         + (f"CAST({a} + 1 AS DECIMAL(8,2))" if a == "price" else f"reverse({a})")
         + f" ELSE {a} END AS {a}")
        for a in attrs]
    return ", ".join(cols)


def generate(data_dir, out_dir, seed, tables):
    """Write `out_dir/day{1,2}/<table>/part-0.csv`; return the number of
    changed rows per dimension source."""
    con = duckdb.connect()
    rng = random.Random(seed)
    changed = {}
    for t in tables:
        con.execute(f"CREATE TABLE src_{t} AS "
                    + SOURCES[t].replace("$DATA", data_dir.rstrip("/")))
        cols = "*"
        if t in DIMENSIONS:
            key, attrs = DIMENSIONS[t]
            keys = [r[0] for r in con.execute(f"SELECT {key} FROM src_{t} ORDER BY 1").fetchall()]
            pick = sorted(rng.sample(keys, max(1, math.ceil(CHANGE_SHARE * len(keys)))))
            con.execute(f"CREATE TABLE changed_{t} (k INTEGER)")
            con.executemany(f"INSERT INTO changed_{t} VALUES (?)", [(k,) for k in pick])
            changed[t] = len(pick)
            cols = _changed(key, attrs, t)
        for day, select in ((1, "*"), (2, cols)):
            d = out_dir / f"day{day}" / t
            d.mkdir(parents=True)
            con.execute(f"COPY (SELECT {select} FROM src_{t} ORDER BY 1, 2) TO "
                        f"'{d / 'part-0.csv'}' (HEADER, DELIMITER ',')")
    return changed
