"""DuckDB oracle for the table store: applies the same seeded op sequence in
SQL and yields the checksum the store's state must match after every op."""

from __future__ import annotations

import duckdb

#: checksum terms as (Spark SQL, DuckDB SQL); integers only, so equal states
#: give bit-equal checksums in both engines
CHECKSUM_TERMS = [
    ("count(*)", "count(*)"),
    ("sum(l_orderkey)", "sum(l_orderkey)"),
    ("sum(l_partkey)", "sum(l_partkey)"),
    ("sum(l_suppkey)", "sum(l_suppkey)"),
    ("sum(l_linenumber)", "sum(l_linenumber)"),
    ("sum(cast(l_quantity as bigint))", "sum(cast(l_quantity as bigint))"),
    ("sum(cast(round(l_extendedprice * 100) as bigint))",
     "sum(cast(round(l_extendedprice * 100) as bigint))"),
    ("sum(cast(round(l_discount * 100) as bigint))",
     "sum(cast(round(l_discount * 100) as bigint))"),
    ("sum(cast(round(l_tax * 100) as bigint))", "sum(cast(round(l_tax * 100) as bigint))"),
    ("sum(ascii(l_returnflag) * 7 + ascii(l_linestatus))",
     "sum(ascii(l_returnflag) * 7 + ascii(l_linestatus))"),
    ("sum(datediff(to_date(l_shipdate), date'1970-01-01'))",
     "sum(datediff('day', DATE '1970-01-01', l_shipdate))"),
    ("sum(length(l_comment))", "sum(length(l_comment))"),
]
SPARK_CHECKSUM = [s for s, _ in CHECKSUM_TERMS]
CHECKSUM_COLUMNS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                    "l_linestatus", "l_shipdate", "l_comment"]


class TableOracle:
    def __init__(self, items):
        self.con = duckdb.connect(":memory:")
        self.con.execute("SET threads TO 1")
        self.con.register("items_df", items)
        self.con.execute("CREATE TABLE t AS SELECT * FROM items_df")
        self.con.unregister("items_df")
        self.mark_good()

    def checksum(self) -> tuple:
        sql = ", ".join(d for _, d in CHECKSUM_TERMS)
        return tuple(int(v or 0) for v in self.con.execute(f"SELECT {sql} FROM t").fetchone())

    def count(self) -> int:
        return int(self.con.execute("SELECT count(*) FROM t").fetchone()[0])

    def mark_good(self) -> None:
        self.con.execute("CREATE OR REPLACE TABLE t_good AS SELECT * FROM t")

    def reset_to_good(self) -> None:
        self.con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM t_good")

    def delete_before(self, ts) -> None:
        self.con.execute("DELETE FROM t WHERE l_shipdate < ?", [ts])

    def delete_partkey_below(self, k: int) -> None:
        self.con.execute("DELETE FROM t WHERE l_partkey < ?", [k])

    def bump_tax(self, discount: float) -> None:
        self.con.execute("UPDATE t SET l_tax = l_tax + 0.01 WHERE l_discount = ?", [discount])

    def upsert(self, rows) -> None:
        self.con.register("src_df", rows)
        self.con.execute(
            "DELETE FROM t USING src_df s WHERE t.l_orderkey = s.l_orderkey "
            "AND t.l_linenumber = s.l_linenumber")
        self.con.execute("INSERT INTO t SELECT * FROM src_df")
        self.con.unregister("src_df")

    def lookup(self, orderkey: int) -> list[tuple]:
        return self.con.execute(
            "SELECT l_linenumber, l_partkey, l_quantity, l_tax FROM t "
            "WHERE l_orderkey = ? ORDER BY l_linenumber", [orderkey]).fetchall()

    def close(self) -> None:
        self.con.close()
