"""Seeded DML op lists for a transactional table loaded from ``orders``,
their execution through ``sources.txn_table``, and a DuckDB replay that
gives the expected result of every read and the expected final version."""

from __future__ import annotations

import shutil

import numpy as np

# The table: one row per order, with unique key ``k`` (merge keys must be
# unique) and integer cents so sums compare exactly.
TABLE_SQL = (
    "SELECT o_orderkey AS k, o_custkey AS cust, "
    "CAST(round(o_totalprice * 100) AS BIGINT) AS cents, "
    "o_orderpriority AS prio FROM orders"
)
NEW_KEY_BASE = 1_000_000_000
UPDATE_DELTA = 7


def sizes(n_orders: int) -> dict[str, int]:
    """Op sizes as shares of the orders table (at 150,000 orders: a 2,000-key
    merge and 500-key DV deletes and updates)."""
    return {
        "initial": n_orders * 2 // 3,
        "append": n_orders // 30,
        "merge": n_orders // 75,
        "dv": n_orders // 300,
        "range": n_orders // 15,
    }


def make_ops(seed: int, n_orders: int, rounds: int) -> list[dict]:
    """``rounds`` rounds of append, merge, DV delete, DV update and three
    reads; a compaction after every 4th round and after the last, then a
    vacuum.  Same seed, same ops; ranges move with the seed."""
    rng = np.random.default_rng([seed, 0x7478])
    s = sizes(n_orders)
    if s["initial"] + rounds * s["append"] > n_orders:
        raise ValueError(f"{rounds} rounds do not fit in {n_orders} orders")
    ops: list[dict] = []
    for r in range(rounds):
        lo = s["initial"] + r * s["append"]
        top = lo + s["append"]  # highest loaded key + 1 after this append
        ops.append({"op": "append", "lo": lo, "hi": top})

        def rng_range(width: int) -> tuple[int, int]:
            a = int(rng.integers(0, top - width))
            return a, a + width

        m_lo, m_hi = rng_range(s["merge"])
        ops.append({
            "op": "merge", "lo": m_lo, "hi": m_hi,
            "delta": int(rng.integers(1, 100)),
            "new_lo": NEW_KEY_BASE + r * s["merge"], "n_new": s["merge"] // 4,
        })
        d_lo, d_hi = rng_range(s["dv"])
        ops.append({"op": "delete_dv", "lo": d_lo, "hi": d_hi})
        u_lo, u_hi = rng_range(s["dv"])
        ops.append({"op": "update_dv", "lo": u_lo, "hi": u_hi, "delta": UPDATE_DELTA})
        q_lo, q_hi = rng_range(s["range"])
        ops.append({"op": "read_range", "lo": q_lo, "hi": q_hi})
        ops.append({"op": "read_full"})
        ops.append({"op": "read_version", "back": int(rng.integers(1, 4 * r + 6))})
        if (r + 1) % 4 == 0 or r == rounds - 1:
            ops.append({"op": "compact"})
    ops.append({"op": "vacuum"})
    return ops


def _pred(op: dict) -> str:
    return f"k >= {op['lo']} AND k < {op['hi']}"


def load(source_df, root: str, n_initial: int) -> int:
    """Write the table's first version: keys below ``n_initial``."""
    from dbt_trill_shop_spark.sources import txn_table as T

    return T.write_txn(source_df.filter(f"k < {n_initial}"), root)


class TxnRunner:
    """Runs ops against one table root, a copy of the table ``load`` wrote
    (it keeps relative file paths); reads return (count, sum(cents))."""

    def __init__(self, spark, source_df, root: str, loaded_root: str):
        from dbt_trill_shop_spark.sources import txn_table as T

        self.T = T
        self.spark = spark
        self.src = source_df
        self.root = root
        shutil.copytree(loaded_root, root)
        self.version = T.snapshot(root).version

    @staticmethod
    def _agg(df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")).collect()[0]
        return int(row["n"]), int(row["s"] or 0)

    def run(self, op: dict):
        """Apply one op; returns (result, extra) where ``result`` is the read
        tuple or None and ``extra`` holds per-op facts (versions read, files
        a range read scans)."""
        from pyspark.sql import functions as F

        T, spark, root, kind = self.T, self.spark, self.root, op["op"]
        extra: dict = {}
        result = None
        if kind == "append":
            self.version = T.write_txn(self.src.filter(_pred(op)), root)
        elif kind == "merge":
            rows = self.src.filter(_pred(op))
            upd = rows.withColumn("cents", F.col("cents") + F.lit(op["delta"]))
            new = self.src.filter(f"k >= {op['lo']} AND k < {op['lo'] + op['n_new']}")
            new = new.withColumn("k", F.col("k") - F.lit(op["lo"]) + F.lit(op["new_lo"]))
            self.version = T.merge_txn(spark, upd.unionByName(new), root, on="k")
        elif kind == "delete_dv":
            self.version = T.delete_txn_dv(spark, root, _pred(op))
        elif kind == "update_dv":
            self.version = T.update_txn_dv(
                spark, root, _pred(op), {"cents": f"cents + {op['delta']}"}
            )
        elif kind == "compact":
            self.version = T.compact_txn(spark, root)
        elif kind == "vacuum":
            extra["removed"] = len(T.vacuum_txn(root, retain_versions=1, min_age_sec=0))
        elif kind == "read_range":
            df = T.read_txn(spark, root, where=_pred(op))
            extra["files_scanned"] = len(df.inputFiles())
            result = self._agg(df)
        elif kind == "read_full":
            result = self._agg(T.read_txn(spark, root))
        elif kind == "read_version":
            extra["version"] = max(0, self.version - op["back"])
            result = self._agg(T.read_txn(spark, root, version=extra["version"]))
        else:
            raise ValueError(f"unknown op {kind!r}")
        extra["after_version"] = self.version
        return result, extra


def replay(con, n_initial: int, ops: list[dict], read_versions: list[int | None]) -> dict:
    """Apply ``ops`` to a DuckDB table built from the same ``orders`` view.

    ``read_versions[i]`` is the version op ``i`` read (``read_version`` ops
    only).  Returns the expected read results (None for writes), the
    expected final version and final (count, sum(cents))."""
    con.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM ({TABLE_SQL}) WHERE k < {n_initial}")

    def state(where: str = "TRUE") -> tuple[int, int]:
        n, s = con.execute(
            f"SELECT COUNT(*), CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM t WHERE {where}"
        ).fetchone()
        return int(n), int(s)

    def matched(pred: str) -> int:
        return con.execute(f"SELECT COUNT(*) FROM t WHERE {pred}").fetchone()[0]

    version = 0
    states = {0: state()}
    expected: list = []
    for op, rv in zip(ops, read_versions):
        kind = op["op"]
        res = None
        if kind == "append":
            con.execute(f"INSERT INTO t SELECT * FROM ({TABLE_SQL}) WHERE {_pred(op)}")
            version += 1
        elif kind == "merge":
            src = f"SELECT * FROM ({TABLE_SQL}) WHERE {_pred(op)}"
            new = (
                f"SELECT k - {op['lo']} + {op['new_lo']} AS k, cust, cents, prio "
                f"FROM ({TABLE_SQL}) WHERE k >= {op['lo']} AND k < {op['lo'] + op['n_new']}"
            )
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE m AS SELECT k, cust, cents + {op['delta']} AS cents, "
                f"prio FROM ({src}) UNION ALL {new}"
            )
            con.execute("DELETE FROM t WHERE k IN (SELECT k FROM m)")
            con.execute("INSERT INTO t SELECT * FROM m")
            version += 1
        elif kind == "delete_dv":
            if matched(_pred(op)):
                con.execute(f"DELETE FROM t WHERE {_pred(op)}")
                version += 1
        elif kind == "update_dv":
            if matched(_pred(op)):
                con.execute(f"UPDATE t SET cents = cents + {op['delta']} WHERE {_pred(op)}")
                version += 1
        elif kind == "compact":
            version += 1
        elif kind == "read_range":
            res = state(_pred(op))
        elif kind == "read_full":
            res = state()
        elif kind == "read_version":
            res = states[rv]
        states[version] = state()
        expected.append(res)
    return {"reads": expected, "version": version, "final": states[version]}
