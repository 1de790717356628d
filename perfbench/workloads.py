"""The benchmark's workloads.

Each workload is a closed loop: one client thread issues an operation,
waits for its result, then issues the next.  A run is a fixed, seeded
sequence of passes, so the tables follow the same path on any host; only
the pass count depends on ``--seconds``.  Every operation's result is
checked after its pass, outside the timed region, against an independent
DuckDB replay of the same statements.

- ``analytics_read``: eleven registry reads per pass, ``QuerySpec.fn`` ->
  ``collect()``; no engine, no transaction log.
- ``txlog_dml``: ten commits (MERGE, UPDATE, DELETE, INSERT through
  ``Engine.sql``) and ten SELECTs per pass on one transaction-log table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq

import check
import datagen

ANALYTICS_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q9_product_profit",
    "q13_customer_distribution", "q18_large_volume_customer",
    "q21_waiting_orders", "window_topk_per_group", "agg_rollup",
)


@dataclass
class Op:
    """One client operation.  ``run(phase)`` performs it and returns what
    the check needs; ``phase(name)`` is a context manager the runner uses
    to attribute Spark work to a sub-step (plan vs collect)."""
    kind: str        # operation family, e.g. "merge", "select", "query"
    rw: str          # "read" or "write"
    run: Callable


class Workload:
    """Interface the runner drives.  ``build`` runs ``build_reps`` times over
    fresh paths (its median is the reported set-up cost); the passes use
    the last build."""
    name = ""
    build_reps = 3
    nominal_pass_s = 1.0   # pass wall time on a 4-core host, sets pass count
    warmup_passes = 1
    min_passes = 4

    def __init__(self, spark, run_dir: str, sf: float, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.sf = sf
        self.seed = seed
        self.errors: list[str] = []

    def prepare(self) -> None:
        """Benchmark-side inputs and oracles (not timed)."""

    def build(self, rep: int) -> None:
        raise NotImplementedError

    def ops(self, p: int) -> list[Op]:
        raise NotImplementedError

    def check(self, p: int, results: list) -> None:
        """Record mismatches of pass ``p``'s results in ``self.errors``."""

    def final_check(self) -> None:
        """Whole-table comparison at the end of the run."""

    def txlog_tables(self) -> list:
        return []

    def _fail(self, msg: str | None) -> None:
        if msg:
            self.errors.append(msg)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _duck_rows(con, sql: str):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _same_table(spark, duck, name: str, got, run_dir: str) -> str | None:
    """Row-for-row comparison of a Spark snapshot with the DuckDB replay
    table.  Both sides apply the same IEEE operations to the same inputs,
    so values compare exactly; the diff runs in Spark."""
    path = os.path.join(run_dir, f"expected_{name}.parquet")
    duck.execute(f"COPY {name} TO '{path}' (FORMAT PARQUET)")
    want = spark.read.parquet(path).select(*got.columns)
    missing = want.exceptAll(got).count()
    extra = got.exceptAll(want).count()
    if missing or extra:
        return (f"final {name}: {missing} expected rows missing, "
                f"{extra} unexpected rows")
    return None


# ---------------------------------------------------------------------------
# analytics_read


class AnalyticsRead(Workload):
    """The first warm-up pass reads a small copy of the tables
    (``WARM_SF``): it pays the cold start (class loading, first code
    generation, first JIT tiers) for less than a cold sf-scale pass.  The
    other two warm-up passes and all measured passes read the sf-scale
    tables, whose plans differ (see README, "Warm-up")."""
    name = "analytics_read"
    nominal_pass_s = 8.2
    warmup_passes = 3
    min_passes = 1
    WARM_SF = 0.005

    def prepare(self) -> None:
        from distributed_database_for_sql_spark.queries import registry

        self.specs = registry()
        self.warm_dir = os.path.join(self.run_dir, "warm")
        datagen.write_tables(datagen.analytics_tables(self.WARM_SF, self.seed),
                             self.warm_dir)
        # one directory per build, hard links to one written copy: each
        # build loads paths Spark has not seen, and none pays for writing
        first = os.path.join(self.run_dir, "sf_0")
        tables = datagen.analytics_tables(self.sf, self.seed)
        self.tables = tuple(tables)
        datagen.write_tables(tables, first)
        for rep in range(1, self.build_reps):
            os.makedirs(os.path.join(self.run_dir, f"sf_{rep}"))
            for f in os.listdir(first):
                os.link(os.path.join(first, f),
                        os.path.join(self.run_dir, f"sf_{rep}", f))
        self.expected = {"sf": self._oracle(first),
                         "warm": self._oracle(self.warm_dir)}

    def _oracle(self, sf_dir: str) -> dict:
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        out = {q: _duck_rows(con, self.specs[q].oracle)
               for q in ANALYTICS_QUERIES}
        con.close()
        return out

    def build(self, rep: int) -> None:
        from distributed_database_for_sql_spark.catalog import load_tables

        self.sf_dir = os.path.join(self.run_dir, f"sf_{rep}")
        load_tables(self.spark, self.sf_dir, self.tables)

    def ops(self, p: int) -> list[Op]:
        sf_dir = self.warm_dir if p == 0 else self.sf_dir

        def query(spec):
            def run(phase):
                with phase("plan"):
                    df = spec.fn(self.spark, sf_dir)
                with phase("collect"):
                    return df.columns, df.collect()
            return run
        return [Op("query", "read", query(self.specs[q]))
                for q in ANALYTICS_QUERIES]

    def check(self, p: int, results: list) -> None:
        expected = self.expected["warm" if p == 0 else "sf"]
        for q, (cols, rows) in zip(ANALYTICS_QUERIES, results):
            want_cols, want_rows = expected[q]
            self._fail(check.diff(f"pass {p} {q}", cols, rows,
                                  want_cols, want_rows))


# ---------------------------------------------------------------------------
# txlog_dml

_SLOT = 100            # key-window granularity
_PARTITIONS = 16       # initial range partitions (files) of the table


class TxlogDml(Workload):
    """Ten commits and ten SELECTs per pass on ``txorders``.

    The row count stays level: two fixed sets of three 100-key
    windows alternate; pass p deletes set p%2 and re-inserts the other set
    (deleted in pass p-1) through the two MERGEs and two INSERTs.  The
    initial table lacks set 1, as if pass -1 had deleted it.
    """
    name = "txlog_dml"
    nominal_pass_s = 6.4
    warmup_passes = 2
    min_passes = 2

    def prepare(self) -> None:
        self.orders = datagen.orders_table(self.sf, self.seed)
        self.n = self.orders.num_rows
        slots = _rng(self.seed, 10).choice(self.n // _SLOT, 6, replace=False)
        self.recycle = [sorted(int(s) * _SLOT for s in slots[:3]),
                        sorted(int(s) * _SLOT for s in slots[3:])]
        # window starts whose widest (5-slot) window misses both sets
        self.stable_slots = np.setdiff1d(
            np.arange(self.n // _SLOT - 4),
            np.concatenate([slots + d for d in range(-4, 1)]))
        # one catalog directory per build, hard links to one written file
        self.base_path = os.path.join(self.run_dir, "sf_0", "orders.parquet")
        os.makedirs(os.path.dirname(self.base_path))
        pq.write_table(self.orders, self.base_path)
        for rep in range(1, self.build_reps):
            os.makedirs(os.path.join(self.run_dir, f"sf_{rep}"))
            os.link(self.base_path, os.path.join(self.run_dir, f"sf_{rep}",
                                                 "orders.parquet"))
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE VIEW orders AS SELECT * FROM "
                          f"read_parquet('{self.base_path}')")
        self.duck.execute(f"CREATE TABLE txorders AS SELECT * FROM orders "
                          f"WHERE NOT ({self._in_windows(self.recycle[1])})")

    @staticmethod
    def _in_windows(starts, width: int = _SLOT) -> str:
        return " OR ".join(f"(o_orderkey >= {s} AND o_orderkey < {s + width})"
                           for s in starts)

    def build(self, rep: int) -> None:
        from distributed_database_for_sql_spark.engine import Engine
        from distributed_database_for_sql_spark.sources.txlog import TxLogTable

        self.engine = Engine(self.spark, os.path.join(self.run_dir, f"sf_{rep}"))
        initial = (self.spark.table("orders")
                   .where(f"NOT ({self._in_windows(self.recycle[1])})")
                   .repartitionByRange(_PARTITIONS, "o_orderkey"))
        self.table = TxLogTable.create(
            self.spark, os.path.join(self.run_dir, f"txorders_{rep}"), initial)
        self.engine.register_txlog("txorders", self.table)

    def txlog_tables(self) -> list:
        return [self.table]

    def _statements(self, p: int) -> list[tuple[str, str, str, list[str]]]:
        """(name, kind, spark_sql, duckdb_sqls) for pass p, in order."""
        rng = _rng(self.seed, 100 + p)
        cur, prev = self.recycle[p % 2], self.recycle[(p + 1) % 2]
        win = [int(s) * _SLOT for s in rng.choice(self.stable_slots, 8, replace=False)]
        r = [int(x) for x in rng.integers(0, 97, 4)]
        delta = 0.25 * (p % 8 + 1)

        def merge(i, upd_start, reins_start):
            src = (f"SELECT o_orderkey, o_custkey, o_orderstatus, "
                   f"o_totalprice + {delta} AS o_totalprice, o_orderdate, "
                   f"o_orderpriority FROM orders WHERE "
                   f"{self._in_windows([upd_start], 3 * _SLOT)} OR "
                   f"{self._in_windows([reins_start])}")
            self.spark.sql(f"CREATE OR REPLACE TEMP VIEW mergesrc{i} AS {src}")
            return (f"merge{i}", "merge",
                    f"MERGE INTO txorders USING mergesrc{i} "
                    f"ON txorders.o_orderkey = mergesrc{i}.o_orderkey "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *",
                    [f"DELETE FROM txorders WHERE o_orderkey IN "
                     f"(SELECT o_orderkey FROM ({src}))",
                     f"INSERT INTO txorders {src}"])

        def same(name, kind, sql):
            return (name, kind, sql, [sql])

        def delete(i, start):
            return same(f"delete{i}", "delete",
                        f"DELETE FROM txorders WHERE "
                        f"o_orderkey >= {start} AND o_orderkey < {start + _SLOT}")

        def insert(i, start, width):
            return same(f"insert{i}", "insert",
                        f"INSERT INTO txorders SELECT * FROM orders WHERE "
                        f"o_orderkey >= {start} AND o_orderkey < {start + width}")

        def update(i, start):
            return same(f"update{i}", "update",
                        f"UPDATE txorders SET o_totalprice = o_totalprice + 1.5, "
                        f"o_orderstatus = 'P' WHERE o_orderkey >= {start} "
                        f"AND o_orderkey < {start + 5 * _SLOT}")

        half = _SLOT // 2
        writes = [
            merge(0, win[0], prev[0]),
            delete(0, cur[0]),
            update(0, win[1]),
            insert(0, prev[2], half),
            delete(1, cur[1]),
            merge(1, win[2], prev[1]),
            # non-key predicate: matches sit in every file, nothing prunes
            same("update_nonkey", "update",
                 f"UPDATE txorders SET o_totalprice = o_totalprice - 2.25 "
                 f"WHERE o_custkey % 211 = {r[0]}"),
            delete(2, cur[2]),
            update(1, win[3]),
            insert(1, prev[2] + half, half),
        ]
        selects = [
            "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
            "FROM txorders GROUP BY o_orderpriority",
            f"SELECT * FROM txorders WHERE o_orderkey >= {win[0]} "
            f"AND o_orderkey < {win[0] + 50}",
            "SELECT o_orderstatus, COUNT(*) AS n FROM txorders "
            "GROUP BY o_orderstatus",
            f"SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM txorders "
            f"WHERE o_custkey % 97 = {r[1]}",
            f"SELECT * FROM txorders WHERE o_orderkey >= {win[4]} "
            f"AND o_orderkey < {win[4] + 50}",
            "SELECT COUNT(*) AS n, MIN(o_orderkey) AS lo, "
            "MAX(o_orderkey) AS hi FROM txorders",
            f"SELECT o_custkey, COUNT(*) AS n FROM txorders "
            f"WHERE o_orderkey >= {win[5]} AND o_orderkey < {win[5] + 2000} "
            f"GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT 10",
            f"SELECT * FROM txorders WHERE o_orderkey >= {win[1]} "
            f"AND o_orderkey < {win[1] + 50}",
            f"SELECT o_orderpriority, MAX(o_totalprice) AS top FROM txorders "
            f"WHERE o_custkey % 89 = {r[2]} GROUP BY o_orderpriority",
            f"SELECT COUNT(*) AS n FROM txorders WHERE o_orderkey >= {win[6]} "
            f"AND o_orderkey < {win[6] + 3000}",
        ]
        out = []
        for i, (w, s) in enumerate(zip(writes, selects)):
            out.append(w)
            out.append(same(f"select{i}", "select", s))
        return out

    def ops(self, p: int) -> list[Op]:
        self.pass_statements = self._statements(p)
        ops = []
        for _, kind, sql, _ in self.pass_statements:
            if kind == "select":
                def run(phase, sql=sql):
                    df = self.engine.sql(sql)
                    with phase("collect"):
                        return df.columns, df.collect()
                ops.append(Op(kind, "read", run))
            else:
                ops.append(Op(kind, "write",
                              lambda phase, sql=sql: self.engine.sql(sql)))
        return ops

    _FINGERPRINT = ("SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, "
                    "SUM(o_orderkey) AS keys, SUM(o_custkey) AS custs, "
                    "SUM(o_totalprice) AS total, MIN(o_orderdate) AS first, "
                    "MAX(o_orderdate) AS last FROM {t} "
                    "GROUP BY o_orderpriority, o_orderstatus")

    def check(self, p: int, results: list) -> None:
        for (name, kind, _, duck_sqls), res in zip(self.pass_statements, results):
            if kind == "select":
                want = _duck_rows(self.duck, duck_sqls[0])
                self._fail(check.diff(f"pass {p} {name}", *res, *want))
            else:
                for sql in duck_sqls:
                    self.duck.execute(sql)
        got = self.table.read()
        got.createOrReplaceTempView("perfbench_snapshot")
        got_df = self.spark.sql(self._FINGERPRINT.format(t="perfbench_snapshot"))
        self._fail(check.diff(f"pass {p} table fingerprint", got_df.columns,
                              got_df.collect(),
                              *_duck_rows(self.duck, self._FINGERPRINT.format(
                                  t="txorders"))))

    def final_check(self) -> None:
        self._fail(_same_table(self.spark, self.duck, "txorders",
                               self.table.read(), self.run_dir))


WORKLOADS = {w.name: w for w in (AnalyticsRead, TxlogDml)}
