"""The benchmark's workloads: which operations run, in what order, and how
each result is checked.

Every workload is a closed loop with one client: one operation at a time,
back to back, against one local session. A *pass* runs every operation of
the workload once; the seed fixes the query order within each pass and the
DML statement constants.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from perfbench import oracle


@dataclass
class Op:
    """One operation. ``kind`` is ``query``, ``read`` or ``write``; ``sql``
    is the statement a DML op sends through ``Session.sql`` and ``duck``
    the DuckDB statements that replay it, when they differ from ``sql``."""

    name: str
    kind: str
    sql: str | None = None
    duck: tuple[str, ...] = ()


def _raised(res) -> str | None:
    return f"raised {type(res).__name__}: {res}" if isinstance(res, BaseException) else None


class QueryWorkload:
    """Registry queries, each compared with its DuckDB oracle."""

    def __init__(self, queries: tuple[str, ...], seed: int, sf: float, data_dir: str, oracle_cache: str, checksum: str):
        self.queries = queries
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.oracle = oracle.QueryOracle(data_dir, oracle_cache, checksum)

    def setup(self, spark, session) -> None:
        import qurious_spark.queries as q

        q.load_all()
        q.ensure_views(spark, self.data_dir)
        spark.sql("SELECT count(*) FROM lineitem").collect()

    def pass_ops(self) -> list[Op]:
        names = list(self.queries)
        self.rng.shuffle(names)
        return [Op(n, "query") for n in names]

    def build(self, op: Op, spark, session):
        import qurious_spark.queries as q

        return q.REGISTRY[op.name](spark, self.data_dir)

    def check(self, done: list[tuple[Op, object]]) -> list[str | None]:
        """Per executed op, why its result is wrong (None when right).
        ``done`` pairs each op with its normalized result or the exception
        it raised."""
        out = [
            _raised(res) or oracle.mismatch(res, self.oracle.expected(op.name))
            for op, res in done
        ]
        self.oracle.close()
        return out


TABLE = "mt_orders"
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"


class DmlWorkload:
    """A seeded stream of INSERT…SELECT, UPDATE, DELETE and MERGE on a
    managed copy of ``orders``, through ``Session.sql``.

    A pass is 16 writes, so it crosses the session's checkpoint every 16
    mutations exactly once, in two rounds of eight. Round one holds the
    MERGE and ends in an aggregate read over the eight-mutation-deep plan;
    round two ends in a point-lookup read just after the checkpoint. The
    order is fixed, since the cost of a lazy write grows with the plan it
    extends; the seed picks every constant."""

    ROUNDS = (
        ("insert", "update", "delete", "merge", "update", "delete", "update", "delete"),
        ("insert", "update", "delete", "insert", "update", "delete", "update", "delete"),
    )

    def __init__(self, seed: int, sf: float, data_dir: str, oracle_cache: str, checksum: str):
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.n_cust = max(1, round(150_000 * sf))
        self.inserts = self.merges = 0
        self.deleted: set[int] = set()

    def setup(self, spark, session) -> None:
        import qurious_spark.queries as q

        q.ensure_views(spark, self.data_dir)
        session.sql(f"CREATE TABLE {TABLE} AS SELECT {COLS} FROM orders")
        session.sql(f"SELECT count(*) FROM {TABLE}").collect()

    # -- the seeded statement stream ------------------------------------ #
    def _insert(self) -> Op:
        self.inserts += 1
        off, r = 10_000_000 * self.inserts, self.rng.randrange(997)
        sel = (
            f"SELECT o_orderkey + {off}, o_custkey, 'N', o_totalprice, "
            f"o_orderpriority FROM orders WHERE o_orderkey % 997 = {r}"
        )
        return Op("insert", "write", f"INSERT INTO {TABLE} {sel}")

    def _update(self) -> Op:
        d, r = self.rng.randrange(1, 100), self.rng.randrange(101)
        stmt = (
            f"UPDATE {TABLE} SET o_totalprice = o_totalprice + {d}, "
            f"o_orderstatus = 'U' WHERE o_custkey % 101 = {r}"
        )
        return Op("update", "write", stmt)

    def _delete(self) -> Op:
        r = self.rng.randrange(499)
        self.deleted.add(r)
        return Op("delete", "write", f"DELETE FROM {TABLE} WHERE o_custkey % 499 = {r}")

    def _merge(self) -> Op:
        self.merges += 1
        # even source keys hit existing rows (update arm), odd ones are new
        # keys (insert arm), so every MERGE takes both arms
        off, r = 100_000_000 * self.merges, self.rng.randrange(983)
        src = (
            f"SELECT o_orderkey + {off} * (o_orderkey % 2) AS k, o_custkey AS c, "
            "o_totalprice AS p, o_orderpriority AS pr "
            f"FROM orders WHERE o_orderkey % 983 = {r}"
        )
        stmt = (
            f"MERGE INTO {TABLE} t USING ({src}) s ON t.o_orderkey = s.k "
            "WHEN MATCHED THEN UPDATE SET o_totalprice = s.p * 2, o_orderstatus = 'M' "
            f"WHEN NOT MATCHED THEN INSERT ({COLS}) VALUES (s.k, s.c, 'M', s.p, s.pr)"
        )
        # DuckDB 1.0 has no MERGE: the same effect as UPDATE … FROM, then an
        # INSERT of the source keys the target does not hold
        duck = (
            f"UPDATE {TABLE} SET o_totalprice = s.p * 2, o_orderstatus = 'M' "
            f"FROM ({src}) s WHERE {TABLE}.o_orderkey = s.k",
            f"INSERT INTO {TABLE} SELECT s.k, s.c, 'M', s.p, s.pr FROM ({src}) s "
            f"WHERE NOT EXISTS (SELECT 1 FROM {TABLE} t WHERE t.o_orderkey = s.k)",
        )
        return Op("merge", "write", stmt, duck)

    def _agg_read(self) -> Op:
        stmt = (
            f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM {TABLE} GROUP BY o_orderstatus"
        )
        return Op("agg_read", "read", stmt)

    def _point_read(self) -> Op:
        # five consecutive customers hold ~50 orders; skip ranges a DELETE
        # emptied so the lookup never checks an empty answer
        while True:
            c = self.rng.randrange(max(1, self.n_cust - 4))
            if any((c + i) % 499 not in self.deleted for i in range(5)):
                break
        stmt = f"SELECT {COLS} FROM {TABLE} WHERE o_custkey BETWEEN {c} AND {c + 4}"
        return Op("point_read", "read", stmt)

    def pass_ops(self) -> list[Op]:
        ops: list[Op] = []
        for kinds, read in zip(self.ROUNDS, (self._agg_read, self._point_read)):
            ops += [getattr(self, f"_{k}")() for k in kinds] + [read()]
        return ops

    def build(self, op: Op, spark, session):
        df = session.sql(op.sql)
        return df if op.kind == "read" else None

    def check(self, done: list[tuple[Op, object]]) -> list[str | None]:
        """Replay the executed stream into DuckDB and compare every read.
        A write that raised fails itself; the replay still applies it, so
        the reads after it show any divergence."""
        con = oracle.connect(self.data_dir)
        try:
            con.execute(f"CREATE TABLE {TABLE} AS SELECT {COLS} FROM orders")
            out = []
            for op, res in done:
                if op.kind == "write":
                    for stmt in op.duck or (op.sql,):
                        con.execute(stmt)
                    out.append(_raised(res))
                    continue
                rel = con.sql(op.sql)
                want = oracle.normalize(list(rel.columns), rel.fetchall())
                out.append(_raised(res) or oracle.mismatch(res, want))
            return out
        finally:
            con.close()

    def lineage_nodes(self, session) -> int:
        """Nodes in the managed table's unanalyzed plan: what each write
        and read must analyze until the next checkpoint truncates it."""
        plan = session.tables[TABLE].df._jdf.queryExecution().logical()
        return len(plan.treeString().splitlines())


@dataclass(frozen=True)
class Spec:
    """A workload as BENCHMARK.json names it: scale factor, the factory
    that builds its per-run state from
    ``(seed, sf, data_dir, oracle_cache, checksum)``, and the untimed
    passes before measuring (JIT and codegen keep speeding passes up for a
    few passes after a cold start; how many depends on the workload)."""

    sf: float
    make: Callable
    warmup: int = 3


WORKLOADS = {
    "tpch-sf0.1": Spec(
        0.1,
        partial(QueryWorkload, ("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q13")),
    ),
    "llm-pipeline-sf0.1": Spec(
        0.1,
        partial(
            QueryWorkload,
            ("dedup_exact", "text_quality", "heavy_hitters_events", "pipeline_quality_checks"),
        ),
        warmup=4,
    ),
    "dml-session": Spec(0.01, DmlWorkload),
}
