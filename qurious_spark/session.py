"""Session layer: the engine's primary entry point.

Mirrors the reference's ``ExecuteSession`` (qurious/src/execution/session.rs:74-93)
— parse, resolve tables, plan, execute — but Spark-first: we hand the
(possibly dialect-rewritten) SQL to Spark's parser/Catalyst and only keep the
pieces Spark does not give us for free:

- a managed in-memory table catalog with INSERT / UPDATE / DELETE semantics
  (reference: qurious/src/datasource/memory.rs:24-145, session.rs:128-151;
  note the reference plans UPDATE but refuses to execute it — we implement it
  correctly per SURVEY.md §7.4.6),
- the dialect shim for ``read_csv/read_json/read_parquet`` table functions and
  ``COPY ... FROM`` (reference: qurious/src/planner/sql.rs:751-774, 324-375),
- an ``information_schema.tables`` view + SHOW TABLES parity
  (reference: qurious/src/execution/information_schema.rs:12-46).

Scale notes (100 TB): the session never collects to the driver; managed-table
mutations build union/filter plans lazily and checkpoint (the shim in
qurious_spark/checkpoint.py: local by default, reliable when
SPARK_GRAFT_CHECKPOINT_DIR is set) once CHECKPOINT_EVERY writes have passed
since the table was last materialized, so plan size stays bounded
(SURVEY.md §7.4.5).

A DML statement starts Spark jobs only for:

- a check that must fail at the statement: NOT NULL on a constrained table;
- MERGE: it materializes its one join (an eager checkpoint, which also
  resets the table's write count) and checks cardinality over the result;
- the write on which the count reaches CHECKPOINT_EVERY: its checkpoint;
- COPY TO's write.

The one-row ``count`` it returns is a lazy plan over its source, run only
when the caller collects it, unless counting the source may raise
(``_may_raise``): then it runs before the write, so a source that fails at
run time fails its statement and leaves the table unchanged.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import math
import os
import re
import threading
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField

from qurious_spark.dataframe import QFrame
from qurious_spark.dialect import (
    DdlDmlStatement,
    NotNull,
    _sub_unquoted,
    fold_interval_quantity,
    parse_ddl_dml,
    rewrite_qualify,
    rewrite_table_functions,
)
from qurious_spark.checkpoint import checkpoint as _checkpoint

_lock = threading.Lock()

DEFAULT_CATALOG = "qurious"  # reference: qurious/src/execution/config.rs:1-13
DEFAULT_SCHEMA = "public"

# Mutation depth after which a managed table is checkpointed so INSERT-as-union
# chains don't grow the logical plan unboundedly (SURVEY.md §7.4.5).
CHECKPOINT_EVERY = 16

# Time-travel history: versions retained per managed table (bounded ring).
SNAPSHOT_KEEP = 8

_INFO_SCHEMA_RE = re.compile(r"\binformation_schema\s*\.\s*tables\b", re.IGNORECASE)
_TIME_TRAVEL_RE = re.compile(r"\b([\w.]+)\s+VERSION\s+AS\s+OF\s+(\d+)", re.IGNORECASE)
# a column name ending in a backtick-quoted part, ``[<qualifier>.]`<name>```
_QUOTED_COLUMN_RE = re.compile(r"(?:(.*)\.)?`((?:[^`]|``)*)`", re.DOTALL)


def _resolve_columns(
    names: Iterable[str], fields: list[str], table: str, alias: str | None = None
) -> list[str]:
    """Map DML target column names (SET, INSERT and MERGE INSERT column
    lists) onto the table's field names as Spark resolves identifiers under
    its default ``spark.sql.caseSensitive=false``: case-insensitively, after
    stripping a ``<table or alias>.`` qualifier and the backticks of a quoted
    name. Raises ValueError naming a column that matches no field, or a
    field named twice."""
    by_lower = {f.lower(): f for f in fields}
    qualifiers = {q.lower() for q in (table, table.rsplit(".", 1)[-1], alias) if q}
    out = []
    for name in names:
        quoted = _QUOTED_COLUMN_RE.fullmatch(name.strip())
        if quoted:
            qual, bare = quoted.group(1) or "", quoted.group(2).replace("``", "`")
        else:
            qual, _, bare = name.strip().rpartition(".")
        field = by_lower.get(bare.lower()) if not qual or qual.lower() in qualifiers else None
        if field is None:
            raise ValueError(f"column {name!r} not found in table {table} (columns: {', '.join(fields)})")
        if field in out:
            raise ValueError(f"column {field!r} of table {table} is named twice")
        out.append(field)
    return out


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, any backtick doubled."""
    return "`" + name.replace("`", "``") + "`"


def _group(expr: str) -> str:
    """``(expr)``; the newline ends a trailing ``--`` comment in ``expr``."""
    return f"({expr}\n)"


def _cast(expr: str, field: StructField) -> str:
    return f"CAST({_group(expr)} AS {field.dataType.simpleString()})"


def _literal(value: object) -> str:
    """A column default (a ``dialect._parse_literal`` value) as SQL text of
    the type ``functions.lit(value)`` gives: a float takes the ``D`` suffix
    (a bare ``1.5`` is decimal(2,1)); a string doubles ``'`` and ``\\``
    (Spark unescapes backslashes)."""
    if value is None:
        return "NULL"
    if isinstance(value, int):  # bool included: TRUE / FALSE
        return str(value).upper()
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"CAST('{value}' AS DOUBLE)"
    return "'" + str(value).replace("\\", "\\\\").replace("'", "''") + "'"


def _aligned(fields: Iterable[StructField], value: Callable[[str], str]) -> list[str]:
    """``CAST(<value(name)> AS <type>) AS <name>``, one item per field."""
    return [f"{_cast(value(f.name), f)} AS {_ident(f.name)}" for f in fields]


def _case(arms: list[tuple[str, str]], otherwise: str | None = None) -> str | None:
    """``CASE WHEN <cond> THEN <value> … [ELSE <otherwise>] END``, or just
    ``otherwise`` when there are no arms."""
    if not arms:
        return otherwise
    whens = " ".join(f"WHEN {_group(c)} THEN {v}" for c, v in arms)
    return f"CASE {whens} ELSE {otherwise} END" if otherwise else f"CASE {whens} END"


# Catalyst tree nodes, by class under ``org.apache.spark.sql.``, that never
# raise at run time. An ANSI cast or arithmetic can, and so can a UDF, a
# scalar subquery or a plan node that runs user code.
_NEVER_RAISE = frozenset({
    *(
        "catalyst.expressions." + n
        for n in (
            "aggregate.AggregateExpression", "aggregate.Count", "Alias", "And", "AttributeReference",
            "CaseWhen", "Coalesce", "EqualNullSafe", "EqualTo", "GreaterThan", "GreaterThanOrEqual",
            "If", "In", "InSet", "IsNotNull", "IsNull", "LessThan", "LessThanOrEqual", "Literal",
            "Not", "Or",
        )
    ),
    *(
        "catalyst.plans.logical." + n
        for n in (
            "Aggregate", "Filter", "GlobalLimit", "Join", "LocalLimit", "LocalRelation",
            "OneRowRelation", "Project", "Range", "Repartition", "RepartitionByExpression", "Union",
        )
    ),
    "execution.LogicalRDD",
    "execution.datasources.LogicalRelation",
})
# these raise only on a zero divisor, their right child
_BY_DIVISOR = frozenset({"catalyst.expressions.Remainder", "catalyst.expressions.Pmod"})


def _may_raise(df: DataFrame) -> bool:
    """Whether running ``df`` can raise, by its optimized plan: True when
    a node in it is outside ``_NEVER_RAISE``, or divides by other than a
    nonzero literal. One py4j call (``toJSON``)."""
    return _holds_raising(json.loads(df._jdf.queryExecution().optimizedPlan().toJSON()))


def _holds_raising(node) -> bool:
    """``_may_raise`` over Catalyst's JSON form, where a tree is a pre-order
    list of nodes and each node's ``num-children`` subtrees follow it."""
    if isinstance(node, dict):
        return any(_holds_raising(v) for v in node.values())
    if not isinstance(node, list):
        return False
    if not all(isinstance(n, dict) and "class" in n for n in node):
        return any(_holds_raising(v) for v in node)
    end = [0] * len(node)  # end[i]: the index just past node i's subtree

    def walk(i: int) -> int:
        j = i + 1
        for _ in range(node[i]["num-children"]):
            j = walk(j)
        end[i] = j
        return j

    i = 0
    while i < len(node):
        i = walk(i)
    for i, n in enumerate(node):
        name = n["class"].removeprefix("org.apache.spark.sql.")
        if name in _NEVER_RAISE:
            continue
        divisor = node[end[i + 1]] if name in _BY_DIVISOR else {}
        literal = divisor.get("class", "").endswith(".expressions.Literal")
        if not literal or float(divisor["value"] or 0) == 0:
            return True
    return any(_holds_raising(v) for n in node for k, v in n.items() if k != "class")


def _env_bool(name: str, default: str) -> str:
    """Normalize a boolean-ish env var to the 'true'/'false' Spark expects.

    Accepts 1/0, yes/no, on/off, true/false in any case with whitespace; a
    value like '0' or 'off' passed verbatim into spark.sql.adaptive.enabled
    would otherwise fail at QUERY time with an opaque
    IllegalArgumentException instead of at session build (ADVICE r10)."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    v = raw.strip().lower()
    if v in ("true", "1", "yes", "on"):
        return "true"
    if v in ("false", "0", "no", "off"):
        return "false"
    raise ValueError(
        f"{name}={raw!r} is not a recognized boolean "
        "(use true/false, 1/0, yes/no, or on/off)"
    )


_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(text: str) -> int | None:
    """Parse a Spark byte-size conf string ('64m', '-1', '67108864', '1g')
    to bytes; None if unparseable. Needed so semantically-equal spellings
    ('64m' vs '67108864') compare equal instead of raising spuriously."""
    v = text.strip().lower()
    # Spark also accepts two/three-letter suffixes ('64mb', '64mib'); fold
    # them onto the single-letter table so '64m' == '64mb' == '67108864'
    # (ADVICE r11: '64mb' previously parsed to None and raised spuriously).
    if len(v) > 2 and v.endswith("ib") and v[-3] in "kmgt":
        v = v[:-2]
    elif len(v) > 1 and v.endswith("b") and v[-2] in "kmgt":
        v = v[:-1]
    mult = 1
    if v and v[-1] in _SIZE_SUFFIX:
        mult = _SIZE_SUFFIX[v[-1]]
        v = v[:-1]
    try:
        return int(v) * mult
    except ValueError:
        return None


# (conf key, env var, value kind) rows checked when get_spark reuses an
# already-active session: a perturbation env var set AFTER the session was
# built would otherwise be silently ignored and an "independence gate" run
# that way would report a vacuous pass (ADVICE r10). Covers all five
# perturbation axes: AQE, ANSI, broadcast threshold, shuffle width, and
# core count. The gates export the env before the first get_spark, so this
# check only fires on misuse.
_ENV_CONF_CHECKS: tuple[tuple[str, str, str], ...] = (
    ("spark.sql.adaptive.enabled", "SPARK_GRAFT_AQE", "bool"),
    ("spark.sql.ansi.enabled", "SPARK_GRAFT_ANSI", "bool"),
    ("spark.sql.autoBroadcastJoinThreshold", "SPARK_GRAFT_BROADCAST_THRESHOLD", "bytes"),
    ("spark.sql.shuffle.partitions", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "raw"),
    ("spark.default.parallelism", "SPARK_GRAFT_CPUS", "raw"),
    ("spark.sql.session.timeZone", "SPARK_GRAFT_SESSION_TZ", "raw"),
    ("spark.sql.codegen.wholeStage", "SPARK_GRAFT_CODEGEN", "bool"),
    (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "SPARK_GRAFT_ARROW_BATCH",
        "raw",
    ),
    ("spark.sql.files.maxPartitionBytes", "SPARK_GRAFT_MAX_PARTITION_BYTES", "bytes"),
)


def _check_env_conf(active: SparkSession) -> None:
    """Raise if an explicitly-set perturbation env var disagrees with the
    already-active session's conf — the env can only take effect in a fresh
    process, and silently returning the old session would make a
    perturbation-gate run vacuous."""
    for key, env, kind in _ENV_CONF_CHECKS:
        raw = os.environ.get(env)
        if raw is None:
            continue
        want = _env_bool(env, "true") if kind == "bool" else raw.strip()
        have = active.conf.get(key, None)
        if have is None:
            continue
        if kind == "bytes":
            # compare numerically: '64m' == '67108864' == '64mb'
            wb, hb = _parse_bytes(want), _parse_bytes(have)
            same = wb is not None and wb == hb
        else:
            same = have.strip().lower() == want.lower()
        if not same:
            raise RuntimeError(
                f"{env}={raw!r} requests {key}={want} but the active "
                f"SparkSession has {key}={have}; perturbation env vars "
                "require a fresh process (set them before the first "
                "get_spark call)"
            )


def get_spark(app_name: str = "qurious_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults target local[$SPARK_GRAFT_CPUS] (unset: the CPUs this process
    may run on) for tests while keeping every setting cluster-appropriate:
    AQE on (runtime re-planning, skew-join handling, partition coalescing),
    Arrow transfer on (pandas UDF hot path), UTC session timezone (stable vs
    the DuckDB oracle).
    """
    with _lock:
        active = SparkSession.getActiveSession()
        if active is not None:
            _check_env_conf(active)
            return active
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        master = master or f"local[{cpus}]"
        # Scan-split sizing: Spark's 128m default is right for cluster-scale
        # parquet; local test data is a few MB per file, so benchmarks set
        # this smaller to actually use the cores (TESTDATA is ~11 MB/table).
        max_part = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")
        return (
            SparkSession.builder.appName(app_name)
            .master(master)
            .config(
                "spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus),
            )
            .config("spark.default.parallelism", cpus)
            # AQE on by default; the AQE-independence gate sets this to
            # "false" to prove results don't depend on runtime re-planning
            # (coalesced partitions, skew-join splits, join-strategy flips).
            .config(
                "spark.sql.adaptive.enabled",
                _env_bool("SPARK_GRAFT_AQE", "true"),
            )
            # ANSI SQL mode: Spark 4.x defaults this to true (strict
            # overflow/cast/divide-by-zero); every driver-green round to
            # date therefore ran under ANSI=true. The ANSI-independence
            # gate sets SPARK_GRAFT_ANSI=false (a Spark 3.x cluster's
            # default) to prove results don't depend on the mode either
            # way — the one config axis a real cluster migration flips.
            .config(
                "spark.sql.ansi.enabled",
                _env_bool("SPARK_GRAFT_ANSI", "true"),
            )
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            # Whole-stage codegen on by default (Spark's default). The
            # codegen-independence gate sets SPARK_GRAFT_CODEGEN=false to
            # prove results don't depend on the compiled vs interpreted
            # expression path — a real cluster falls back to interpreted
            # execution per-stage whenever generated code exceeds the JIT
            # limits (spark.sql.codegen.fallback), so both paths must agree.
            .config(
                "spark.sql.codegen.wholeStage",
                _env_bool("SPARK_GRAFT_CODEGEN", "true"),
            )
            # Arrow batch size for pandas_udf/mapInPandas transfer (Spark
            # default 10000). The batch-size-independence gate sets a tiny
            # value (e.g. 64) so every Arrow-backed operator — winnowing,
            # multimodal decoders, UDAFs — processes many small batches per
            # partition instead of one big one, proving no computation
            # accidentally depends on batch boundaries. At 100 TB the
            # records-per-batch a stage sees is an executor-memory tuning
            # knob, never a semantics input.
            .config(
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
            )
            # UTC session timezone by default (stable vs the DuckDB oracle).
            # The TZ-independence gate (VERDICT r11 task 5) sets
            # SPARK_GRAFT_SESSION_TZ to a non-UTC zone (e.g.
            # America/New_York — what a real cluster inherits from its
            # hosts) to prove results don't depend on the session zone:
            # testdata timestamps are parquet timestamp[us] without
            # isAdjustedToUTC, read as TIMESTAMP_NTZ, so wall-clock values
            # and EXTRACT/date_trunc/window over them must be zone-invariant.
            .config(
                "spark.sql.session.timeZone",
                os.environ.get("SPARK_GRAFT_SESSION_TZ", "UTC"),
            )
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
            .config("spark.ui.enabled", "false")
            # 64 MB default keeps every TPC-H-shaped dimension broadcast; a
            # cluster deployment (or the join-strategy-independence gate,
            # which sets -1 to force sort-merge everywhere) overrides by env.
            .config(
                "spark.sql.autoBroadcastJoinThreshold",
                os.environ.get(
                    "SPARK_GRAFT_BROADCAST_THRESHOLD", str(64 * 1024 * 1024)
                ),
            )
            .config("spark.sql.files.maxPartitionBytes", max_part)
            # reliable-checkpoint mode (SPARK_GRAFT_CHECKPOINT_DIR, see
            # qurious_spark/checkpoint.py) writes a full RDD copy per
            # checkpoint; without this cleaner flag Spark NEVER deletes
            # them, so an iterative CC run or a long streaming job grows
            # the checkpoint volume without bound. No-op for the default
            # localCheckpoint path.
            .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
            # bucketed saveAsTable targets (sources/bucketing.py) land here,
            # not in the repo working tree
            .config(
                "spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/qurious_spark_warehouse"),
            )
            # testdata events.parquet carries timestamp[ns]; Spark has no nanos
            # type, so read as long and convert in the plan (readers.py).
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .getOrCreate()
        )


class ManagedTable:
    """An in-memory managed table: name -> DataFrame + per-column defaults.

    Spark analogue of the reference's ``MemoryTable``
    (qurious/src/datasource/memory.rs:24-28): holds current contents as a
    DataFrame (lazy plan), supports insert (union with column alignment,
    default fill, cast — reference qurious/src/planner/sql.rs:790-873),
    delete (anti-filter) and update (masked projection — the plan shape the
    reference builds at qurious/src/planner/sql.rs:377-432).

    Every write passes SQL text (parsed predicates and SET expressions as
    written, quoted identifiers, typed default literals) to ``selectExpr``
    / ``where``: the plan a Column chain builds, in far fewer py4j calls.
    """

    def __init__(
        self,
        name: str,
        df: DataFrame,
        defaults: dict[str, object] | None = None,
        notnull: set[str] | None = None,
    ):
        self.name = name
        self.df = df
        self.defaults = defaults or {}
        self.notnull = notnull or set()
        # Session-scoped time travel: version -> snapshot DataFrame.
        # DataFrames are immutable plans, so a snapshot is just the df
        # reference at mutation time (no copy); the every-16 checkpoint in
        # _bump keeps old lineages shallow. Bounded ring: SNAPSHOT_KEEP.
        self.version = 0
        # writes since the table was last materialized (see _bump)
        self.depth = 0
        self.snapshots: dict[int, DataFrame] = {0: df}

    def as_of(self, version: int) -> DataFrame:
        if version not in self.snapshots:
            kept = sorted(self.snapshots)
            raise ValueError(
                f"version {version} of {self.name} not available (kept: {kept})"
            )
        return self.snapshots[version]

    def _check_notnull(self, df: DataFrame, op: str) -> None:
        """Enforce NOT NULL on incoming rows (the reference parses the
        constraint but never enforces it — qurious/src/planner/sql.rs; we
        implement it correctly per SURVEY §7.4.6). One count job."""
        cols = sorted(self.notnull & set(df.columns))
        if cols and df.where(" OR ".join(f"{_ident(c)} IS NULL" for c in cols)).limit(1).count():
            raise ValueError(
                f"{op}: NOT NULL constraint violated on {self.name} ({', '.join(cols)})"
            )

    def _bump(self, df: DataFrame, materialized: bool = False) -> None:
        """Make ``df`` the table's next version. ``depth`` counts the
        writes since the table was last materialized: the write that takes
        it to CHECKPOINT_EVERY checkpoints ``df`` eagerly, and a
        ``materialized`` ``df`` (MERGE checkpoints its own result) resets
        it with no second checkpoint. Nothing changes until the checkpoint
        has run, so one that raises leaves the table as it was."""
        # every union appends its source's partitions, and a checkpoint
        # keeps them all: hold the table to one partition per core
        df = df.coalesce(df.sparkSession.sparkContext.defaultParallelism)
        depth = 0 if materialized else self.depth + 1
        if depth == CHECKPOINT_EVERY:
            # Truncate the union/filter plan chain; eager=True materializes
            # the table now so later reads plan against a flat scan instead
            # of the accumulated union/filter lineage.
            df, depth = _checkpoint(df, eager=True), 0
        self.depth = depth
        self.version += 1
        self.df = self.snapshots[self.version] = df
        for v in [v for v in self.snapshots if v <= self.version - SNAPSHOT_KEEP]:
            del self.snapshots[v]

    def insert_df(self, source: DataFrame, columns: list[str] | None = None) -> None:
        """INSERT INTO .. [(cols)] SELECT/VALUES: align columns, fill
        defaults, cast to target types, then union. Starts no job unless
        the table declares NOT NULL; ``Session.sql`` runs a source whose
        count may raise before it calls this (``Session._count_df``)."""
        target_schema = self.df.schema
        names = columns or [f.name for f in target_schema]
        if len(names) != len(source.columns):
            into = "column list" if columns else f"table {self.name}"
            raise ValueError(
                f"INSERT source has {len(source.columns)} columns, {into} has {len(names)}"
            )
        aligned = source.toDF(*names).selectExpr(
            *_aligned(target_schema, lambda c: _ident(c) if c in names else _literal(self.defaults.get(c)))
        )
        self._check_notnull(aligned, "INSERT")
        self._bump(self.df.unionByName(aligned))

    def delete_where(self, predicate: str | None) -> None:
        if predicate is None:
            self._bump(self.df.limit(0))
        else:
            self._bump(self.df.where(f"NOT coalesce({_group(predicate)}, false)"))

    def replace_df(self, source: DataFrame) -> None:
        """Replace the table's contents wholesale (a versioned mutation like
        any other — time travel keeps the prior snapshot). Used by set-based
        rewrites such as the streaming SCD2 sink, where the new state is a
        full recomputation rather than a row-level patch."""
        target_schema = self.df.schema
        missing = [f.name for f in target_schema if f.name not in source.columns]
        if missing:
            raise ValueError(f"replace_df source lacks columns: {missing}")
        aligned = source.selectExpr(*_aligned(target_schema, _ident))
        self._check_notnull(aligned, "REPLACE")
        self._bump(aligned)

    def update_set(self, assignments: dict[str, str], predicate: str | None) -> None:
        updated = self.df.selectExpr(*[
            f"{_case([(predicate or 'true', _cast(assignments[f.name], f))], _ident(f.name))}"
            f" AS {_ident(f.name)}"
            if f.name in assignments else _ident(f.name)
            for f in self.df.schema
        ])
        if self.notnull & set(assignments):
            self._check_notnull(updated, "UPDATE")
        self._bump(updated)


class Session:
    """Engine session: ``sql()`` / ``register_table()`` / ``register_udf()``.

    The reference exposes three entry points (SURVEY.md §3): SQL text, a thin
    DataFrame API, and programmatic plans. Here entry point A is ``sql()``
    (dialect shim + Spark SQL); B and C are simply PySpark DataFrames, which
    ``table()`` hands back.
    """

    _instances = itertools.count()

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.tables: dict[str, ManagedTable] = {}
        # distinguishes this Session's information_schema temp view from
        # other Session objects sharing the same SparkSession (temp views
        # are session-global in Spark)
        self._id = next(Session._instances)

    # ------------------------------------------------------------------ #
    # catalog
    # ------------------------------------------------------------------ #
    def register_table(self, name: str, source: DataFrame | str, **options) -> None:
        """Register a DataFrame or a file path (csv/json/parquet by suffix)."""
        if isinstance(source, str):
            from qurious_spark.sources.readers import read_auto

            df = read_auto(self.spark, source, **options)
        else:
            df = source
        self._put_table(name, ManagedTable(name, df))

    def register_udf(self, name: str, fn, return_type) -> None:
        """Register a vectorized scalar UDF (Arrow-backed pandas_udf — the
        Spark analogue of the reference's Arrow-native UDF trait,
        qurious/src/functions/mod.rs:10-21)."""
        from pyspark.sql.pandas.functions import pandas_udf

        self.spark.udf.register(name, pandas_udf(fn, return_type))

    def register_udaf(self, name: str, fn, return_type) -> None:
        """Register a grouped-aggregate pandas UDF (Series -> scalar), usable
        in ``GROUP BY`` queries and ``agg()``. Beyond the reference (no UDAF
        trait exists there — SURVEY.md §2.5); Arrow-batched like the scalar
        path: each group's column arrives as one pandas Series per batch and
        aggregates JVM-side-partitioned, Python-side-reduced."""
        from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

        self.spark.udf.register(
            name, pandas_udf(fn, return_type, PandasUDFType.GROUPED_AGG)
        )

    @staticmethod
    def _normalize_name(name: str) -> str:
        """Resolve bare/partial/full table references to the bare name —
        the reference accepts t / public.t / qurious.public.t with defaults
        catalog=qurious, schema=public (table_relation.rs:8-38,
        config.rs:1-13)."""
        parts = name.lower().split(".")
        if len(parts) == 3 and parts[0] == DEFAULT_CATALOG and parts[1] == DEFAULT_SCHEMA:
            return parts[2]
        if len(parts) == 2 and parts[0] == DEFAULT_SCHEMA:
            return parts[1]
        return name.lower()

    def table(self, name: str) -> DataFrame:
        key = self._normalize_name(name)
        if key in self.tables:
            return self.tables[key].df
        return self.spark.table(name)

    def frame(self, name: str):
        """Fluent builder over a table (reference entry points B/C —
        qurious_spark.dataframe.QFrame)."""
        return QFrame(self.table(name))

    def _put_table(self, name: str, mt: ManagedTable) -> None:
        key = self._normalize_name(name)
        self.tables[key] = mt
        mt.df.createOrReplaceTempView(key)

    def replace_table_data(self, name: str, df: DataFrame) -> None:
        """Replace a managed table's contents with ``df`` (versioned — the
        prior state stays reachable via time travel)."""
        mt = self._get_managed(name)
        mt.replace_df(df)
        self._put_table(mt.name, mt)

    def _explain(self, inner_sql: str, mode: str) -> DataFrame:
        """``EXPLAIN [FORMATTED|EXTENDED|CODEGEN|COST] <query>`` — one row
        per plan line. Beyond the reference (which exposes no EXPLAIN);
        the query goes through the full dialect shim first, so table
        functions / interval folding / managed tables are planned exactly
        as they would execute. DDL/DML under EXPLAIN is rejected up front:
        ``self.sql`` on an INSERT/UPDATE/DELETE/MERGE would EXECUTE the
        mutation as a side effect of rendering its plan (round-5 advisor
        finding), and Spark itself has no no-op plan for our managed-table
        statements to render."""
        if parse_ddl_dml(inner_sql) is not None:
            raise ValueError(
                "EXPLAIN of a DDL/DML statement is not supported: managed-"
                "table mutations have no renderable no-op plan (explaining "
                "would execute the statement). EXPLAIN the inner SELECT "
                "instead."
            )
        df = self.sql(inner_sql)
        try:
            jvm = self.spark._jvm
            plan = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), mode
            )
        except Exception:  # pragma: no cover — fallback across Spark minors
            plan = df._jdf.queryExecution().toString()
        rows = [(line,) for line in plan.rstrip("\n").split("\n")]
        return self.spark.createDataFrame(rows, "plan_line string")

    def _drop_table(self, name: str, if_exists: bool) -> None:
        key = self._normalize_name(name)
        if key not in self.tables:
            if if_exists:
                return
            raise ValueError(f"table not found: {name}")
        del self.tables[key]
        self.spark.catalog.dropTempView(key)

    # ------------------------------------------------------------------ #
    # SQL entry point
    # ------------------------------------------------------------------ #
    def sql(self, text: str) -> DataFrame:
        """Execute one SQL statement (reference dialect accepted)."""
        stmt = parse_ddl_dml(text)
        if stmt is not None:
            return self._execute_ddl_dml(stmt)
        m = re.match(
            r"^\s*EXPLAIN\s+(?:(FORMATTED|EXTENDED|CODEGEN|COST)\s+)?(.+)$",
            text,
            re.IGNORECASE | re.DOTALL,
        )
        if m:
            return self._explain(m.group(2), (m.group(1) or "formatted").lower())
        pre_qualify = fold_interval_quantity(rewrite_table_functions(self, text))
        rewritten = rewrite_qualify(pre_qualify)
        # QUALIFY predicates windowing over a SELECT alias need the wrapped
        # desugar (Spark rejects lateral alias refs in windows) — staged
        # here, used by the analysis-failure retry at the execution point
        qualify_fallback = (
            rewrite_qualify(pre_qualify, wrap=True)
            if rewritten is not pre_qualify and rewritten != pre_qualify
            else None
        )
        if rewritten.strip().upper().startswith("SHOW TABLES"):
            return self._show_tables()
        # information_schema.tables is a real queryable relation in the
        # reference (information_schema.rs:12-46; SHOW TABLES is sugar over
        # it, session.rs:78-81) — materialize it as a temp view on demand so
        # arbitrary SELECTs against it work too. The view name is per-Session
        # so Session objects sharing one SparkSession don't clobber each
        # other's catalogs.
        info_view = f"q_information_schema_tables_{self._id}"
        swapped = _sub_unquoted(_INFO_SCHEMA_RE, info_view, rewritten)
        if swapped == rewritten:
            info_view = None
        else:
            self._show_tables().createOrReplaceTempView(info_view)
            rewritten = swapped
        rewritten = self._rewrite_time_travel(rewritten)
        m_hist = re.match(
            r"^\s*DESCRIBE\s+HISTORY\s+([\w.]+)\s*;?\s*$", rewritten, re.IGNORECASE
        )
        if m_hist:
            return self._describe_history(m_hist.group(1))
        try:
            df = self.spark.sql(self._dequalify(rewritten))
        except Exception as e:
            if qualify_fallback is not None and "LATERAL_COLUMN_ALIAS" in str(e):
                # re-enter with the wrapped QUALIFY desugar (no QUALIFY
                # keyword left in it, so this cannot recurse)
                return self.sql(qualify_fallback)
            raise
        if info_view is not None:
            # the returned plan resolved the view during analysis; dropping
            # it immediately keeps the shared SparkSession catalog from
            # accumulating one view per Session object
            self.spark.catalog.dropTempView(info_view)
        return df

    def _describe_history(self, name: str) -> DataFrame:
        """Delta-style DESCRIBE HISTORY: retained snapshot versions of a
        managed table (bounded ring — see ManagedTable.snapshots)."""
        mt = self._get_managed(name)
        rows = [
            (v, v == mt.version) for v in sorted(mt.snapshots, reverse=True)
        ]
        return self.spark.createDataFrame(rows, "version bigint, is_current boolean")

    def _rewrite_time_travel(self, text: str) -> str:
        """``FROM t VERSION AS OF n`` over a managed table -> temp view of
        that snapshot (session-scoped time travel; Delta-style syntax,
        bounded history — see ManagedTable.snapshots)."""

        def repl(m: re.Match) -> str:
            key = self._normalize_name(m.group(1))
            if key not in self.tables:
                return m.group(0)
            version = int(m.group(2))
            view = f"__asof_{key}_v{version}"
            self.tables[key].as_of(version).createOrReplaceTempView(view)
            return view

        return _sub_unquoted(_TIME_TRAVEL_RE, repl, text)

    def _dequalify(self, text: str) -> str:
        """Strip default-catalog/schema qualifiers off managed-table
        references (qurious.public.t / public.t → t) so they resolve to the
        bare temp views — the reference's bare/partial/full name forms
        (table_relation.rs:8-38)."""
        if not self.tables:
            return text
        keys = "|".join(map(re.escape, self.tables))
        pattern = re.compile(
            rf"\b(?:{DEFAULT_CATALOG}\.)?{DEFAULT_SCHEMA}\.({keys})\b", re.IGNORECASE
        )
        return _sub_unquoted(pattern, r"\1", text)

    def _show_tables(self) -> DataFrame:
        """SHOW TABLES parity: the reference rewrites it to a select over
        information_schema.tables (session.rs:78-81)."""
        rows = [
            (DEFAULT_CATALOG, DEFAULT_SCHEMA, t.name, "BASE TABLE")
            for t in self.tables.values()
        ]
        return self.spark.createDataFrame(
            rows or [],
            "table_catalog string, table_schema string, table_name string, table_type string",
        )

    def _execute_ddl_dml(self, stmt: DdlDmlStatement) -> DataFrame:
        kind = stmt.kind
        if kind == "create_table":
            # qualified names resolve to the same table identity as bare
            # ones (table_relation.rs:8-38): CREATE public.t must collide
            # with an existing t
            if self._normalize_name(stmt.table) in self.tables:
                if stmt.if_not_exists:
                    return self._count_df(None)
                raise ValueError(f"table already exists: {stmt.table}")
            if stmt.query:  # CTAS
                df = self.sql(stmt.query)
            else:
                schema_ddl = ", ".join(f"{c} {t}" for c, t, _ in stmt.columns)
                df = self.spark.createDataFrame([], schema_ddl)
            defaults: dict[str, object] = {}
            notnull: set[str] = set()
            for c, _, d in stmt.columns or []:
                if isinstance(d, NotNull):
                    notnull.add(c)
                    d = d.default
                if d is not None:
                    defaults[c] = d
            self._put_table(
                stmt.table, ManagedTable(stmt.table, df, defaults, notnull)
            )
            return self._count_df(None)
        if kind == "drop_table":
            self._drop_table(stmt.table, stmt.if_exists)
            return self._count_df(None)
        if kind == "insert":
            mt = self._get_managed(stmt.table)
            if stmt.query.strip().upper().startswith("VALUES"):
                source = self.spark.sql(f"SELECT * FROM ({stmt.query})")
            else:
                source = self.sql(stmt.query)
            cols = stmt.columns_list and _resolve_columns(stmt.columns_list, mt.df.columns, stmt.table)
            count = self._count_df(source)
            mt.insert_df(source, cols)
            self._put_table(mt.name, mt)
            return count
        if kind == "delete":
            mt = self._get_managed(stmt.table)
            mt.delete_where(stmt.predicate)
            self._put_table(mt.name, mt)
            return self._count_df(None)
        if kind == "update":
            mt = self._get_managed(stmt.table)
            cols = _resolve_columns(stmt.assignments, mt.df.columns, stmt.table)
            mt.update_set(dict(zip(cols, stmt.assignments.values())), stmt.predicate)
            self._put_table(mt.name, mt)
            return self._count_df(None)
        if kind == "merge":
            return self._execute_merge(stmt)
        if kind == "copy_to":
            df = self.table(stmt.table)
            fmt = stmt.options.get("format", "parquet")
            writer = df.write.mode("overwrite")
            if fmt == "csv":
                writer = (
                    writer.option("header", str(stmt.options.get("header", True)).lower())
                    # RFC-4180 doubled-quote escaping, matching read_csv_like
                    # and DuckDB; Spark's writer default (backslash) produced
                    # files our own reader mis-parsed on embedded quotes
                    .option("escape", '"')
                    # the writer strips unquoted cell whitespace by default —
                    # lossy for values like ' a ' (the reader preserves it)
                    .option("ignoreLeadingWhiteSpace", "false")
                    .option("ignoreTrailingWhiteSpace", "false")
                )
                if stmt.options.get("delimiter"):
                    writer = writer.option("sep", stmt.options["delimiter"])
            writer.format(fmt).save(stmt.path)  # the parser admits csv/json/orc/parquet
            return self._count_df(df)
        if kind == "copy_from":
            from qurious_spark.sources.readers import read_csv_like

            mt = self._get_managed(stmt.table)
            src = read_csv_like(
                self.spark,
                stmt.path,
                delimiter=stmt.options.get("delimiter", ","),
                header=stmt.options.get("header", False),
                schema=mt.df.schema,
                multiline=bool(stmt.options.get("multiline", False)),
            )
            count = self._count_df(src)
            mt.insert_df(src)
            self._put_table(mt.name, mt)
            return count
        raise ValueError(f"unsupported statement kind: {kind}")

    def merge_into(self, merge_sql: str, source_df: DataFrame | None = None) -> DataFrame:
        """Programmatic MERGE: like ``sql()`` but binds the USING source to
        ``source_df`` directly (no temp-view indirection) — needed inside
        ``foreachBatch``, where the micro-batch DataFrame lives in a cloned
        session whose temp views the outer session cannot see."""
        stmt = parse_ddl_dml(merge_sql)
        if stmt is None or stmt.kind != "merge":
            raise ValueError("merge_into expects a MERGE INTO statement")
        return self._execute_merge(stmt, source_df)

    def _execute_merge(
        self, stmt: DdlDmlStatement, source_df: DataFrame | None = None
    ) -> DataFrame:
        """MERGE INTO: SQL:2003 upsert over a managed table (beyond the
        reference, whose DML stops at INSERT/DELETE — session.rs:128-151).

        Plan shape: ONE join of the target, each row tagged ``__tid``, with
        the source on the merge condition: a full outer join when the
        statement has NOT MATCHED arms, else a left outer join (the source
        may then broadcast), the rule Delta Lake's MERGE follows. A CASE
        picks each row's arm ``__w`` (first match wins; MATCHED arms need
        both sides, NOT MATCHED arms a source row with no target), one CASE
        per column applies it, and ``__keep`` drops deleted rows and source
        rows no insert arm takes.

        The statement materializes that projection once (an eager
        checkpoint), so an arm that fails at run time fails the statement,
        and the table it leaves is a flat scan: later reads and writes
        replay no join, and the every-16 checkpoint counts from here
        (``ManagedTable._bump``). The cardinality check (a target row may
        match one source row) and the NOT NULL checks run over the
        checkpoint; if one raises, the table is unchanged. The returned
        source row count stays a lazy plan.

        The arms are SQL text in ``selectExpr``/``where``. The join stays a
        DataFrame join (``QFrame.join`` parses the ON text), not one
        ``spark.sql`` over temp views: a ``merge_into`` source from a
        ``foreachBatch`` cloned session has temp views this one cannot read.
        """
        mt = self._get_managed(stmt.table)
        talias = stmt.alias or "t"
        salias = stmt.source_alias or "s"
        fields = mt.df.schema.fields
        names = [f.name for f in fields]

        def resolve(cols):
            return _resolve_columns(cols, names, stmt.table, talias)

        clauses = [
            dataclasses.replace(
                c,
                assignments=dict(zip(resolve(c.assignments), c.assignments.values())),
                insert_columns=c.insert_columns and resolve(c.insert_columns),
            )
            for c in stmt.clauses
        ]
        if source_df is not None:
            src = source_df
        else:
            src = self.sql(stmt.source) if stmt.source_is_query else self.table(stmt.source)
        src_cols = set(src.columns)
        if (src_cols | set(names)) & {"__tid", "__m", "__w", "__keep"}:
            raise ValueError("MERGE: source and target may not contain a __tid, __m, __w or __keep column")

        m_clauses = [c for c in clauses if c.matched]
        nm_clauses = [c for c in clauses if not c.matched]
        tagged = mt.df.selectExpr("*", "monotonically_increasing_id() AS __tid").alias(talias)
        source = src.selectExpr("*", "true AS __m").alias(salias)
        joined = QFrame(tagged).join(
            QFrame(source), "full" if nm_clauses else "left", stmt.on_cond
        ).to_spark()

        # the winning arm per row: MATCHED arms 0..M-1, then NOT MATCHED
        # arms; -1 = none applies (a target row then keeps its values)
        matched = f"__tid IS NOT NULL AND {_ident(salias)}.__m IS NOT NULL"
        when = [(f"{matched} AND {_group(c.cond or 'true')}", str(i)) for i, c in enumerate(m_clauses)]
        when += [
            (f"__tid IS NULL AND {_group(c.cond or 'true')}", str(len(m_clauses) + i))
            for i, c in enumerate(nm_clauses)
        ]
        joined = joined.selectExpr("*", f"{_case(when, '-1')} AS __w")
        inserts = [
            {n: f"{_ident(salias)}.{_ident(n)}" for n in names if n in src_cols}
            if c.insert_values is None  # INSERT *
            else dict(zip(c.insert_columns or names, c.insert_values, strict=True))
            for c in nm_clauses
        ]
        # a column an insert arm leaves out takes its default
        defaults = {n: _literal(mt.defaults.get(n)) for n in names}
        arms = [c.assignments for c in m_clauses] + [{**defaults, **a} for a in inserts]
        deletes = [str(i) for i, c in enumerate(m_clauses) if c.action == "delete"]
        keep = "(__tid IS NOT NULL OR __w >= 0)"
        if deletes:
            keep += f" AND NOT __w IN ({', '.join(deletes)})"
        items = []
        for f in fields:
            whens = [(f"__w = {i}", _cast(a[f.name], f)) for i, a in enumerate(arms) if f.name in a]
            items.append(f"{_case(whens, f'{_ident(talias)}.{_ident(f.name)}')} AS {_ident(f.name)}")
        merged = joined.selectExpr(*items, "__tid", f"{_ident(salias)}.__m AS __m", f"{keep} AS __keep")
        merged = _checkpoint(merged.coalesce(self.spark.sparkContext.defaultParallelism), eager=True)

        # SQL-standard cardinality check: a target row may match at most one
        # source row (nondeterministic update otherwise)
        dup = merged.where("__tid IS NOT NULL AND __m").groupBy("__tid").count().where("count > 1")
        if dup.limit(1).count():
            raise ValueError("MERGE: a target row matched more than one source row")
        # NOT NULL applies to the rows an update arm may have changed (when
        # one assigns a constrained column) and to every inserted row
        checked = []
        if mt.notnull & {name for c in m_clauses for name in c.assignments}:
            checked.append("__tid IS NOT NULL")
        if nm_clauses:
            checked.append("__tid IS NULL")
        if checked:
            mt._check_notnull(merged.where(f"__keep AND ({' OR '.join(checked)})"), "MERGE")

        count = self._count_df(src)
        mt._bump(merged.where("__keep").selectExpr(*map(_ident, names)), materialized=True)
        self._put_table(mt.name, mt)
        return count

    def _get_managed(self, name: str) -> ManagedTable:
        key = self._normalize_name(name)
        if key not in self.tables:
            raise ValueError(f"not a managed table: {name}")
        return self.tables[key]

    def _count_df(self, source: DataFrame | None) -> DataFrame:
        """DML result shape: one row, one bigint ``count`` column
        (reference: qurious/src/utils/batch.rs:13 make_count_batch) — the
        row count of ``source``, else 0. The SQL constant needs no Python
        worker, unlike ``createDataFrame``'s local rows.

        A lazy plan when counting cannot raise: ``source``'s analyzed plan
        is bound already, so the write that re-registers its table's view
        does not change what this counts. A count that may raise (an ANSI
        cast or division in a filter, say) runs now, so a statement that
        builds this before it writes fails before the table changes."""
        if source is None:
            return self.spark.sql("SELECT CAST(0 AS BIGINT) AS count")
        count = source.selectExpr("count(1) AS count")
        if _may_raise(count):
            return self.spark.sql(f"SELECT CAST({count.first()[0]} AS BIGINT) AS count")
        return count
