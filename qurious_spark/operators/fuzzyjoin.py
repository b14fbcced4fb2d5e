"""Fuzzy (edit-distance) join with q-gram candidate pruning.

Joining on approximate string equality is a data-cleaning staple (entity
resolution, typo-tolerant lookups). The naive plan is an all-pairs cross
join with a levenshtein filter — O(N·M) and a BNLJ in Spark. This operator
uses the standard q-gram count-filter bound instead: two strings within
edit distance ``k`` share at least ``max(|a|,|b|) - q + 1 - q·k`` q-grams,
so when that bound is ≥ 1 (strings of length ≥ q·(k+1)), every true match
shares at least one q-gram. Candidate generation is then an equi-join on
exploded q-grams — an inverted-index self-probe like dedup's shingle join,
not a cartesian — followed by a cheap length prefilter and the exact
levenshtein check on candidates only.

Scale shape: the shuffle key is the q-gram; hot grams can be prefix-filtered
like dedup's ``max_shingle_freq``. The expensive levenshtein runs only on
the candidate set, whose size tracks true-match density, not N·M.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def qgrams(s: str, q: int = 2) -> str:
    """Distinct q-grams of the string SQL expression ``s`` (array<string>),
    as SQL text; strings shorter than q collapse to themselves."""
    return (
        f"array_distinct(CASE WHEN length({s}) >= {q} "
        f"THEN transform(sequence(1, length({s}) - {q} + 1), i -> substr({s}, i, {q})) "
        f"ELSE array({s}) END)"
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    q: int = 2,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """All (left row, right row) pairs with
    ``levenshtein(left_col, right_col) <= max_dist``.

    Lossless for strings of length ≥ q·(max_dist+1) (q-gram count-filter
    bound guarantees ≥1 shared gram); callers joining very short keys
    should lower ``q`` to 1, where the bound holds from length
    ``max_dist+1``. ``max_gram_freq`` trades recall for skew resistance:
    pruning hot q-grams from BOTH sides can drop true matches whose only
    shared grams are the pruned ones — the losslessness claim above holds
    only with ``max_gram_freq=None`` (same trade as dedup's
    ``max_shingle_freq``). Returns left columns, right columns
    (``r_``-prefixed on name clashes), and ``dist``.
    """
    lg = left.select(
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.explode(F.expr(qgrams(f"`{left_col}`", q))).alias("__g"),
    )
    rg = right.select(
        F.struct(*[F.col(c) for c in right.columns]).alias("__r"),
        F.explode(F.expr(qgrams(f"`{right_col}`", q))).alias("__g"),
    )
    if max_gram_freq is not None:
        hot = (
            rg.groupBy("__g").count().filter(F.col("count") > max_gram_freq).select("__g")
        )
        lg = lg.join(F.broadcast(hot), "__g", "left_anti")
        rg = rg.join(F.broadcast(hot), "__g", "left_anti")
    cand = (
        lg.join(rg, "__g")
        .select("__l", "__r")
        .distinct()
        # cheap length prefilter before the expensive edit distance
        .filter(
            F.abs(
                F.length(F.col(f"__l.{left_col}")) - F.length(F.col(f"__r.{right_col}"))
            )
            <= max_dist
        )
        .filter(
            F.levenshtein(F.col(f"__l.{left_col}"), F.col(f"__r.{right_col}"))
            <= max_dist
        )
        .withColumn(
            "dist",
            F.levenshtein(F.col(f"__l.{left_col}"), F.col(f"__r.{right_col}")).cast(
                "int"
            ),
        )
    )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__r.{c}").alias(f"r_{c}" if c in left.columns else c)
        for c in right.columns
    ]
    return cand.select(*out_cols, "dist")
