"""Source-text lints for the oracle-stability conventions in
qurious_spark/queries/__init__.py's docstring.

These catch regressions of defect classes that only fire at scale, where
the default-suite gates can't see them (the money-sum half-point class
first flipped at sf1 — tpch_q7, round 7).
"""

from __future__ import annotations

import glob
import os

QUERIES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "qurious_spark",
    "queries",
)


def _round_spans(text: str):
    """Yield (offset, span_text) for every balanced ROUND(...) call."""
    upper = text.upper()
    start = 0
    while True:
        i = upper.find("ROUND(", start)
        if i < 0:
            return
        depth = 0
        for j in range(i + 5, len(text)):
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
                if depth == 0:
                    yield i, text[i : j + 1]
                    break
        start = i + 6


def test_no_double_round_over_decimal_sums():
    """Money sums must round in DECIMAL space (CAST(ROUND(SUM(dec), n) AS
    DOUBLE)), never ROUND a double-cast sum: an exact scale-4 decimal sum
    ends on a .xx5 half-point ~1/100 groups, where Spark (shortest decimal
    string, HALF_UP) and DuckDB (binary value) round a DOUBLE apart.
    Quotients are exempt — they are covered by the DECIMAL(38,k) cast
    convention (DuckDB types decimal division as DOUBLE and rounds the
    double→decimal cast)."""
    bad = []
    for path in glob.glob(os.path.join(QUERIES_DIR, "*.py")):
        if os.path.basename(path) == "__init__.py":
            continue  # the conventions docstring quotes the anti-pattern
        text = open(path).read()
        for off, span in _round_spans(text):
            if "CAST(SUM" in span and "AS DOUBLE" in span and "/" not in span:
                line = text[:off].count("\n") + 1
                bad.append(f"{os.path.basename(path)}:{line}: {span[:90]}")
    assert not bad, (
        "ROUND over a double-cast decimal SUM (half-point hazard; use "
        "CAST(ROUND(SUM(dec), n) AS DOUBLE)):\n" + "\n".join(bad)
    )


def test_no_dataframe_round_over_double_cast():
    """DataFrame-API twin of the SQL lint: F.round(x.cast(\"double\"), n)
    rounds a DOUBLE (engine-divergent on half-points); round the decimal
    first, then cast — F.round(x, n).cast(\"double\")."""
    bad = []
    for path in glob.glob(os.path.join(QUERIES_DIR, "*.py")):
        text = open(path).read()
        start = 0
        while True:
            i = text.find("F.round(", start)
            if i < 0:
                break
            depth = 0
            for j in range(i + 7, len(text)):
                if text[j] == "(":
                    depth += 1
                elif text[j] == ")":
                    depth -= 1
                    if depth == 0:
                        span = text[i : j + 1]
                        if '.cast("double")' in span:
                            line = text[:i].count("\n") + 1
                            bad.append(f"{os.path.basename(path)}:{line}")
                        break
            start = i + 8
    assert not bad, (
        "F.round over a double cast (half-point hazard; use "
        'F.round(dec, n).cast("double")):\n' + "\n".join(bad)
    )


def test_rdd_access_is_metadata_only_in_spread():
    """``.rdd`` builds RDD lineage and escapes whole-stage codegen — the
    package's single allowed use is spread()'s driver-side
    ``getNumPartitions()`` probe. That probe reads no rows, but it plans its
    input physically and so runs the input's subqueries and AQE exchanges
    as jobs, once per input per session (spread memoizes it; see its
    docstring). Any new ``.rdd`` access must be justified here."""
    import re

    pkg = os.path.join(os.path.dirname(QUERIES_DIR))
    hits = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg)
        with open(path) as f:
            for lineno, line in enumerate(f, 1):
                code = line.split("#", 1)[0]
                if re.search(r"\.rdd\b", code) and '``' not in line:
                    hits.append((rel, lineno, line.strip()))
    allowed = {("operators/dedup.py", "nparts = df.rdd.getNumPartitions()")}
    unexpected = [
        h for h in hits if (h[0], h[2]) not in allowed
    ]
    assert not unexpected, f"new .rdd access outside spread(): {unexpected}"
    assert len(hits) == 1, f"expected exactly the spread() probe, got: {hits}"


def test_one_paren_depth_counter_in_the_dialect_layer():
    """The dialect layer tracks nesting and quoting in one scanner
    (dialect._scan); a second ad-hoc paren counter in dialect.py or
    session.py would bring back the quote-blind copies it replaced."""
    pkg = os.path.dirname(QUERIES_DIR)
    n = sum(
        open(os.path.join(pkg, name)).read().count("depth += 1")
        for name in ("dialect.py", "session.py")
    )
    assert n <= 1, f"{n} paren-depth counters in dialect.py + session.py; use dialect._scan"


def test_session_builds_no_column_chains():
    """Managed-table writes pass SQL text to selectExpr/where; session.py
    imports no pyspark.sql.functions, so per-column Column chains
    (F.when/F.col/F.lit) cannot come back into the write path."""
    import ast

    path = os.path.join(os.path.dirname(QUERIES_DIR), "session.py")
    bad = []
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        bad += [
            f"line {node.lineno}: {m}"
            for m in mods
            if m == "pyspark.sql.functions" or m.startswith("pyspark.sql.functions.")
        ]
    assert not bad, f"session.py imports pyspark.sql.functions: {bad}"


# The vector layer: the modules that build embedding expressions.
_VECTOR_LAYER = (
    "functions/vector.py",
    "operators/similarity.py",
    "operators/clustering.py",
    "queries/vector.py",
)
# The text layer: the modules that build text expressions.
_TEXT_LAYER = (
    "functions/text.py",
    "operators/dedup.py",
    "queries/text.py",
    "operators/chunking.py",
)
_PKG = os.path.dirname(QUERIES_DIR)


def _pyspark_imports(rel: str) -> list[str]:
    import ast

    bad = []
    for node in ast.walk(ast.parse(open(os.path.join(_PKG, rel)).read())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
        else:
            continue
        bad += [f"line {node.lineno}: {m}" for m in mods if m.split(".")[0] == "pyspark"]
    return bad


def _python_lambda_hofs(rels: tuple[str, ...]) -> list[str]:
    """``F.<hof>(..., lambda ...)`` calls in the given package modules."""
    import ast

    hofs = {
        "transform", "aggregate", "reduce", "zip_with", "filter", "exists", "forall",
        "array_sort", "map_filter", "map_zip_with", "transform_keys", "transform_values",
    }
    bad = []
    for rel in rels:
        for node in ast.walk(ast.parse(open(os.path.join(_PKG, rel)).read())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.func.attr in hofs
                and any(
                    isinstance(arg, ast.Lambda)
                    for arg in [*node.args, *(k.value for k in node.keywords)]
                )
            ):
                bad.append(f"{rel}:{node.lineno}: F.{node.func.attr}")
    return bad


def test_vector_functions_import_no_pyspark():
    """functions/vector.py builds SQL text only, so it needs nothing from
    pyspark; a Column form next to the text would be a second way to build
    the same expression."""
    bad = _pyspark_imports("functions/vector.py")
    assert not bad, f"functions/vector.py imports from pyspark: {bad}"


def test_vector_layer_passes_no_python_lambdas():
    """The vector layer writes higher-order functions as SQL text
    (``x -> ...``). A Python lambda passed to F.transform and its kind costs
    several py4j round trips to build and brings back the Column twin of a
    text expression."""
    bad = _python_lambda_hofs(_VECTOR_LAYER)
    assert not bad, f"Python lambdas passed to higher-order functions: {bad}"


def test_text_functions_import_no_pyspark():
    """functions/text.py builds SQL text only (like functions/vector.py), so
    it needs nothing from pyspark: no Column form of a text expression."""
    bad = _pyspark_imports("functions/text.py")
    assert not bad, f"functions/text.py imports from pyspark: {bad}"


def test_text_layer_passes_no_python_lambdas():
    """The text layer writes higher-order functions as SQL text (``x ->
    ...``), including array_sort's comparator in lang_id."""
    bad = _python_lambda_hofs(_TEXT_LAYER)
    assert not bad, f"Python lambdas passed to higher-order functions: {bad}"


def test_package_passes_no_python_lambdas():
    """No module of the package passes a Python lambda to a higher-order
    function: each is written as ``x -> ...`` SQL text, so building it is
    one py4j round trip instead of several per lambda."""
    rels = tuple(
        os.path.relpath(path, _PKG)
        for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True)
    )
    bad = _python_lambda_hofs(rels)
    assert not bad, f"Python lambdas passed to higher-order functions: {bad}"


def test_redact_functions_import_no_pyspark():
    """functions/redact.py builds SQL text only, like the text and vector
    layers."""
    bad = _pyspark_imports("functions/redact.py")
    assert not bad, f"functions/redact.py imports from pyspark: {bad}"


def test_redact_patterns_reach_spark_verbatim(spark):
    """A plain Spark string literal unescapes backslashes (``'\\.'`` is
    ``.``, which matches any character), so every PII pattern must reach
    the analyzed plan character for character."""
    from qurious_spark.functions.redact import PII_PATTERNS, pii_count, redact_pii

    def plan(text):
        df = spark.range(1).selectExpr("'' AS t").selectExpr(f"{text} AS out")
        return df._jdf.queryExecution().analyzed().toString()

    redacted = plan(redact_pii("t"))
    missing = [pat for _, pat, _ in PII_PATTERNS if pat not in redacted]
    missing += [pat for kind, pat, _ in PII_PATTERNS if pat not in plan(pii_count("t", kind))]
    assert not missing, f"patterns altered on the way into Spark: {missing}"


def test_text_primitives_have_one_definition():
    """normalize, tokens, the md5 digest and the k-token window builder are
    defined once, as SQL text in functions/text.py; every other module calls
    them. (The DuckDB oracle snippets are written for another engine and
    use neither needle.)"""
    import ast

    primitives = {"normalize", "tokens", "md5_int", "k_windows"}
    bad = []
    for path in glob.glob(os.path.join(_PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _PKG)
        if rel == os.path.join("functions", "text.py"):
            continue
        src = open(path).read()
        bad += [
            f"{rel}:{node.lineno}: def {node.name}"
            for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.FunctionDef) and node.name.lstrip("_") in primitives
        ]
        bad += [f"{rel}: {n}" for n in ("conv(substring(md5(", "arrays_zip(") if n in src]
    assert not bad, f"a second copy of a text primitive: {bad}"
