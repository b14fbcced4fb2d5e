"""Similarity search over embedding columns.

Brute-force cosine top-k is the exactness baseline; IVF (inverted-file with
coarse centroids) is the scale path: at 100 TB the full cross join is
infeasible, so vectors are bucketed by nearest centroid and queries probe
only the closest ``nprobe`` buckets — turning an O(N*Q) cross join into a
broadcast-join on bucket id over a small candidate slice.

No reference parity here (the reference has no vector surface); greenfield
Spark design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qurious_spark.functions import vector as V
from qurious_spark.checkpoint import checkpoint as _checkpoint


def with_double_vec(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn(vec_col, F.expr(V.as_double_sql(f"`{vec_col}`")))


def hoisted_cosine_sql(a: str, b: str, na: str, nb: str, dim: int | None = None) -> str:
    """``round(cosine(a, b), 6)`` as SQL text, given the l2 norms of ``a``
    and ``b`` as the columns ``na`` and ``nb``: a pair scorer computes each
    side's norm once per row before its join, not once per pair."""
    return (
        f"round(CASE WHEN {na} * {nb} > 0 THEN {V.dot_sql(a, b, dim)} / ({na} * {nb}) "
        f"ELSE CAST(0.0 AS DOUBLE) END, 6)"
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best neighbors per query, ranked by (sim DESC, neighbor id ASC)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: queries (small, broadcast) x corpus, ranked.

    Rank is deterministic: (rounded similarity DESC, neighbor id ASC).
    Self-matches are excluded. Pass ``dim`` when the embedding width is
    known: the dot/norm folds unroll into codegen'd arithmetic (same FP
    order, ~10x), and each side's norm is computed once BEFORE the cross
    join instead of once per pair.
    """
    if dim is None:
        corpus, queries = with_double_vec(corpus, vec_col), with_double_vec(queries, vec_col)
    norm = V.l2_norm_sql(f"`{vec_col}`", dim)
    q = queries.selectExpr(f"`{id_col}` AS query_id", f"`{vec_col}` AS qv", f"{norm} AS qn")
    c = corpus.selectExpr(f"`{id_col}` AS neighbor_id", f"`{vec_col}` AS cv", f"{norm} AS cn")
    # spread the O(|corpus| x |queries|) scoring across the cluster: a small
    # corpus file may arrive as one input partition, and the cross join
    # inherits the streamed side's partitioning — the O(N) repartition is
    # noise next to the quadratic scoring it parallelizes
    par = c.sparkSession.sparkContext.defaultParallelism
    scored = (
        c.repartition(par)
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.expr(hoisted_cosine_sql("qv", "cv", "qn", "cn", dim)))
    )
    return _top_k(scored, k)


# cosine_pairs refuses inputs above this size unless the caller raises the
# cap explicitly — at 100k rows the cross join already scores 5e9 pairs.
COSINE_PAIRS_MAX_ROWS = 100_000


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_rows: int = COSINE_PAIRS_MAX_ROWS,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup detection).

    O(N^2) — exactness baseline for correctness checking; use
    ``semdedup``/``srp_lsh``/``ivf_topk`` at corpus scale. ``dim`` unrolls
    the folds into codegen and hoists norms out of the cross join.

    Guard: raises ``ValueError`` when the input exceeds ``max_rows`` so no
    pipeline silently plans an O(N^2) cross join at corpus scale (the probe
    is a ``limit(max_rows+1).count()`` — bounded, never a full scan).
    """
    src = df if dim is not None else with_double_vec(df, vec_col)
    probed = src.limit(max_rows + 1).count()
    if probed > max_rows:
        raise ValueError(
            f"cosine_pairs is an O(N^2) exact baseline and the input exceeds "
            f"max_rows={max_rows}; use semdedup/srp_lsh/ivf_topk for "
            f"corpus-scale near-dup detection, or pass max_rows explicitly "
            f"to accept the quadratic cost"
        )
    norm = V.l2_norm_sql(f"`{vec_col}`", dim)
    a = src.selectExpr(f"`{id_col}` AS id_a", f"`{vec_col}` AS va", f"{norm} AS na")
    b = src.selectExpr(f"`{id_col}` AS id_b", f"`{vec_col}` AS vb", f"{norm} AS nb")
    # same single-input-partition hazard as ann brute-force: parallelize the
    # O(N^2) pair scoring regardless of how few partitions the source has
    par = a.sparkSession.sparkContext.defaultParallelism
    return (
        a.repartition(par)
        .crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.expr(hoisted_cosine_sql("va", "vb", "na", "nb", dim)))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _avg_centroids(assigned: DataFrame, keys: list[str], vec_col: str) -> DataFrame:
    """Mean vector per ``keys`` group, as ``centroid``: posexplode +
    per-dimension avg (one shuffle)."""
    return (
        assigned.select(*keys, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(F.avg("v").alias("cv"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .selectExpr(*keys, "transform(pairs, p -> p.cv) AS centroid")
    )


def _assign_to_centroids(
    c: DataFrame, cent: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid bucket per vector (centroids broadcast; max_by argmax)."""
    return (
        c.crossJoin(F.broadcast(cent))
        .withColumn("sim", F.expr(V.cosine_sql(f"`{vec_col}`", "centroid")))
        .groupBy(id_col)
        .agg(
            F.max_by("bucket", F.struct(F.col("sim"), F.col("bucket"))).alias("bucket"),
            F.first(vec_col).alias(vec_col),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Distributed Lloyd iterations for the IVF coarse quantizer.

    Deterministic init (``clustering.seed_centroids``: the first
    ``n_clusters`` vectors by id), then assign-and-average rounds — each
    round is one broadcast join plus one shuffle.  At 100 TB train on a
    sample (``sample_fraction``); the final full-corpus assignment is a
    single broadcast pass either way.
    """
    from qurious_spark.operators.clustering import seed_centroids

    if sample_fraction:
        corpus = corpus.sample(fraction=sample_fraction, seed=42)
    cent = seed_centroids(corpus, n_clusters, id_col, vec_col)
    c = with_double_vec(corpus, vec_col).select(id_col, vec_col)
    for _ in range(iters):
        assigned = _assign_to_centroids(c, cent, id_col, vec_col)
        cent = _avg_centroids(assigned, ["bucket"], vec_col)
    return cent


def ivf_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quantizer: str = "kmeans",
    n_clusters: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Coarse quantizer + bucket assignment. Returns (centroids, assigned).

    ``quantizer="kmeans"`` (default) learns geometric buckets — the real IVF
    shape.  ``quantizer="label"`` reuses an existing partition column as the
    bucketing (cheap, but recall degrades to ~nprobe/n_buckets when the
    column is uncorrelated with vector geometry).
    """
    c = with_double_vec(corpus, vec_col)
    if quantizer == "label":
        cent = _avg_centroids(
            c.select(F.col(label_col).alias("bucket"), F.col(vec_col)), ["bucket"], vec_col
        )
        return cent, c.withColumn("bucket", F.col(label_col))
    from qurious_spark.operators.caching import persist_rotating

    cent = persist_rotating(
        kmeans_centroids(c, n_clusters, id_col=id_col, vec_col=vec_col),
        "ivf_centroids",
    )  # read by the corpus assignment AND every query's probe ranking
    assigned = _assign_to_centroids(c, cent, id_col, vec_col)
    return cent, assigned


def srp_planes(
    dim: int, n_tables: int, n_bits: int, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic ±1 sign-random-projection hyperplanes.

    ``planes[t][j]`` is the j-th hyperplane of hash table t. Components are
    ±1.0 drawn from a seeded PRNG so the SAME planes can be interpolated as
    literals into both the Spark plan and the DuckDB oracle SQL — making the
    LSH bucketing exactly reproducible across engines (±1 products are exact
    in double precision; only the summation order matters, and both engines
    fold left-to-right).
    """
    import random

    rng = random.Random(seed)
    return [
        [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def _srp_key_sql(vec_sql: str, table_planes: list[list[float]]) -> str:
    """Bucket key for one hash table: n_bits sign bits packed into a bigint,
    as ONE SQL-text expression.

    Stays entirely in JVM expressions (zip_with/aggregate fold) — no UDF; the
    per-row cost is n_bits dot products of a small literal array.

    NOTE: deliberately the HOF fold, NOT the unrolled dot — n_bits * dim
    unrolled terms per table key explode the codegen tree (14 MB task
    binaries, 2-minute compile); the fold keeps the plan constant-size.

    r13 (driver latency, VERDICT r12 task 7): the Column-based builder spent
    ~65 py4j round trips per plane (64 F.lit + F.array) x n_bits x n_tables
    x both join sides — ~6,800 round trips and the single largest build in
    the registry (measured seconds per build on a degraded host). The ±1
    literals now print into the text (exact: 1.0/-1.0 are binary-exact
    doubles), same fold order, bit-identical keys
    (pin: tests/test_similarity.py::test_srp_keyed_sql_text_form).
    """
    terms = ["CAST(0 AS BIGINT)"]
    for j, plane in enumerate(table_planes):
        if any(x not in (1.0, -1.0) for x in plane):
            raise ValueError(f"SRP plane components must be +1.0 or -1.0: {plane}")
        lit = "array(" + ", ".join("1.0D" if x > 0 else "-1.0D" for x in plane) + ")"
        terms.append(
            f"CAST(CASE WHEN {V.dot_sql(vec_sql, lit)} >= 0 "
            f"THEN {2 ** j} ELSE 0 END AS BIGINT)"
        )
    return "(" + " + ".join(terms) + ")"


def _srp_keyed(df: DataFrame, id_out: str, planes, id_col: str, vec_col: str) -> DataFrame:
    """(id, t, key) — one row per (vector, hash table), computed in one pass.
    Emitted as one SQL text (see _srp_key_sql)."""
    structs = ", ".join(
        f"named_struct('t', {t}, 'key', {_srp_key_sql(f'`{vec_col}`', planes[t])})"
        for t in range(len(planes))
    )
    return df.selectExpr(
        f"`{id_col}` AS `{id_out}`", f"explode(array({structs})) AS tk"
    ).selectExpr(f"`{id_out}`", "tk.t AS t", "tk.key AS key")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_tables: int = 8,
    n_bits: int = 6,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH ANN (the bucketed alternative to IVF): a vector is a candidate
    for a query iff they share a bucket in ANY of ``n_tables`` sign-random-
    projection hash tables; candidates are exact-reranked by cosine.

    Scale shape: corpus keys are computed in one narrow pass (no shuffle),
    the candidate join is equi on (table, key) with the small query side
    broadcast, dedup shuffles only (query_id, neighbor_id) pairs, and the
    rerank re-joins vectors by id. The full cross join never materializes —
    candidate volume is ~n_tables * corpus/2^n_bits rows per query.

    Greenfield (reference has no vector surface); recall tunable via
    (n_tables, n_bits): more tables -> recall up, more bits -> precision up.
    """
    planes = srp_planes(dim, n_tables, n_bits, seed)
    c = corpus.select(id_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    ck = _srp_keyed(c, "neighbor_id", planes, id_col, vec_col)
    qk = _srp_keyed(q, "query_id", planes, "query_id", "qv")
    cand = (
        ck.join(F.broadcast(qk), ["t", "key"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(
            c.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .withColumn("sim", F.expr(f"round({V.cosine_sql('qv', 'cv', dim)}, 6)"))
    )
    return _top_k(scored, k)


def _pq_subvectors(df: DataFrame, id_out: str, id_col: str, vec_col: str,
                   n_subspaces: int, sub_dim: int) -> DataFrame:
    """(id, s, sub): one row per (vector, subspace slice). slice() is 1-based."""
    slices = ", ".join(
        f"struct({s} AS s, "
        f"{V.as_double_sql(f'slice(`{vec_col}`, {s * sub_dim + 1}, {sub_dim})')} AS sub)"
        for s in range(n_subspaces)
    )
    return df.selectExpr(
        f"`{id_col}` AS `{id_out}`", f"explode(array({slices})) AS e"
    ).selectExpr(f"`{id_out}`", "e.s AS s", "e.sub AS sub")


def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: per subspace, k-means (L2) over the
    corpus's subvectors. All subspaces train JOINTLY — each Lloyd round is
    ONE broadcast join + ONE shuffle keyed by (subspace, code, position),
    not n_subspaces separate jobs.

    Returns (s, code, centroid: array<double>). Deterministic init (first
    n_codes vectors per subspace in id order).
    """
    sub_dim = dim // n_subspaces
    sub = _pq_subvectors(corpus, "id", id_col, vec_col, n_subspaces, sub_dim)
    w = Window.partitionBy("s").orderBy("id")
    cent = (
        sub.withColumn("code", F.row_number().over(w) - 1)
        .filter(F.col("code") < n_codes)
        .select("s", "code", F.col("sub").alias("centroid"))
    )
    for _ in range(iters):
        assigned = (
            sub.join(F.broadcast(cent), "s")
            .withColumn("d2", F.expr(V.l2_sq_sql("sub", "centroid")))
            .groupBy("id", "s")
            .agg(
                F.min_by("code", F.struct(F.col("d2"), F.col("code"))).alias("code"),
                F.first("sub").alias("sub"),
            )
        )
        cent = _avg_centroids(assigned, ["s", "code"], "sub")
        cent = _checkpoint(cent, eager=True)  # truncate the lineage per round
    return cent


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist_factor: int = 4,
) -> DataFrame:
    """PQ asymmetric-distance top-k: corpus vectors compress to
    ``n_subspaces`` one-byte codes; a query scores the WHOLE corpus from a
    per-query lookup table of subspace distances (ADC), never touching the
    original vectors again.

    Scale shape: encoding is one broadcast join over the codebooks; the
    per-query LUT is n_subspaces * n_codes rows (broadcast); scoring is an
    equi join on (s, code) + a sum over n_subspaces rows per (query, doc).
    Memory per corpus vector: n_subspaces bytes instead of dim floats —
    the 100 TB story is the 32x footprint cut.

    Unit-norm embeddings make L2 order = cosine order. ADC ranks carry
    quantization error, so (standard PQ practice) the ADC pass produces a
    ``shortlist_factor * k`` shortlist and the final ranking re-scores
    ONLY those shortlisted vectors with exact cosine — the footprint/IO
    win stays (the full corpus is scanned as codes), while accuracy is
    bounded by shortlist recall, not code resolution.
    """
    sub_dim = dim // n_subspaces
    cb = pq_codebooks(corpus, n_subspaces, n_codes, dim, iters, id_col, vec_col)
    csub = _pq_subvectors(corpus, "neighbor_id", id_col, vec_col, n_subspaces, sub_dim)
    codes = (
        csub.join(F.broadcast(cb), "s")
        .withColumn("d2", F.expr(V.l2_sq_sql("sub", "centroid")))
        .groupBy("neighbor_id", "s")
        .agg(F.min_by("code", F.struct(F.col("d2"), F.col("code"))).alias("code"))
    )
    qsub = _pq_subvectors(queries, "query_id", id_col, vec_col, n_subspaces, sub_dim)
    lut = (
        qsub.join(F.broadcast(cb), "s")
        .selectExpr("query_id", "s", "code", f"{V.l2_sq_sql('sub', 'centroid')} AS partial")
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("partial"), 6).alias("dist2"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("neighbor_id"))
    shortlist = (
        scored.withColumn("srank", F.row_number().over(w_adc))
        .filter(F.col("srank") <= shortlist_factor * k)
        .select("query_id", "neighbor_id")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    rescored = (
        shortlist.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("sim", F.expr(f"round({V.cosine_sql('qv', 'cv')}, 6)"))
    )
    return _top_k(rescored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quantizer: str = "kmeans",
    n_clusters: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` nearest centroid buckets per query, then
    exact-rank within the probed slice. The bucket join replaces the full
    cross join — candidate set shrinks by ~(nprobe / n_buckets)."""
    cent, assigned = ivf_assign(corpus, id_col, vec_col, label_col, quantizer, n_clusters)
    q = with_double_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("bucket"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("csim", F.expr(V.cosine_sql("qv", "centroid", dim)))
        .withColumn("prank", F.row_number().over(probe_w))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "qv", "bucket")
    )
    cands = probes.join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
        ),
        "bucket",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    cands = cands.withColumn("sim", F.expr(f"round({V.cosine_sql('qv', 'cv', dim)}, 6)"))
    return _top_k(cands, k)
