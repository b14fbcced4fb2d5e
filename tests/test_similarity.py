"""ANN quality: IVF recall against the exact brute-force baseline."""

from __future__ import annotations

import pytest

from qurious_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    from qurious_spark.sources.readers import read_parquet

    return read_parquet(spark, f"{SF}/embeddings.parquet")


def _topk_sets(rows):
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def test_ivf_recall_vs_bruteforce(spark, embeddings):
    queries = embeddings.limit(20)
    exact = _topk_sets(brute_force_topk(embeddings, queries, k=5).collect())
    approx = _topk_sets(ivf_topk(embeddings, queries, k=5, nprobe=3).collect())
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    # label-derived coarse buckets with nprobe=3 of ~n_labels buckets: the
    # probed slice must recover most exact neighbors
    assert recall >= 0.6, f"IVF recall@5 too low: {recall:.2f}"


def test_lsh_recall_vs_bruteforce(spark, embeddings):
    queries = embeddings.limit(20)
    exact = _topk_sets(brute_force_topk(embeddings, queries, k=5).collect())
    # few bits at this tiny SF (50 vecs) so buckets actually collide; the
    # sf0.01/sf0.1 oracle run exercises the registry's 8x6 configuration
    approx = _topk_sets(lsh_topk(embeddings, queries, k=5, n_tables=8, n_bits=3).collect())
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    assert recall >= 0.5, f"LSH recall@5 too low: {recall:.2f}"


def test_lsh_candidates_are_reduced(spark, embeddings):
    # a query's candidate set must be a strict subset of the corpus; with
    # b bits per table a bucket holds ~N/2^b vectors, x n_tables tables
    n = embeddings.count()
    queries = embeddings.limit(5)
    res = lsh_topk(embeddings, queries, k=n, n_tables=4, n_bits=4)
    per_query = res.groupBy("query_id").count().collect()
    assert per_query and all(r["count"] < n - 1 for r in per_query)


def test_ivf_probes_fraction_of_corpus(spark, embeddings):
    # the candidate set per query must be a strict subset of the corpus —
    # that reduction is the entire point of IVF at scale
    n_buckets = embeddings.select("label").distinct().count()
    assert n_buckets >= 3  # nprobe=1 below probes ~1/n_buckets of the corpus
    queries = embeddings.limit(5)
    approx = ivf_topk(embeddings, queries, k=5, nprobe=1).collect()
    assert len(approx) > 0


def test_pq_recall_vs_bruteforce(spark, embeddings):
    from qurious_spark.operators.similarity import pq_topk

    queries = embeddings.limit(20)
    exact = _topk_sets(brute_force_topk(embeddings, queries, k=5).collect())
    approx = _topk_sets(
        pq_topk(embeddings, queries, k=5, n_subspaces=16, n_codes=16).collect()
    )
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    assert recall >= 0.5, f"PQ recall@5 too low: {recall:.2f}"


def test_pq_codes_compress(spark, embeddings):
    from qurious_spark.operators.similarity import pq_codebooks

    cb = pq_codebooks(embeddings, n_subspaces=8, n_codes=8, dim=64).collect()
    # 8 subspaces x <=8 codes, centroids are 8-dim
    assert len(cb) <= 64 and len(cb) >= 16
    assert all(len(r.centroid) == 8 for r in cb)
    assert len({(r.s, r.code) for r in cb}) == len(cb)


def test_cosine_pairs_guard_refuses_oversized_input(spark, embeddings):
    import pytest as _pytest

    from qurious_spark.operators.similarity import cosine_pairs

    with _pytest.raises(ValueError, match="O\\(N\\^2\\)"):
        cosine_pairs(embeddings, threshold=0.9, max_rows=5)
    # explicit opt-in above the default still works on bounded data
    small = embeddings.limit(20)
    rows = cosine_pairs(small, threshold=-1.0, max_rows=25).collect()
    assert len(rows) == 20 * 19 // 2


def test_dup_clusters_entry_materializes_expensive_intermediates(spark):
    """The bounded-invariant embedding_dup_clusters references its
    clustering frame three times and its probe edge list twice; without
    eager checkpoints Spark recomputes the O(n^2) pair scan per reference
    (observed 40+ min at sf1, invisible at test scale). Pin that the final
    plan reads the materialized (LogicalRDD) intermediates instead of
    re-deriving them from the parquet scan."""
    import re

    from qurious_spark.queries import ordered_registry

    fn = ordered_registry()["embedding_dup_clusters"]
    df = fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_rdd = len(re.findall(r"LogicalRDD", plan))
    assert n_rdd >= 4, (
        f"expected the cluster/edge references to read checkpointed "
        f"LogicalRDD scans (>=4), found {n_rdd} — a refactor likely "
        f"dropped the localCheckpoint calls; see queries/vector.py"
    )
    # the full-corpus parquet scan must not appear more than twice in the
    # final plan (probe side + corpus side of the edge scorer); more means
    # a cluster reference re-derives the quadratic join from source
    n_scans = len(re.findall(r"embeddings", plan))
    assert n_scans <= 2, f"embeddings source re-derived {n_scans}x in: {plan[:4000]}"


def test_srp_keyed_sql_text_form(spark, embeddings):
    """r13 driver-latency pin: the SQL-text _srp_keyed must reproduce the
    pre-r13 Column-based construction bit-for-bit (same ±1 literal planes,
    same HOF fold order, same int->bigint bit packing)."""
    from pyspark.sql import functions as F

    from qurious_spark.operators import similarity as S

    planes = S.srp_planes(dim=64, n_tables=8, n_bits=6, seed=42)
    new_df = S._srp_keyed(embeddings, "neighbor_id", planes, "vec_id", "embedding")

    # the exact pre-r13 Column composition, kept here as the reference
    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)

    def old_key(vec, table_planes):
        key = F.lit(0).cast("bigint")
        for j, plane in enumerate(table_planes):
            lit_plane = F.array(*[F.lit(x) for x in plane])
            bit = F.when(dot(vec, lit_plane) >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
            key = key + bit.cast("bigint")
        return key

    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                old_key(F.col("embedding"), planes[t]).alias("key"),
            )
            for t in range(len(planes))
        ]
    )
    old_df = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.explode(entries).alias("tk")
    ).select("neighbor_id", F.col("tk.t").alias("t"), F.col("tk.key").alias("key"))

    assert new_df.schema == old_df.schema, (new_df.schema, old_df.schema)
    assert sorted(map(tuple, new_df.collect())) == sorted(map(tuple, old_df.collect()))

    # the text form prints only signs, so any other component must raise
    # instead of silently changing the bucket keys
    bad = [list(plane) for plane in planes[0]]
    bad[0][0] = 0.5
    with pytest.raises(ValueError, match="SRP plane"):
        S._srp_keyed(embeddings, "neighbor_id", [bad], "vec_id", "embedding")


def test_unrolled_sql_twins(spark, embeddings):
    """Both ``dim`` forms of the vector text are pinned bit for bit:
    ``dim=64`` against the unrolled Column composition it replaced (same
    0-based indexing, cast placement and left-to-right fold order), and
    ``dim=None`` against ``dim=64`` on double input, a zero vector included."""
    import struct

    from pyspark.sql import functions as F

    from qurious_spark.functions import vector as V
    from qurious_spark.operators.similarity import with_double_vec

    dim = 64

    # the unrolled Column composition, kept here as the reference
    def dot(a, b):
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
        return acc

    def l2_norm(a):
        return F.sqrt(dot(a, a))

    def cosine(a, b):
        denom = l2_norm(a) * l2_norm(b)
        return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))

    def text_form(df, d):
        return df.selectExpr(
            f"{V.dot_sql('embedding', 'r', d)} AS d",
            f"{V.l2_norm_sql('embedding', d)} AS n",
            f"{V.cosine_sql('embedding', 'r', d)} AS c",
        )

    def bits(df):
        return sorted(tuple(struct.pack(">d", v) for v in r) for r in df.collect())

    zero = spark.createDataFrame([([0.0] * dim,)], "embedding array<float>")
    vecs = embeddings.select("embedding").unionByName(zero)
    floats = vecs.withColumn("r", F.reverse("embedding"))
    e, r = F.col("embedding"), F.col("r")
    col_form = floats.select(
        dot(e, r).alias("d"), l2_norm(e).alias("n"), cosine(e, r).alias("c")
    )
    assert col_form.schema == text_form(floats, dim).schema
    assert bits(col_form) == bits(text_form(floats, dim))

    doubles = with_double_vec(vecs).withColumn("r", F.reverse("embedding"))
    unrolled = text_form(doubles, dim)
    assert unrolled.filter("n = 0 AND c = 0").count() == 1  # the zero vector
    assert bits(text_form(doubles, None)) == bits(unrolled)
