"""Similarity-search queries over ``embeddings`` (north-star extension).

Oracle twins are generated from the same deterministic hyperplane constants
as the Spark operators (md5-parity signs — no RNG), so Spark, DuckDB and the
Python generator agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog._cache import STATE
from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.operators.iterative import cut_lineage
from nyc_taxi_pyspark_spark.operators.similarity import (
    DIM,
    N_PLANES,
    dot,
    hyperplane_signs,
    finite_vec,
    l2_norm,
    l2_norm_py,
    lsh_bucket,
    lsh_bucket_py,
    qfloor,
    safe_div,
    sql_double,
    sql_doubles,
)
from nyc_taxi_pyspark_spark.sources.io import load_table, parallelize_scan


def _emb(spark, sf_dir):
    return parallelize_scan(load_table(spark, sf_dir, "embeddings"), spark)


# PQ codebook seeds and the quantized query vector are session scalars:
# bounded driver-side parameters (PQ_K + 1 rows, the query-vector
# discipline) that THREE PQ queries re-collected per call — two driver jobs
# each, pure scheduling tax on state that cannot change within a session
# (r16, guide §5).
def _pq_seed_vectors(spark, sf_dir):
    """Seed vectors (vec_id 1..PQ_K, quantized, finite) for pq_codebooks."""
    from nyc_taxi_pyspark_spark.operators.similarity import PQ_K, quantize8

    def build():
        vq = _emb(spark, sf_dir).select("vec_id", quantize8("embedding").alias("xq"))
        return [
            (int(r["vec_id"]), [int(x) for x in r["xq"]])
            for r in vq.filter(F.col("vec_id").between(1, PQ_K))
            .filter("NOT exists(xq, x -> x IS NULL)")
            .collect()
        ]

    return STATE.get("similarity.pq_seeds", spark, sf_dir, build)


def _pq_query_vector(spark, sf_dir):
    """Quantized query vector (vec_id 0) or None when absent."""
    from nyc_taxi_pyspark_spark.operators.similarity import quantize8

    def build():
        row = (
            _emb(spark, sf_dir)
            .select("vec_id", quantize8("embedding").alias("xq"))
            .filter(F.col("vec_id") == 0)
            .first()
        )
        return None if row is None else [int(x) for x in row["xq"]]

    return STATE.get("similarity.pq_query_xq", spark, sf_dir, build)


def _bucketed(spark, sf_dir):
    """The bucketed-corpus layout: (vec_id, label, embedding, bucket, nrm),
    persisted once per (session, table).

    This is the similarity engine's storage contract: at 100 TB the bucket
    is a write-time partition column and the norm a materialized column of
    the embeddings table (`embed_lsh_buckets` defines exactly this layout),
    so per-query work is a pruned scan — never a corpus-wide re-derivation
    of the 8×64-term hyperplane projections. Locally we persist the derived
    projection instead of rewriting the testdata (read-only); the dominant
    saving is identical: the big bucket/norm expression tree is planned and
    computed once per session, and every ANN/near-dup query plans a small
    filter+fold instead."""
    return STATE.get(
        "similarity.bucketed",
        spark,
        sf_dir,
        lambda: _emb(spark, sf_dir).select(
            "vec_id",
            "label",
            "embedding",
            lsh_bucket("embedding").alias("bucket"),
            l2_norm("embedding").alias("nrm"),
        ),
    )


def _query_vec_literal(spark, sf_dir, vec_id: int = 0) -> list[float]:
    """The query vector's components, to inline as a literal array.

    A similarity query's vector is a *parameter*, not a joinable relation:
    one pushed-filter point lookup fetches it, then it's inlined as 64
    double literals. Catalyst constant-folds every query-side derivation
    (norm, LSH bucket) at plan time — so the ANN bucket filter is a plan
    literal, which at scale turns into static partition pruning, and no
    broadcast build / crossJoin machinery runs per query. (Round-1 bench
    paid a full-table `parallelize_scan` shuffle + broadcast exchange on
    this path twice per ANN query — the 19.5 s outlier.)

    The components are a shared store entry (one lookup per table dir for
    the whole process, dropped by ``STATE.invalidate()``): a fresh-session
    point lookup costs ~150 ms, which every sibling-session rebuild would
    otherwise pay.
    """

    def build():
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .head()
        )
        if row is None:
            raise ValueError(f"query vector vec_id={vec_id} not found in {sf_dir}")
        # Literal round-trip is exact: parquet float32 -> Python float ->
        # literal double is the same IEEE value the in-plan cast produces.
        return [float(x) for x in row[0]]

    return STATE.get_shared(f"similarity.query_vec.{vec_id}", sf_dir, build)


def _query_param(spark, sf_dir, vec_id: int = 0) -> tuple[str, str, str]:
    """(vector, bucket, norm) of the query vector as SQL literal text.

    Bucket and norm are computed driver-side by the bit-identical Python
    twins (`lsh_bucket_py` / `l2_norm_py`) so they enter the plan as plain
    literals: the ANN bucket filter is a constant string comparison (static
    partition pruning at scale) instead of a per-row re-fold of the query's
    8×64 hyperplane projection, which Catalyst cannot constant-fold
    (higher-order functions are non-foldable)."""
    vals = _query_vec_literal(spark, sf_dir, vec_id)
    return sql_doubles(vals), f"'{lsh_bucket_py(vals)}'", sql_double(l2_norm_py(vals))


_SIGNS = hyperplane_signs()

_DUCK_X = "CAST(e.embedding[i] AS DOUBLE)"


def _duck_acc(expr: str) -> str:
    """Integer micro-quantized sum — mirrors operators.similarity._dsum.

    TRY_CAST + COALESCE are the dirty-data half of the contract: a term
    whose cents exceed int64 (NaN/±Inf from a broken encoder — DuckDB's
    FLOOR passes them through and a plain CAST errors) becomes NULL, SUM
    skips it, and an all-dirty vector coalesces to 0 — exactly the 0 the
    Spark fold's between-guard contributes for the same terms."""
    return (
        f"(CAST(COALESCE(SUM(TRY_CAST(FLOOR(({expr}) * 1e14) AS BIGINT)), 0)"
        f" AS DOUBLE) / 1e14)"
    )


@query(
    "embed_norms",
    oracle=f"""
    SELECT e.vec_id,
           CAST(64 AS INTEGER) AS dim,
           SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')}) AS l2_norm
    FROM embeddings e, generate_series(1, {DIM}) AS g(i)
    GROUP BY e.vec_id
    """,
)
def embed_norms(spark, sf_dir):
    """Vector norms — row-level array fold (order-independent int64
    micro-quantization), served from the materialized corpus layout."""
    b = _bucketed(spark, sf_dir)
    return b.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.col("nrm").alias("l2_norm"),
    )


_COSINE_CTE = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
        SELECT e.vec_id,
               {_duck_acc(f'{_DUCK_X} * CAST(q.qe[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc('CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)')}))
                 AS cosine_sim
        FROM embeddings e, q, generate_series(1, {DIM}) AS g(i)
        GROUP BY e.vec_id
    )
"""


@query(
    "embed_cosine_topk",
    oracle=_COSINE_CTE
    + """
    SELECT vec_id, cosine_sim FROM sims
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def embed_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-k vs the vec_id=0 query vector: scan +
    TakeOrderedAndProject, no shuffle — the exact baseline."""
    b = _bucketed(spark, sf_dir)
    qvec, _qb, qnorm = _query_param(spark, sf_dir)
    sim = safe_div(dot.sql("embedding", qvec), f"nrm * {qnorm}").alias("cosine_sim")
    return (
        b.select("vec_id", sim).orderBy(F.desc("cosine_sim"), "vec_id").limit(10)
    )


def _duck_bucket_cte() -> str:
    plane_sums = ", ".join(
        _duck_acc(f"{_DUCK_X} * ({_SIGNS[j]})[i]") + f" AS s{j}"
        for j in range(N_PLANES)
    )
    bits = " || ".join(
        f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(N_PLANES)
    )
    return f"""
    WITH proj AS (
        SELECT e.vec_id, {plane_sums}
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
        GROUP BY e.vec_id
    ),
    buckets AS (SELECT vec_id, {bits} AS bucket FROM proj)
    """


def _panel_sims_cte(n_queries: int, dims: int, qs_extra: str = "") -> str:
    """Shared oracle CTE pair: the ``n_queries``-vector query panel and the
    corpus × panel cosine sims over the first ``dims`` dimensions (micro-
    quantized folds, identical to the Spark ``dot``/``l2_norm`` kernels)."""
    qv = "CAST(q.qe[i] AS DOUBLE)"
    return f"""
    qs AS (
        SELECT e.vec_id AS q_id, e.embedding AS qe{qs_extra}
        FROM embeddings e{{qs_join}}
        WHERE e.vec_id < {n_queries}
    ),
    sims AS (
        SELECT q.q_id, e.vec_id,
               {_duck_acc(f'{_DUCK_X} * {qv}')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc(f'{qv} * {qv}')})) AS sim
        FROM embeddings e, qs q, generate_series(1, {dims}) AS g(i)
        GROUP BY q.q_id, e.vec_id
    )"""


def _duck_topk(src: str, k: int, name: str) -> str:
    return f"""
    {name} AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, vec_id) AS rk
            FROM {src}
        ) WHERE rk <= {k}
    )"""


_RECALL_FINAL = """
    perq AS (
        SELECT x.q_id, COUNT(a.vec_id) AS hits
        FROM exact x LEFT JOIN ann a
          ON a.q_id = x.q_id AND a.vec_id = x.vec_id
        GROUP BY x.q_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({k} AS BIGINT) AS k,
           CAST(SUM(hits) AS DOUBLE) / (COUNT(*) * {k}) AS mean_recall_at_k,
           CAST(MIN(hits) AS DOUBLE) / {k} AS min_recall_at_k
    FROM perq
"""



@query(
    "embed_lsh_buckets",
    oracle=_duck_bucket_cte()
    + """
    SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM buckets GROUP BY bucket
    """,
)
def embed_lsh_buckets(spark, sf_dir):
    """Hyperplane-LSH bucket histogram — the partitioning layout the ANN
    path prunes against. At scale `bucket` is a write-time partition column."""
    b = _bucketed(spark, sf_dir)
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


@query(
    "embed_ann_topk",
    oracle=_duck_bucket_cte()
    + f"""
    , q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
    sims AS (
        SELECT e.vec_id,
               {_duck_acc(f'{_DUCK_X} * CAST(q.qe[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc('CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)')}))
                 AS cosine_sim
        FROM embeddings e, q, generate_series(1, {DIM}) AS g(i)
        WHERE e.vec_id IN (SELECT b.vec_id FROM buckets b, qb WHERE b.bucket = qb.qbucket)
        GROUP BY e.vec_id
    )
    SELECT vec_id, cosine_sim FROM sims
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def embed_ann_topk(spark, sf_dir):
    """ANN top-k: exact cosine restricted to the query's LSH bucket —
    scan prunes to ~1/2^8 of the corpus when bucket is a partition column."""
    b = _bucketed(spark, sf_dir)
    qvec, qbucket, qnorm = _query_param(spark, sf_dir)
    sim = safe_div(dot.sql("embedding", qvec), f"nrm * {qnorm}").alias("cosine_sim")
    return (
        b.filter(f"bucket = {qbucket}")
        .select("vec_id", sim)
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(10)
    )


@query(
    "embed_label_stats",
    oracle=f"""
    WITH norms AS (
        SELECT e.vec_id,
               SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')}) AS nrm
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
        GROUP BY e.vec_id
    )
    SELECT em.label, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(n2.nrm * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
             / COUNT(*) AS avg_norm
    FROM embeddings em JOIN norms n2 ON em.vec_id = n2.vec_id
    GROUP BY em.label
    """,
)
def embed_label_stats(spark, sf_dir):
    """Per-label vector stats. Norms are irrational doubles, so averaging
    goes through micro-quantization (floor(x·1e9) → integer sum): casting an
    arbitrary double to decimal hits rounding-mode divergence between
    engines (Java HALF_UP on the shortest repr vs binary-nearest), while
    floor of the same double is bit-identical everywhere."""
    b = _bucketed(spark, sf_dir)
    return (
        b.select("label", "nrm")
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.floor(F.col("nrm") * 1e9)).cast("double")
                / 1e9
                / F.count("*")
            ).alias("avg_norm"),
        )
    )


@query(
    "embed_near_dup_pairs",
    oracle=_duck_bucket_cte()
    + f"""
    , cands AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           {_duck_acc('CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)')}
             / (SQRT({_duck_acc('CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)')})
                * SQRT({_duck_acc('CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)')}))
             AS cosine_sim
    FROM cands c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b,
    generate_series(1, {DIM}) AS g(i)
    GROUP BY c.id_a, c.id_b
    HAVING cosine_sim >= 0.9
    """,
)
def embed_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate detection at corpus scale: LSH-bucket
    equi-join generates candidates (never a crossJoin), exact cosine ≥ 0.9
    verifies. This corpus has no planted embedding dups — the pipeline's
    correctness is exactly that it returns none without scanning n² pairs."""
    b = _bucketed(spark, sf_dir)
    left = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        "bucket",
        F.col("nrm").alias("nrm_a"),
    )
    right = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        "bucket",
        F.col("nrm").alias("nrm_b"),
    )
    cands = left.join(right, "bucket").filter(F.col("id_a") < F.col("id_b"))
    sim = safe_div(dot.sql("vec_a", "vec_b"), "nrm_a * nrm_b").alias("cosine_sim")
    return (
        cands.select("id_a", "id_b", sim)
        .filter(F.col("cosine_sim") >= 0.9)
    )


_DUCK_KNN_RANKED = (
    _duck_bucket_cte()
    + f"""
    , cands AS (
        SELECT a.vec_id AS id_q, b.vec_id AS id_n
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    sims AS (
        SELECT c.id_q, c.id_n,
               {_duck_acc('CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc('CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)')})
                    * SQRT({_duck_acc('CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)')}))
                 AS cosine_sim
        FROM cands c
        JOIN embeddings ea ON ea.vec_id = c.id_q
        JOIN embeddings eb ON eb.vec_id = c.id_n,
        generate_series(1, {DIM}) AS g(i)
        GROUP BY c.id_q, c.id_n
    ),
    ranked AS (
        SELECT id_q, id_n, cosine_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY id_q ORDER BY cosine_sim DESC, id_n
               ) AS INTEGER) AS rank_n
        FROM sims
    )
    """
)


@query(
    "embed_knn_join",
    oracle=_DUCK_KNN_RANKED
    + """
    SELECT id_q, id_n, cosine_sim, rank_n
    FROM ranked WHERE rank_n <= 3
    """,
)
def embed_knn_join(spark, sf_dir):
    """Batch kNN-JOIN: every vector gets its top-3 approximate neighbors —
    the retrieval shape behind corpus-level label propagation, RAG corpus
    linking, and kNN-classifier data curation (one query point per row, vs
    ``embed_ann_topk``'s single literal query).

    Candidates come from the LSH-bucket equi-join (never a crossJoin), exact
    quantized cosine scores them, and one window pass partitioned by the
    query id keeps the top 3 (ties broken by neighbor id, so the result is
    deterministic). At 100 TB: bucket is a storage partition column, so the
    self-join is co-located map-side work; the only wide exchange is the
    hash partition on id_q for the ranking window, and AQE handles the
    skewed mega-bucket case (same shape as the near-dup verify join).
    """
    from pyspark.sql import Window

    b = _bucketed(spark, sf_dir)
    left = b.select(
        F.col("vec_id").alias("id_q"),
        F.col("embedding").alias("vec_q"),
        "bucket",
        F.col("nrm").alias("nrm_q"),
    )
    right = b.select(
        F.col("vec_id").alias("id_n"),
        F.col("embedding").alias("vec_n"),
        "bucket",
        F.col("nrm").alias("nrm_n"),
    )
    sim = safe_div(dot.sql("vec_q", "vec_n"), "nrm_q * nrm_n").alias("cosine_sim")
    w = Window.partitionBy("id_q").orderBy(F.desc("cosine_sim"), "id_n")
    return (
        left.join(right, "bucket")
        .filter(F.col("id_q") != F.col("id_n"))
        .select("id_q", "id_n", sim)
        .withColumn("rank_n", F.row_number().over(w))
        .filter(F.col("rank_n") <= 3)
    )


@query(
    "embed_knn_label_vote",
    oracle=_DUCK_KNN_RANKED
    + """
    , votes AS (
        SELECT r.id_q, en.label AS n_label, COUNT(*) AS cnt
        FROM ranked r JOIN embeddings en ON en.vec_id = r.id_n
        WHERE r.rank_n <= 3
        GROUP BY r.id_q, en.label
    ),
    voted AS (
        SELECT id_q, n_label AS voted_label, CAST(cnt AS INTEGER) AS n_votes,
               ROW_NUMBER() OVER (
                   PARTITION BY id_q ORDER BY cnt DESC, n_label
               ) AS vr
        FROM votes
    )
    SELECT v.id_q, eq.label AS own_label, v.voted_label, v.n_votes,
           CAST(eq.label = v.voted_label AS INTEGER) AS agree
    FROM voted v JOIN embeddings eq ON eq.vec_id = v.id_q
    WHERE v.vr = 1
    """,
)
def embed_knn_label_vote(spark, sf_dir):
    """kNN label propagation: each vector takes the majority label of its
    top-3 approximate neighbors (ties → smallest label), next to its own
    label and an agreement flag — the semi-supervised labeling / label-noise
    audit built on :func:`embed_knn_join`'s graph. Two windows partitioned
    by id_q and one small re-aggregation; same scale story as the kNN join.
    """
    from pyspark.sql import Window

    knn = embed_knn_join(spark, sf_dir)
    b = _bucketed(spark, sf_dir)
    n_labels = b.select(F.col("vec_id").alias("id_n"), F.col("label").alias("n_label"))
    q_labels = b.select(F.col("vec_id").alias("id_q"), F.col("label").alias("own_label"))
    votes = (
        knn.join(n_labels, "id_n")
        .groupBy("id_q", "n_label")
        .agg(F.count("*").alias("n_votes"))
    )
    vw = Window.partitionBy("id_q").orderBy(F.desc("n_votes"), "n_label")
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .join(q_labels, "id_q")
        .select(
            "id_q",
            "own_label",
            F.col("n_label").alias("voted_label"),
            F.col("n_votes").cast("int").alias("n_votes"),
            (F.col("own_label") == F.col("n_label")).cast("int").alias("agree"),
        )
    )


_MRL_DIM = 16  # coarse (truncated) dimensionality
_MRL_SHORTLIST = 50


@query(
    "embed_matryoshka_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    coarse AS (
        SELECT e.vec_id,
               {_duck_acc(f'{_DUCK_X} * CAST(q.qe[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc('CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)')}))
                 AS coarse_sim
        FROM embeddings e, q, generate_series(1, {_MRL_DIM}) AS g(i)
        GROUP BY e.vec_id
    ),
    cand AS (
        SELECT vec_id FROM coarse
        ORDER BY coarse_sim DESC, vec_id LIMIT {_MRL_SHORTLIST}
    )
    SELECT e.vec_id,
           {_duck_acc(f'{_DUCK_X} * CAST(q.qe[i] AS DOUBLE)')}
             / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                * SQRT({_duck_acc('CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)')}))
             AS cosine_sim
    FROM embeddings e, q, generate_series(1, {DIM}) AS g(i)
    WHERE e.vec_id IN (SELECT vec_id FROM cand)
    GROUP BY e.vec_id
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def embed_matryoshka_topk(spark, sf_dir):
    """Matryoshka-style two-stage ANN: coarse cosine over the FIRST
    {_MRL_DIM} dimensions shortlists {_MRL_SHORTLIST} candidates, exact
    {DIM}-dim cosine re-ranks them to top-10 — the truncated-dimension
    trade MRL-trained embeddings are built for. The coarse pass reads a
    quarter of the vector bytes (at scale: store the prefix as its own
    column/file and the coarse scan is a 4× bandwidth cut on EVERY query,
    complementary to IVF's partition prune and PQ's code compression);
    the exact pass touches only the shortlist. Both stages compile to
    scan + fold + TakeOrderedAndProject — no joins, no shuffle beyond the
    two top-k reductions. Deterministic tie-breaks on vec_id at both
    stages keep the result hash-checkable."""
    b = _bucketed(spark, sf_dir)
    vals = _query_vec_literal(spark, sf_dir)
    q16 = sql_doubles(vals[:_MRL_DIM])
    q64 = sql_doubles(vals)
    q16_norm = sql_double(l2_norm_py(vals[:_MRL_DIM]))
    q64_norm = sql_double(l2_norm_py(vals))
    e16 = f"slice(embedding, 1, {_MRL_DIM})"
    coarse = safe_div(dot.sql(e16, q16), f"{l2_norm.sql(e16)} * {q16_norm}")
    shortlist = (
        b.select("vec_id", "embedding", "nrm", coarse.alias("coarse_sim"))
        .orderBy(F.desc("coarse_sim"), "vec_id")
        .limit(_MRL_SHORTLIST)
    )
    exact = safe_div(dot.sql("embedding", q64), f"nrm * {q64_norm}")
    return (
        shortlist.select("vec_id", exact.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(10)
    )


def _mrl_recall_oracle(
    n_queries: int = 20,
    k: int = 10,
    shortlist: int = _MRL_SHORTLIST,
    mrl_dim: int = _MRL_DIM,
) -> str:
    qv = "CAST(q.qe[i] AS DOUBLE)"
    panel = _panel_sims_cte(n_queries, DIM).format(qs_join="")
    return (
        "WITH "
        + panel
        + f""",
    csims AS (
        SELECT q.q_id, e.vec_id,
               {_duck_acc(f'{_DUCK_X} * {qv}')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc(f'{qv} * {qv}')})) AS sim
        FROM embeddings e, qs q, generate_series(1, {mrl_dim}) AS g(i)
        GROUP BY q.q_id, e.vec_id
    ),"""
        + _duck_topk("csims", shortlist, "short")
        + ","
        + _duck_topk("sims", k, "exact")
        + f""",
    ann AS (
        SELECT q_id, vec_id FROM (
            SELECT f.q_id, f.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY f.q_id
                                      ORDER BY f.sim DESC, f.vec_id) AS rk
            FROM sims f JOIN short s
              ON s.q_id = f.q_id AND s.vec_id = f.vec_id
        ) WHERE rk <= {k}
    ),
    perq AS (
        SELECT x.q_id, COUNT(a.vec_id) AS hits
        FROM exact x LEFT JOIN ann a
          ON a.q_id = x.q_id AND a.vec_id = x.vec_id
        GROUP BY x.q_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({k} AS BIGINT) AS k,
           CAST({shortlist} AS BIGINT) AS shortlist,
           CAST(SUM(hits) AS DOUBLE) / (COUNT(*) * {k}) AS mean_recall_at_k,
           CAST(MIN(hits) AS DOUBLE) / {k} AS min_recall_at_k
    FROM perq
    """
    )


@query("embed_mrl_recall", oracle=_mrl_recall_oracle())
def embed_mrl_recall(spark, sf_dir):
    """Recall@10 of the Matryoshka two-stage path (16-dim coarse shortlist
    of {short}, 64-dim exact re-rank) against brute-force 64-dim ground
    truth over a 20-query panel — HASH-CHECKED: both stages are
    deterministic integer-quantized cosine rankings with the production
    tie-break, so shortlist, re-rank, and ground truth all have DuckDB
    twins (hit counts stay integer until two final exact-int divisions).
    The panel is broadcast-sized, so this is the recurring sampled eval
    job at scale. On these isotropic synthetic embeddings the prefix
    carries ~1/4 of the signal so recall is honestly modest; the
    MRL-spectrum fixture test (tests/test_text_similarity.py) shows the
    same operator at >0.9 recall on prefix-concentrated
    embeddings.""".format(short=_MRL_SHORTLIST)
    from nyc_taxi_pyspark_spark.operators.similarity import mrl_recall_panel

    return mrl_recall_panel(
        _bucketed(spark, sf_dir),
        n_queries=20,
        k=10,
        shortlist=_MRL_SHORTLIST,
        mrl_dim=_MRL_DIM,
    )


def _duck_hamming_leq1(a: str, b: str) -> str:
    terms = " + ".join(
        f"CASE WHEN {a}[{j+1}:{j+1}] <> {b}[{j+1}:{j+1}] THEN 1 ELSE 0 END"
        for j in range(N_PLANES)
    )
    return f"(({terms}) <= 1)"


@query(
    "embed_ann_multiprobe",
    oracle=_duck_bucket_cte()
    + f"""
    , q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
    probed AS (
        SELECT b.vec_id FROM buckets b, qb
        WHERE {_duck_hamming_leq1('b.bucket', 'qb.qbucket')}
    ),
    sims AS (
        SELECT e.vec_id,
               {_duck_acc(f'{_DUCK_X} * CAST(q.qe[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc('CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)')}))
                 AS cosine_sim
        FROM embeddings e, q, generate_series(1, {DIM}) AS g(i)
        WHERE e.vec_id IN (SELECT vec_id FROM probed)
        GROUP BY e.vec_id
    )
    SELECT vec_id, cosine_sim FROM sims
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def embed_ann_multiprobe(spark, sf_dir):
    """Multi-probe ANN top-k: query bucket + Hamming-1 neighbors (9/256
    buckets) — the recall/cost dial between `embed_ann_topk` (1 bucket) and
    `embed_cosine_topk` (full scan)."""
    b = _bucketed(spark, sf_dir)
    qvec, qbucket, qnorm = _query_param(spark, sf_dir)
    sim = safe_div(dot.sql("embedding", qvec), f"nrm * {qnorm}").alias("cosine_sim")
    return (
        b.filter(hamming_leq1("bucket", qbucket))
        .select("vec_id", sim)
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(10)
    )


# ------------------------------------------------------------------ IVF cells

from nyc_taxi_pyspark_spark.operators.similarity import (  # noqa: E402
    N_CENTROIDS,
    hamming_leq1,
    ivf_assign,
    ivf_cell_py,
)


def _centroids(spark, sf_dir):
    """Training-free deterministic centroids: the vectors with ids
    1..N_CENTROIDS, fetched once per table and inlined as literals (same
    parameter discipline as the query vector, and the same shared store
    entry). The DuckDB oracle derives the identical centroids from the
    table itself."""

    def build():
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id").between(1, N_CENTROIDS))
            .filter(finite_vec("embedding"))  # unindexable guard
            .select("vec_id", "embedding")
            .collect()
        )
        cs = sorted((int(r.vec_id), [float(x) for x in r.embedding]) for r in rows)
        if not cs:
            raise ValueError(
                f"no centroid vectors (vec_id 1..{N_CENTROIDS}) in {sf_dir}"
            )
        return cs

    return STATE.get_shared("similarity.centroids", sf_dir, build)


def _ivf(spark, sf_dir):
    """Corpus with its IVF cell id, persisted once per (session, table) —
    at scale `cell` is the write-time partition column an IVF index is."""
    return STATE.get(
        "similarity.ivf",
        spark,
        sf_dir,
        lambda: _bucketed(spark, sf_dir).select(
            "vec_id",
            "embedding",
            "nrm",
            ivf_assign("embedding", _centroids(spark, sf_dir)).alias("cell"),
        ),
    )


def _duck_ivf_cells() -> str:
    diff = f"({_DUCK_X} - CAST(c.ce[i] AS DOUBLE))"
    return f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}
    ),
    dists AS (
        SELECT e.vec_id, c.cid, {_duck_acc(f'{diff} * {diff}')} AS d
        FROM embeddings e, cents c, generate_series(1, {DIM}) AS g(i)
        GROUP BY e.vec_id, c.cid
    ),
    cells AS (
        SELECT vec_id, CAST(cid AS INTEGER) AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
            FROM dists
        ) WHERE rn = 1
    )
    """


@query(
    "embed_ivf_cells",
    oracle=_duck_ivf_cells()
    + """
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           MIN(vec_id) AS min_vec_id
    FROM cells GROUP BY cell ORDER BY cell
    """,
)
def embed_ivf_cells(spark, sf_dir):
    """IVF cell histogram — the coarse-quantizer partition layout (the
    counterpart of embed_lsh_buckets for centroid-based indexes)."""
    return (
        _ivf(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("cell")
    )


@query(
    "embed_ivf_topk",
    oracle=_duck_ivf_cells()
    + f"""
    , q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qc AS (SELECT cell AS qcell FROM cells WHERE vec_id = 0),
    sims AS (
        SELECT e.vec_id,
               {_duck_acc(f'{_DUCK_X} * CAST(q.qe[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc('CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)')}))
                 AS cosine_sim
        FROM embeddings e, q, generate_series(1, {DIM}) AS g(i)
        WHERE e.vec_id IN (SELECT c.vec_id FROM cells c, qc WHERE c.cell = qc.qcell)
        GROUP BY e.vec_id
    )
    SELECT vec_id, cosine_sim FROM sims
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def embed_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: exact cosine restricted to the query's nearest-centroid
    cell (single-probe). At scale: partition-prune on the literal cell id,
    scan ~1/K of the corpus."""
    vals = _query_vec_literal(spark, sf_dir)
    qvec = sql_doubles(vals)
    qcell = ivf_cell_py(vals, _centroids(spark, sf_dir))
    qnorm = sql_double(l2_norm_py(vals))
    c = _ivf(spark, sf_dir)
    sim = safe_div(dot.sql("embedding", qvec), f"nrm * {qnorm}").alias("cosine_sim")
    return (
        c.filter(f"cell = {qcell}")
        .select("vec_id", sim)
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(10)
    )


# ------------------------------------------------------ int8-quantized ANN

from nyc_taxi_pyspark_spark.operators.similarity import (  # noqa: E402
    Q_LEVELS,
    int8_cosine,
    int8_quantize,
    int8_quantize_py,
)

_DUCK_Q = (
    # isfinite(m): Spark's NaN > 0 is FALSE (zeros branch) while DuckDB
    # sorts NaN greatest (TRUE), and any non-finite component forces
    # m = max|x| non-finite on both engines — so guarding m alone keeps
    # the branches symmetric on dirty vectors (dirty-parity audit, r11)
    f"CASE WHEN isfinite(m) AND m > 0 THEN list_transform(embedding, "
    f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {float(Q_LEVELS)} / m + 0.5) AS BIGINT)) "
    f"ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END"
)


@query(
    "embed_ann_int8",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, {_DUCK_Q} AS qv
        FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))) AS m
            FROM embeddings
        )
    ),
    q AS (SELECT qv AS qq FROM sigs WHERE vec_id = 0),
    qn AS (
        SELECT SQRT(CAST(CAST(SUM(q.qq[i] * q.qq[i]) AS BIGINT) AS DOUBLE)) AS n
        FROM q, generate_series(1, {DIM}) AS g(i)
    ),
    sims AS (
        SELECT s.vec_id,
               CAST(CAST(SUM(s.qv[i] * q.qq[i]) AS BIGINT) AS DOUBLE)
                 / (SQRT(CAST(CAST(SUM(s.qv[i] * s.qv[i]) AS BIGINT) AS DOUBLE))
                    * (SELECT n FROM qn)) AS cosine_q8
        FROM sigs s, q, generate_series(1, {DIM}) AS g(i)
        GROUP BY s.vec_id
    )
    SELECT vec_id, cosine_q8 FROM sims
    ORDER BY cosine_q8 DESC, vec_id
    LIMIT 10
    """,
)
def embed_ann_int8(spark, sf_dir):
    """Int8 scalar-quantized similarity top-k: per-vector symmetric
    quantization (scale cancels out of cosine), then an EXACT-INTEGER
    scoring kernel — Σqa·qb and Σq² are int64 sums, so the score needs no
    float-accumulation discipline and the scan is pure codegen arithmetic.

    The 100 TB story is bandwidth: int8 vectors are 4-8× smaller than
    float32/64, so a full-corpus quantized scan (or a bucket-pruned one —
    compose with the LSH/IVF layouts) moves 4-8× less data for a score
    whose top-k candidates are then exactly rerankable. The corpus
    quantization is a write-time materialized column, same storage contract
    as the bucket/norm layout (`_bucketed`)."""
    e = _emb(spark, sf_dir)
    qv = int8_quantize_py(_query_vec_literal(spark, sf_dir))
    sim = int8_cosine("qv", qv).alias("cosine_q8")
    return (
        e.select("vec_id", int8_quantize("embedding").alias("qv"))
        .select("vec_id", sim)
        .orderBy(F.desc("cosine_q8"), "vec_id")
        .limit(10)
    )


def _ann_recall_oracle(n_queries: int = 20, k: int = 10) -> str:
    panel = _panel_sims_cte(
        n_queries, DIM, qs_extra=", b.bucket AS q_bucket"
    ).format(qs_join=" JOIN buckets b ON b.vec_id = e.vec_id")
    return (
        _duck_bucket_cte()
        + ", "
        + panel
        + ","
        + _duck_topk("sims", k, "exact")
        + f""",
    ann AS (
        SELECT q_id, vec_id FROM (
            SELECT s.q_id, s.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY s.q_id
                                      ORDER BY s.sim DESC, s.vec_id) AS rk
            FROM sims s
            JOIN buckets cb ON cb.vec_id = s.vec_id
            JOIN qs q ON q.q_id = s.q_id
            WHERE {_duck_hamming_leq1('cb.bucket', 'q.q_bucket')}
        ) WHERE rk <= {k}
    ),"""
        + _RECALL_FINAL.format(k=k)
    )


@query("embed_ann_recall", oracle=_ann_recall_oracle())
def embed_ann_recall(spark, sf_dir):
    """Recall@10 of the multiprobe LSH ANN path against brute-force cosine
    ground truth over a 20-query panel — HASH-CHECKED: both sides of the
    measurement (exact top-10 sets and multiprobe-retrieved top-10 sets)
    are deterministic integer-quantized cosine rankings, so the whole
    recall computation has a DuckDB twin. Hit counts stay integer until
    two final single divisions of exact ints (no float AVG, no ROUND), so
    the doubles are bit-portable. Both sides rank with the production
    tie-break; see :func:`operators.similarity.ann_recall_at_k` for the
    batch join shape. Pytest additionally pins mean recall ≥ 0.9."""
    return ann_recall_at_k(_bucketed(spark, sf_dir), n_queries=20, k=10)


from nyc_taxi_pyspark_spark.operators.similarity import ann_recall_at_k  # noqa: E402


def _near_recall_oracle(n_tables: int = 12, rel_threshold: str = "0.5") -> str:
    from nyc_taxi_pyspark_spark.operators.similarity import (
        hyperplane_signs_salted,
    )

    plane_sums = []
    bits_by_table = []
    for t in range(n_tables):
        signs = hyperplane_signs_salted(str(t))
        for j in range(N_PLANES):
            plane_sums.append(
                _duck_acc(f"{_DUCK_X} * ({signs[j]})[i]") + f" AS s{t}_{j}"
            )
        bits_by_table.append(
            "WHEN "
            + str(t)
            + " THEN "
            + " || ".join(
                f"CASE WHEN s{t}_{j} > 0 THEN '1' ELSE '0' END"
                for j in range(N_PLANES)
            )
        )
    sums_sql = ",\n               ".join(plane_sums)
    case_sql = "CASE t.tbl " + " ".join(bits_by_table) + " END"
    vals = ", ".join(f"({t})" for t in range(n_tables))
    qv = "CAST(q.qe[i] AS DOUBLE)"
    return f"""
    WITH proj AS (
        SELECT e.vec_id,
               {sums_sql}
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
        GROUP BY e.vec_id
    ),
    tables AS (
        SELECT vec_id, t.tbl, {case_sql} AS bucket
        FROM proj, (VALUES {vals}) AS t(tbl)
    ),
    ground AS (
        SELECT q.vec_id AS q_id, e.vec_id AS id
        FROM embeddings e, embeddings q, generate_series(1, {DIM}) AS g(i)
        WHERE e.vec_id <> q.vec_id
        GROUP BY q.vec_id, e.vec_id
        HAVING {_duck_acc('CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc('CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)')})
                    * SQRT({_duck_acc('CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)')}))
               >= {rel_threshold}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS id
        FROM tables a JOIN tables b ON a.tbl = b.tbl
        WHERE a.vec_id <> b.vec_id
          AND {_duck_hamming_leq1('b.bucket', 'a.bucket')}
    ),
    scored AS (
        SELECT g.q_id, g.id,
               CASE WHEN c.q_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM ground g LEFT JOIN cand c
          ON c.q_id = g.q_id AND c.id = g.id
    )
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_relevant_pairs,
           CAST({n_tables} AS BIGINT) AS n_tables,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall
    FROM scored
    """


@query("embed_ann_near_recall", oracle=_near_recall_oracle())
def embed_ann_near_recall(spark, sf_dir):
    """Recall of 12-table multiprobe LSH on the near-neighbor contract:
    fraction of relevant pairs (cosine ≥ 0.5 — the planted near-dup
    population) retrieved — HASH-CHECKED: the relevant-pair set (exact
    quantized cosine ≥ threshold), the 12 salted hyperplane tables, and
    the Hamming-≤1 probe expansion are all deterministic, so the whole
    measurement has a DuckDB twin (recall is one exact-int division, no
    ROUND). Pytest additionally pins recall ≥ 0.9; COVERAGE.md records
    the measured values (the pairs sit at cosine ≈ 0.51, the hardest
    radius for hyperplane LSH, which is exactly why the T-tables dial
    exists). See :func:`operators.similarity.ann_near_recall` for both
    join shapes."""
    return ann_near_recall(_bucketed(spark, sf_dir), n_tables=12)


from nyc_taxi_pyspark_spark.operators.similarity import ann_near_recall  # noqa: E402


def _semantic_dedup_oracle() -> str:
    """Twin of the full semantic-dedup pipeline: single-table Hamming-≤1
    candidates (brute-force bucket compare at oracle scale; the Spark side
    is the banded probe join that has to scale), exact quantized cosine
    ≥ 0.5, recursive-CTE min-label closure, survivor = min id."""
    acc_ab = _duck_acc(
        "CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)"
    )
    acc_aa = _duck_acc(
        "CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)"
    )
    acc_bb = _duck_acc(
        "CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)"
    )
    return (
        "WITH RECURSIVE "
        + _duck_bucket_cte().strip().removeprefix("WITH")
        + f"""
    , cands AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.vec_id < b.vec_id AND {_duck_hamming_leq1("a.bucket", "b.bucket")}
    ),
    sims AS (
        SELECT c.id_a, c.id_b,
               {acc_ab} / (SQRT({acc_aa}) * SQRT({acc_bb})) AS cosine_sim
        FROM cands c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b,
        generate_series(1, {DIM}) AS g(i)
        GROUP BY c.id_a, c.id_b
        HAVING cosine_sim >= 0.5
    ),
    edges AS (
        SELECT id_a AS s, id_b AS t FROM sims
        UNION
        SELECT id_b AS s, id_a AS t FROM sims
    ),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id
    ),
    clusters AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT e.vec_id,
           CAST(COALESCE(c.cluster_id, e.vec_id) AS BIGINT) AS cluster_id,
           CAST(COALESCE(c.cluster_id, e.vec_id) = e.vec_id AS INTEGER) AS kept
    FROM embeddings e LEFT JOIN clusters c ON c.id = e.vec_id
    """
    )


@query("embed_semantic_dedup", oracle=_semantic_dedup_oracle())
def embed_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication over the embedding corpus:
    multiprobe LSH candidates (Hamming-≤1 banded equi-join — never n²) →
    exact cosine ≥ 0.5 pairs → connected components → keep the min-id
    survivor per semantic cluster. Returns every corpus row with its
    cluster id and kept flag — the drop set is ``kept = 0``.

    At 100 TB: candidates come off the write-time bucket layout, the pair
    set is bounded by true collisions, and the cluster step inherits
    ``connected_components``' guarantees (min-label rounds with an O(log n)
    large-star fallback)."""
    from nyc_taxi_pyspark_spark.operators.text import connected_components

    b = _bucketed(spark, sf_dir)
    left = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
        F.explode(probe_buckets("bucket")).alias("bucket"),
    )
    right = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
        "bucket",
    )
    sim = safe_div(dot.sql("vec_a", "vec_b"), "nrm_a * nrm_b").alias("cosine_sim")
    pairs = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim)
        .filter(F.col("cosine_sim") >= 0.5)
    )
    # the component assignment is session state beside the bucket layout
    # it derives from (the text-side _dup_components_cached discipline):
    # the min-label rounds are 2-3 iterative jobs plus per-round
    # convergence actions that cannot change within a session. The final
    # join broadcasts explicitly — the cc frame is RDD-backed
    # (post-checkpoint), so Spark cannot estimate it and would otherwise
    # sort-merge-join the whole corpus against a dup-cluster-sized table.
    # The entry is an intermediate layout, not this query's output frame,
    # and has one consumer: it is the ingest-maintained dedup state that
    # "text.dup_cc" models for the MinHash graph (r15 VERDICT / ADVICE).
    cc = STATE.get(
        "similarity.sem_cc",
        spark,
        sf_dir,
        lambda: connected_components(pairs, src="id_a", dst="id_b"),
    )
    # size-guarded hint (r15 ADVICE): the component frame scales with the
    # corpus duplication rate; broadcast only inside the known bound,
    # otherwise let the planner pick from the catalog side's stats
    from nyc_taxi_pyspark_spark.catalog.text import CC_BROADCAST_MAX_ROWS

    n_cc = STATE.get("similarity.sem_cc_n", spark, sf_dir, cc.count)
    cc_frame = cc.withColumnRenamed("id", "vec_id")
    if n_cc <= CC_BROADCAST_MAX_ROWS:
        cc_frame = F.broadcast(cc_frame)
    return (
        b.select("vec_id")
        .join(cc_frame, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("label"), F.col("vec_id"))
            .cast("bigint")
            .alias("cluster_id"),
            (
                F.coalesce(F.col("label"), F.col("vec_id")) == F.col("vec_id")
            )
            .cast("int")
            .alias("kept"),
        )
    )


from nyc_taxi_pyspark_spark.operators.similarity import probe_buckets  # noqa: E402


def _ivf_recall_oracle(
    n_queries: int = 20, k: int = 10, n_probes: tuple[int, ...] = (1, 2, 4, 8)
) -> str:
    vals = ", ".join(f"({p})" for p in n_probes)
    panel = _panel_sims_cte(n_queries, DIM).format(qs_join="")
    return (
        _duck_ivf_cells()
        + ", "
        + panel
        + f""",
    qcells AS (
        SELECT vec_id AS q_id, CAST(cid AS INTEGER) AS cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, cid) AS cell_rk
        FROM dists WHERE vec_id < {n_queries}
    ),
    np AS (SELECT n_probe FROM (VALUES {vals}) AS t(n_probe)),"""
        + _duck_topk("sims", k, "exact")
        + f""",
    ann AS (
        SELECT n_probe, q_id, vec_id FROM (
            SELECT np.n_probe, s.q_id, s.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY np.n_probe, s.q_id
                                      ORDER BY s.sim DESC, s.vec_id) AS rk
            FROM np
            CROSS JOIN sims s
            JOIN cells ce ON ce.vec_id = s.vec_id
            JOIN qcells qc ON qc.q_id = s.q_id AND qc.cell = ce.cell
                          AND qc.cell_rk <= np.n_probe
        ) WHERE rk <= {k}
    ),
    perq AS (
        SELECT np.n_probe, x.q_id, COUNT(a.vec_id) AS hits
        FROM np CROSS JOIN exact x
        LEFT JOIN ann a ON a.n_probe = np.n_probe AND a.q_id = x.q_id
                        AND a.vec_id = x.vec_id
        GROUP BY np.n_probe, x.q_id
    )
    SELECT CAST(n_probe AS BIGINT) AS n_probe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(hits) AS DOUBLE) / (COUNT(*) * {k}) AS mean_recall_at_k,
           CAST(MIN(hits) AS DOUBLE) / {k} AS min_recall_at_k
    FROM perq GROUP BY n_probe
    """
    )


@query("embed_ivf_recall", oracle=_ivf_recall_oracle())
def embed_ivf_recall(spark, sf_dir):
    """Measured recall/cost curve of the IVF n_probe dial: recall@10 vs
    brute-force cosine over a 20-query panel, one row per n_probe in
    (1, 2, 4, 8) — HASH-CHECKED: cell assignment, probe order, and both
    rankings are deterministic integer-quantized computations with the
    production tie-break, so the whole curve has a DuckDB twin (hit
    counts stay integer until two final exact-int divisions). n_probe = 8
    probes every cell — the exhaustive anchor pytest pins to recall 1.0;
    the curve between is the honest partition-prune trade. See
    :func:`operators.similarity.ivf_recall_at_k`."""
    return ivf_recall_at_k(
        _ivf(spark, sf_dir), _centroids(spark, sf_dir), n_probes=(1, 2, 4, 8)
    )


from nyc_taxi_pyspark_spark.operators.similarity import ivf_recall_at_k  # noqa: E402


@query(
    "embed_doc_search",
    oracle=_duck_bucket_cte()
    + f"""
    , q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
    sims AS (
        SELECT e.vec_id,
               {_duck_acc(f'{_DUCK_X} * CAST(q.qe[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc('CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)')}))
                 AS cosine_sim
        FROM embeddings e, q, generate_series(1, {DIM}) AS g(i)
        WHERE e.vec_id IN (SELECT b.vec_id FROM buckets b, qb WHERE b.bucket = qb.qbucket)
        GROUP BY e.vec_id
    ),
    topk AS (
        SELECT vec_id, cosine_sim FROM sims
        ORDER BY cosine_sim DESC, vec_id
        LIMIT 10
    )
    SELECT t.vec_id, t.cosine_sim, d.lang, d.source, d.n_chars,
           substring(d.text, 1, 80) AS snippet
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    ORDER BY t.cosine_sim DESC, t.vec_id
    """,
)
def embed_doc_search(spark, sf_dir):
    """The retrieval-serving shape: ANN top-k over the vector index, then a
    point-lookup join into the document store for display metadata — the
    two-tier layout every retrieval system runs (index hit list is tiny,
    so the doc-store join is a broadcast of the HIT LIST, k rows, never a
    shuffle of the documents table; at scale the doc store is
    key-partitioned and this is k point reads)."""
    hits = embed_ann_topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(
            F.broadcast(hits.withColumnRenamed("vec_id", "doc_id")), "doc_id"
        )
        .select(
            F.col("doc_id").alias("vec_id"),
            "cosine_sim",
            "lang",
            "source",
            "n_chars",
            F.substring("text", 1, 80).alias("snippet"),
        )
        .orderBy(F.desc("cosine_sim"), "vec_id")
    )


# --------------------------------------------------------------- IVF training

def _ivf_train_oracle() -> str:
    """Unrolled 2-iteration Lloyd's k-means: the same quantized-integer
    arithmetic as operators.similarity.ivf_train, written as chained CTEs
    (assign → recompute → assign) so DuckDB replays the iteration exactly."""
    from nyc_taxi_pyspark_spark.operators.similarity import N_CENTROIDS

    def term(xq: str, cs: str, cn: str) -> str:
        d = f"(CAST({xq} AS DOUBLE)/1e8 - CAST({cs} AS DOUBLE)/CAST({cn} AS DOUBLE)/1e8)"
        return f"COALESCE(TRY_CAST(FLOOR(({d} * {d}) * 1e14) AS BIGINT), 0)"

    return f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> COALESCE(TRY_CAST(FLOOR(CAST(x AS DOUBLE) * 1e8) AS BIGINT), 0)) AS xq
        FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cell, xq AS cs, CAST(1 AS BIGINT) AS cn
        FROM v WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}
    ),
    d1 AS (
        SELECT v.vec_id, c.cell,
               SUM({term('v.xq[i]', 'c.cs[i]', 'c.cn')}) AS dq
        FROM v, c0 c, generate_series(1, {DIM}) AS g(i)
        GROUP BY v.vec_id, c.cell
    ),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rk
            FROM d1
        ) WHERE rk = 1
    ),
    cn1 AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cn FROM a1 GROUP BY cell),
    c1 AS (
        SELECT a1.cell, g.i, SUM(v.xq[g.i]) AS s
        FROM a1 JOIN v USING (vec_id), generate_series(1, {DIM}) AS g(i)
        GROUP BY a1.cell, g.i
    ),
    d2 AS (
        SELECT v.vec_id, c1.cell,
               SUM({term('v.xq[c1.i]', 'c1.s', 'cn1.cn')}) AS dq
        FROM v, c1 JOIN cn1 USING (cell)
        GROUP BY v.vec_id, c1.cell
    ),
    a2 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rk
            FROM d2
        ) WHERE rk = 1
    )
    SELECT a2.cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(list_sum(v.xq)) AS BIGINT) AS centroid_l1q
    FROM a2 JOIN v USING (vec_id)
    GROUP BY a2.cell
    """


@query("embed_ivf_train", oracle=_ivf_train_oracle())
def embed_ivf_train(spark, sf_dir):
    """IVF coarse-quantizer TRAINING: 2 Lloyd iterations as deterministic
    DataFrame passes (row-local quantized-integer argmin over literal
    centroids, one exploded hash agg + bounded k·dim collect per round —
    the iterative-algorithm driver-state discipline). Distances and sums
    are integer-exact, so the final assignment hash-matches the oracle's
    unrolled replay — an oracle-checked iterative ML algorithm. Output:
    per-cell member count + exact integer centroid checksum."""
    from nyc_taxi_pyspark_spark.operators.similarity import ivf_train

    assigned = ivf_train(_emb(spark, sf_dir))
    return assigned.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum(F.expr("aggregate(xq, CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
        .cast("bigint")
        .alias("centroid_l1q"),
    )


# ---------------------------------------------------------- product quantization

def _pq_oracle() -> str:
    from nyc_taxi_pyspark_spark.operators.similarity import PQ_K, PQ_M, PQ_SUB

    d = (
        "(CAST(v.xq[m.m*{S}+i] AS DOUBLE)/1e8"
        " - CAST(cb.xq[m.m*{S}+i] AS DOUBLE)/CAST(1 AS DOUBLE)/1e8)"
    ).format(S=PQ_SUB)
    term = f"COALESCE(TRY_CAST(FLOOR(({d} * {d}) * 1e14) AS BIGINT), 0)"
    return f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> COALESCE(TRY_CAST(FLOOR(CAST(x AS DOUBLE) * 1e8) AS BIGINT), 0)) AS xq
        FROM embeddings
    ),
    cb AS (SELECT vec_id AS code, xq FROM v WHERE vec_id BETWEEN 1 AND {PQ_K}),
    d AS (
        SELECT v.vec_id, m.m, cb.code, SUM({term}) AS dq
        FROM v, generate_series(0, {PQ_M - 1}) AS m(m), cb,
             generate_series(1, {PQ_SUB}) AS g(i)
        GROUP BY v.vec_id, m.m, cb.code
    ),
    a AS (
        SELECT vec_id, m, code, dq FROM (
            SELECT vec_id, m, code, dq,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dq, code) AS rk
            FROM d
        ) WHERE rk = 1
    )
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '|' ORDER BY m) AS pq_code,
           CAST(SUM(dq) AS BIGINT) AS recon_err_q
    FROM a GROUP BY vec_id
    """


@query("embed_pq_codes", oracle=_pq_oracle())
def embed_pq_codes(spark, sf_dir):
    """Product quantization: 8 subspaces × 4-entry codebooks turn each
    64-float vector into 8 small codes + an exact integer reconstruction
    error — the IVF-PQ compression layer (32× less index bandwidth when
    the ANN candidate scan reads codes instead of vectors). Row-local
    argmin over literal codebooks with quantized-integer distances, so
    the whole pass is a narrow scan with NO shuffle, and the oracle
    replays it bit-for-bit."""
    from nyc_taxi_pyspark_spark.operators.similarity import (
        PQ_K,
        pq_assign,
        pq_codebooks,
        quantize8,
    )

    vq = _emb(spark, sf_dir).select("vec_id", quantize8("embedding").alias("xq"))
    seeds = _pq_seed_vectors(spark, sf_dir)  # session state (r16)
    return pq_assign(vq, pq_codebooks(seeds)).select(
        "vec_id", "pq_code", "recon_err_q"
    )


def _pq_search_oracle() -> str:
    from nyc_taxi_pyspark_spark.operators.similarity import PQ_K, PQ_M, PQ_SUB

    def term(xcol: str) -> str:
        d = (
            f"(CAST({xcol}[m.m*{PQ_SUB}+i] AS DOUBLE)/1e8"
            f" - CAST(cb.xq[m.m*{PQ_SUB}+i] AS DOUBLE)/CAST(1 AS DOUBLE)/1e8)"
        )
        return f"COALESCE(TRY_CAST(FLOOR(({d} * {d}) * 1e14) AS BIGINT), 0)"

    return f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> COALESCE(TRY_CAST(FLOOR(CAST(x AS DOUBLE) * 1e8) AS BIGINT), 0)) AS xq
        FROM embeddings
    ),
    cb AS (SELECT vec_id AS code, xq FROM v WHERE vec_id BETWEEN 1 AND {PQ_K}),
    d AS (
        SELECT v.vec_id, m.m, cb.code, SUM({term('v.xq')}) AS dq
        FROM v, generate_series(0, {PQ_M - 1}) AS m(m), cb,
             generate_series(1, {PQ_SUB}) AS g(i)
        GROUP BY v.vec_id, m.m, cb.code
    ),
    a AS (
        SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dq, code) AS rk
            FROM d
        ) WHERE rk = 1
    ),
    lut AS (
        SELECT m.m, cb.code, SUM({term('q.xq')}) AS ldq
        FROM (SELECT xq FROM v WHERE vec_id = 0) q,
             generate_series(0, {PQ_M - 1}) AS m(m), cb,
             generate_series(1, {PQ_SUB}) AS g(i)
        GROUP BY m.m, cb.code
    )
    SELECT a.vec_id, CAST(SUM(lut.ldq) AS BIGINT) AS adc_q
    FROM a JOIN lut ON a.m = lut.m AND a.code = lut.code
    GROUP BY a.vec_id
    ORDER BY adc_q, a.vec_id
    LIMIT 10
    """


@query("embed_pq_search", oracle=_pq_search_oracle())
def embed_pq_search(spark, sf_dir):
    """PQ serving path: asymmetric-distance (ADC) top-k. The query vector
    becomes PQ_M·PQ_K exact-integer lookup tables (computed driver-side —
    the bounded query-parameter discipline); each corpus vector is scored
    with 8 LUT lookups + adds over its CODES ONLY — the scan never touches
    the original 64 floats, which is the 32×-bandwidth win IVF-PQ ships.
    Row-local + TakeOrderedAndProject; oracle replays assignment AND LUT
    bit-for-bit."""
    from nyc_taxi_pyspark_spark.operators.similarity import (
        PQ_K,
        pq_adc_lut,
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
        quantize8,
    )

    vq = _emb(spark, sf_dir).select("vec_id", quantize8("embedding").alias("xq"))
    books = pq_codebooks(_pq_seed_vectors(spark, sf_dir))  # session state
    query_xq = _pq_query_vector(spark, sf_dir)
    if query_xq is None:
        raise ValueError(f"query vector vec_id=0 not found in {sf_dir}")
    return pq_adc_topk(pq_assign(vq, books), pq_adc_lut(query_xq, books))


def _ivfpq_oracle() -> str:
    from nyc_taxi_pyspark_spark.operators.similarity import PQ_K, PQ_M, PQ_SUB

    def term(xcol: str) -> str:
        d = (
            f"(CAST({xcol}[m.m*{PQ_SUB}+i] AS DOUBLE)/1e8"
            f" - CAST(cb.xq[m.m*{PQ_SUB}+i] AS DOUBLE)/CAST(1 AS DOUBLE)/1e8)"
        )
        return f"COALESCE(TRY_CAST(FLOOR(({d} * {d}) * 1e14) AS BIGINT), 0)"

    return _duck_ivf_cells() + f""",
    v AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> COALESCE(TRY_CAST(FLOOR(CAST(x AS DOUBLE) * 1e8) AS BIGINT), 0)) AS xq
        FROM embeddings
    ),
    cb AS (SELECT vec_id AS code, xq FROM v WHERE vec_id BETWEEN 1 AND {PQ_K}),
    pruned AS (
        SELECT v.vec_id, v.xq
        FROM v JOIN cells USING (vec_id)
        WHERE cells.cell = (SELECT cell FROM cells WHERE vec_id = 0)
    ),
    d AS (
        SELECT v.vec_id, m.m, cb.code, SUM({term('v.xq')}) AS dq
        FROM pruned v, generate_series(0, {PQ_M - 1}) AS m(m), cb,
             generate_series(1, {PQ_SUB}) AS g(i)
        GROUP BY v.vec_id, m.m, cb.code
    ),
    a AS (
        SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY dq, code) AS rk
            FROM d
        ) WHERE rk = 1
    ),
    lut AS (
        SELECT m.m, cb.code, SUM({term('q.xq')}) AS ldq
        FROM (SELECT xq FROM v WHERE vec_id = 0) q,
             generate_series(0, {PQ_M - 1}) AS m(m), cb,
             generate_series(1, {PQ_SUB}) AS g(i)
        GROUP BY m.m, cb.code
    )
    SELECT a.vec_id, CAST(SUM(lut.ldq) AS BIGINT) AS adc_q
    FROM a JOIN lut ON a.m = lut.m AND a.code = lut.code
    GROUP BY a.vec_id
    ORDER BY adc_q, a.vec_id
    LIMIT 10
    """


@query("embed_ivfpq_search", oracle=_ivfpq_oracle())
def embed_ivfpq_search(spark, sf_dir):
    """IVF-PQ — the production ANN serving composition: the coarse
    quantizer prunes the scan to the query's cell (at 100 TB: one
    partition of the index), then ADC scores the survivors from their PQ
    CODES via 8 LUT lookups each. Cell prune × 32× code compression
    multiply: the scan reads ~1/cells of the corpus at ~1/32 the bytes.
    Both stages are the independently-proven layouts (embed_ivf_cells,
    embed_pq_codes); this query is their join-free composition."""
    from nyc_taxi_pyspark_spark.operators.similarity import (
        PQ_K,
        ivf_cell_py,
        pq_adc_lut,
        pq_adc_topk,
        pq_assign,
        pq_codebooks,
        quantize8,
    )

    ivf = _ivf(spark, sf_dir)
    vals = _query_vec_literal(spark, sf_dir)
    qcell = ivf_cell_py(vals, _centroids(spark, sf_dir))
    vq = ivf.select("vec_id", "cell", quantize8("embedding").alias("xq"))
    books = pq_codebooks(_pq_seed_vectors(spark, sf_dir))  # session state
    query_xq = _pq_query_vector(spark, sf_dir)
    if query_xq is None:
        raise ValueError(f"query vector vec_id=0 not found in {sf_dir}")
    pruned = vq.filter(f"cell = {qcell}")
    return pq_adc_topk(pq_assign(pruned, books), pq_adc_lut(query_xq, books))


@query(
    "embed_dim_stats",
    oracle=f"""
    WITH v AS (
        SELECT i AS dim, {_DUCK_X} AS x
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           (CAST(COALESCE(SUM(TRY_CAST(FLOOR(x * 1e14) AS BIGINT)), 0) AS DOUBLE) / 1e14)
               / COUNT(*) AS mean,
           SQRT(
             (CAST(COALESCE(SUM(TRY_CAST(FLOOR(x * x * 1e12) AS BIGINT)), 0) AS DOUBLE) / 1e12)
                 / COUNT(*)
             - ((CAST(COALESCE(SUM(TRY_CAST(FLOOR(x * 1e14) AS BIGINT)), 0) AS DOUBLE) / 1e14)
                 / COUNT(*))
               * ((CAST(COALESCE(SUM(TRY_CAST(FLOOR(x * 1e14) AS BIGINT)), 0) AS DOUBLE) / 1e14)
                 / COUNT(*))
           ) AS std,
           MIN(x) AS min_val, MAX(x) AS max_val
    FROM v GROUP BY dim ORDER BY dim
    """,
)
def embed_dim_stats(spark, sf_dir):
    """Per-dimension embedding health check — the QA scan that catches
    collapsed dimensions (std ≈ 0), dead dimensions (all zeros), and
    mean drift before vectors poison an index build. posexplode keys the
    aggregate by dimension index (64 groups, map-side combined in one
    pass); sums use the operator family's integer micro-quantization
    (1e14 for means, 1e12 for squared moments — headroom documented
    against row count × value bound; past that, dsum_wide's hi/lo
    split), so mean and std are bit-identical across engines. min/max
    of the identical cast doubles are exact. Direct scan (r16, guide
    2.4): the posexplode feeds a keyed aggregate, so the round-robin
    repartition was a wasted shuffle (A/B 0.548 -> 0.327 s)."""
    e = load_table(spark, sf_dir, "embeddings")
    x = F.col("x")
    q_mean = F.sum(qfloor(f"x * {sql_double(1e14)}")).cast("double") / F.lit(1e14)
    q_sq = F.sum(qfloor(f"x * x * {sql_double(1e12)}")).cast("double") / F.lit(1e12)
    n = F.count(F.lit(1))
    mean = q_mean / n
    return (
        e.select(
            F.posexplode("embedding").alias("pos", "xf")
        )
        .select((F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x"))
        .groupBy("dim")
        .agg(
            n.cast("bigint").alias("n"),
            mean.alias("mean"),
            F.sqrt(q_sq / n - mean * mean).alias("std"),
            F.min(x).alias("min_val"),
            F.max(x).alias("max_val"),
        )
        .orderBy("dim")
    )


@query(
    "embed_outlier_docs",
    oracle=f"""
    WITH sums AS (
        SELECT i AS dim,
               CAST(COALESCE(SUM(TRY_CAST(FLOOR({_DUCK_X} * 1e14) AS BIGINT)), 0) AS BIGINT)
                   AS s_q,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
        GROUP BY i
    ),
    centroid AS (
        SELECT dim, (CAST(s_q AS DOUBLE) / 1e14) / n AS m FROM sums
    ),
    dists AS (
        SELECT e.vec_id,
               CAST(COALESCE(SUM(TRY_CAST(FLOOR(
                   ({_DUCK_X} - c.m) * ({_DUCK_X} - c.m) * 1e12
               ) AS BIGINT)), 0) AS DOUBLE) / 1e12 AS dist2
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
        JOIN centroid c ON c.dim = i
        GROUP BY e.vec_id
    )
    SELECT vec_id, dist2 FROM dists
    ORDER BY dist2 DESC, vec_id LIMIT 10
    """,
)
def embed_outlier_docs(spark, sf_dir):
    """Embedding outlier sweep: the 10 vectors farthest (squared L2) from
    the corpus centroid — the QA pass that surfaces mis-embedded,
    truncated, or poisoned vectors before they enter an index or a
    training mix. Two bounded passes: per-dimension quantized-integer
    sums build the centroid (64 rows → a broadcast literal-sized dim
    table), then one scan folds each vector's distance with the same
    1e12 micro-quantization (order-independent int64 per row) and
    TakeOrdered keeps the top-10. No joins wider than the 64-row
    centroid; deterministic ties on vec_id. Direct scan (r16, guide
    2.4): first wide op is the keyed centroid aggregate - the
    round-robin repartition was a wasted shuffle (A/B 0.722 -> 0.457 s)."""
    e = load_table(spark, sf_dir, "embeddings")
    x = F.col("xf").cast("double")
    sums = (
        e.select(F.posexplode("embedding").alias("pos", "xf"))
        .select((F.col("pos") + 1).alias("dim"), x.alias("x"))
        .groupBy("dim")
        .agg(
            F.sum(qfloor(f"x * {sql_double(1e14)}")).alias("s_q"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    centroid = sums.select(
        "dim", ((F.col("s_q").cast("double") / F.lit(1e14)) / F.col("n")).alias("m")
    )
    # 64-row centroid → ordered array literal via a 1-row broadcast
    cvec = centroid.agg(
        F.expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)").alias(
            "__c"
        )
    )
    term = qfloor.sql(
        f"(CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b) * {sql_double(1e12)}"
    )
    dist2 = F.expr(
        f"CAST(aggregate(zip_with(embedding, __c, (a, b) -> {term}),"
        f" CAST(0 AS BIGINT), (acc, t) -> acc + t) AS DOUBLE) / {sql_double(1e12)}"
    )
    return (
        e.join(F.broadcast(cvec))
        .select("vec_id", dist2.alias("dist2"))
        .orderBy(F.desc("dist2"), "vec_id")
        .limit(10)
    )


@query(
    "embed_contrastive_pairs",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS a_id, embedding AS a_vec FROM embeddings
        WHERE vec_id < 8
    ),
    sims AS (
        SELECT a.a_id, e.vec_id,
               {_duck_acc(f'{_DUCK_X} * CAST(a.a_vec[i] AS DOUBLE)')}
                 / (SQRT({_duck_acc(f'{_DUCK_X} * {_DUCK_X}')})
                    * SQRT({_duck_acc('CAST(a.a_vec[i] AS DOUBLE) * CAST(a.a_vec[i] AS DOUBLE)')}))
                 AS cosine_sim
        FROM embeddings e, anchors a, generate_series(1, {DIM}) AS g(i)
        WHERE e.vec_id <> a.a_id
        GROUP BY a.a_id, e.vec_id
    ),
    pos AS (
        SELECT a_id, vec_id, cosine_sim, 'positive' AS role FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                         ORDER BY cosine_sim DESC, vec_id)
                          AS rk
            FROM sims
        ) WHERE rk = 1
    ),
    negs AS (
        SELECT a_id, vec_id, cosine_sim, 'negative' AS role FROM (
            SELECT s.*, ROW_NUMBER() OVER (
                       PARTITION BY s.a_id
                       ORDER BY md5(CAST(s.a_id AS VARCHAR) || '|'
                                    || CAST(s.vec_id AS VARCHAR)), s.vec_id)
                       AS rk
            FROM sims s
            WHERE NOT EXISTS (SELECT 1 FROM pos p
                              WHERE p.a_id = s.a_id
                                AND p.vec_id = s.vec_id)
        ) WHERE rk <= 3
    )
    SELECT a_id AS anchor_id, role, vec_id, cosine_sim
    FROM (SELECT * FROM pos UNION ALL SELECT * FROM negs)
    ORDER BY anchor_id, role DESC, vec_id
    """,
)
def embed_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair generation: for each of 8 anchor
    vectors, the hardest positive (exact-cosine nearest neighbor,
    deterministic tie-break) and 3 reproducible random negatives
    (md5(anchor|candidate) rank — layout- and engine-stable, excluding
    self and the positive). This is the batch job that feeds embedding-
    model fine-tuning. The anchor panel broadcasts; similarity is one
    corpus scan per panel (the recall-panel shape); negative sampling at
    100 TB would pre-filter candidates by an md5-prefix stripe before
    ranking instead of ranking the full corpus. All ordering keys are
    exact (quantized cosine, md5 strings, ids), so the emitted pair set
    hash-checks."""
    from pyspark.sql import Window

    b = _bucketed(spark, sf_dir)
    anchors = F.broadcast(
        b.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("a_id"),
            F.col("embedding").alias("a_vec"),
            F.col("nrm").alias("a_nrm"),
        )
    )
    sims = (
        b.join(anchors, how="cross")
        .filter(F.col("vec_id") != F.col("a_id"))
        .select(
            "a_id",
            "vec_id",
            safe_div(dot.sql("embedding", "a_vec"), "nrm * a_nrm").alias("cosine_sim"),
        )
    )
    w_pos = Window.partitionBy("a_id").orderBy(
        F.desc("cosine_sim"), "vec_id"
    )
    pos = (
        sims.withColumn("rk", F.row_number().over(w_pos))
        .filter(F.col("rk") == 1)
        .drop("rk")
        .withColumn("role", F.lit("positive"))
    )
    w_neg = Window.partitionBy("a_id").orderBy(
        F.md5(F.concat_ws("|", F.col("a_id"), F.col("vec_id"))), "vec_id"
    )
    negs = (
        sims.join(
            pos.select("a_id", F.col("vec_id").alias("__pv")),
            "a_id",
        )
        .filter(F.col("vec_id") != F.col("__pv"))
        .drop("__pv")
        .withColumn("rk", F.row_number().over(w_neg))
        .filter(F.col("rk") <= 3)
        .drop("rk")
        .withColumn("role", F.lit("negative"))
    )
    return (
        pos.unionByName(negs)
        .select(
            F.col("a_id").alias("anchor_id"), "role", "vec_id", "cosine_sim"
        )
        .orderBy("anchor_id", F.desc("role"), "vec_id")
    )


@query(
    "embed_filtered_topk",
    oracle=_COSINE_CTE.replace(
        "FROM embeddings e, q,",
        "FROM (SELECT * FROM embeddings WHERE label IN (2, 3)) e, q,",
    )
    + """
    SELECT vec_id, cosine_sim FROM sims
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def embed_filtered_topk(spark, sf_dir):
    """Filtered vector search — top-10 by cosine among vectors whose
    metadata passes a predicate (label ∈ {2,3}), the production shape
    behind 'nearest docs in THIS language/domain/license'. Done as
    pre-filter + exact scan + TakeOrderedAndProject: the predicate lands
    on the scan (pushed filter / partition prune when label is a
    partition column — the layout embed_lsh_buckets defines), so cost
    scales with the FILTERED corpus, and recall is exact by
    construction — the known failure mode of post-filtering an ANN
    shortlist (selective predicates empty the shortlist) never occurs.
    When the predicate passes most of the corpus, compose the bucket
    prune WITH the filter instead (same plan with the bucket equi-join
    added); this query pins the exact-path contract."""
    b = _bucketed(spark, sf_dir).filter(F.col("label").isin(2, 3))
    qvec, _qb, qnorm = _query_param(spark, sf_dir)
    sim = safe_div(dot.sql("embedding", qvec), f"nrm * {qnorm}").alias("cosine_sim")
    return (
        b.select("vec_id", sim)
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(10)
    )


@query(
    "embed_ivf_balance",
    oracle=_duck_ivf_cells()
    + """
    , sizes AS (
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM cells GROUP BY cell
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           CAST(MAX(n) AS BIGINT) AS max_cell,
           CAST(MIN(n) AS BIGINT) AS min_cell,
           CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_cell,
           CAST(MAX(n) AS DOUBLE)
               / (CAST(SUM(n) AS DOUBLE) / COUNT(*)) AS imbalance
    FROM sizes
    """,
)
def embed_ivf_balance(spark, sf_dir):
    """IVF index-maintenance audit: cell-size balance of the coarse
    quantizer — max/min/mean cell population and the imbalance ratio.
    Imbalance is the IVF latency killer (a probe into a hot cell scans
    many times the average), and the number that schedules a centroid
    RETRAIN (embed_ivf_train) or a split of the hot cells. One keyed
    aggregate over the persisted cell assignment + a scalar rollup;
    the same audit shape as join_skew_audit, pointed at the index."""
    sizes = (
        _ivf(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    mean = F.sum("n").cast("double") / F.count(F.lit(1))
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.max("n").cast("bigint").alias("max_cell"),
        F.min("n").cast("bigint").alias("min_cell"),
        mean.alias("mean_cell"),
        (F.max("n").cast("double") / mean).alias("imbalance"),
    )


_PI_ITERS = 3  # unrolled power-iteration rounds
_PI_Q = 1000  # component quantization (floor(x*1000)) and state scale


def _power_iteration_oracle() -> str:
    """Unrolled integer power iteration: v_{t} = renorm(Σ_r e_q·(e_q v_{t-1})).

    Renormalization divides by max|w| with sign split out, so the integer
    division only ever sees non-negative operands (truncating division is
    floor there, identical in Spark's ``div`` and DuckDB's ``//`` — the
    negative-operand divergence never arises)."""
    parts = [
        f"""x AS (
        SELECT e.vec_id, i - 1 AS dim,
               COALESCE(TRY_CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * {_PI_Q})
                    AS BIGINT), 0) AS val
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
    )""",
        f"""v0 AS (
        SELECT DISTINCT dim, CAST({_PI_Q} AS BIGINT) AS val FROM x
    )""",
    ]
    for t in range(1, _PI_ITERS + 1):
        prev = f"v{t - 1}"
        parts.append(
            f"""dot{t} AS (
        SELECT x.vec_id, SUM(x.val * v.val) AS dot
        FROM x JOIN {prev} v USING (dim) GROUP BY x.vec_id
    )"""
        )
        parts.append(
            f"""w{t} AS (
        SELECT x.dim, SUM(x.val * d.dot) AS w
        FROM x JOIN dot{t} d USING (vec_id) GROUP BY x.dim
    )"""
        )
        parts.append(
            f"""v{t} AS (
        SELECT dim,
               CASE WHEN w < 0 THEN -1 ELSE 1 END
                 * ((ABS(w) * {_PI_Q})
                    // (SELECT MAX(ABS(w)) FROM w{t})) AS val
        FROM w{t}
    )"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT dim, CAST(val AS BIGINT) AS pc1_q
    FROM v{_PI_ITERS} ORDER BY dim
    """
    )


@query("embed_power_iteration_pc1", oracle=_power_iteration_oracle())
def embed_power_iteration_pc1(spark, sf_dir):
    """Top principal direction of the embedding table by THREE rounds of
    distributed power iteration — the embedding-QA primitive behind
    anisotropy checks, whitening, and ABTT-style dominant-direction
    removal (embeddings with one direction hogging variance hurt cosine
    retrieval; you find that direction exactly like this).

    Integer discipline end-to-end: components quantize at 1e3, the
    iterate renormalizes to max|v| = 1e3 each round with the sign split
    from a truncating non-negative division, so every product and sum is
    exact int64 (documented bound: |w| <= N * 1e3 * 64e6 — fine beyond
    1e8 rows) and order-independent — partition-invariant and
    hash-adjudicated against the oracle's unrolled CTE mirror.

    Plan/scale (r15 restructure, optimization guide §1.2/§2.4): the
    update w = Eᵀ(E·v) regroups EXACTLY — in int64, with no overflow
    under the same bound — to w = (EᵀE)·v, so ONE pass over the data
    builds the 64×64 Gram sketch G and every iteration becomes a
    64-row G·v product. The old shape paid R passes over the table
    plus R−1 driver collects; this shape reads the data once per
    invocation and keeps all three renormalized rounds in-plan (the
    per-round renormalizer is a 1-row broadcast, the iterate a 64-row
    broadcast — bounded parameters, never data-proportional). At
    100 TB this is the difference between three full re-reads and
    one: the Gram pass is the only O(data) stage, and G is a
    constant-size (dim²) sketch regardless of row count."""
    # Quantized row layout: one fixed-width array per vector.
    # try_element_at pads/NULL-guards to exactly DIM entries the same way
    # the oracle's embedding[i] over generate_series(1, DIM) does (missing
    # element → NULL → qfloor 0), so a short or NULL array contributes
    # zeros instead of shifting positions.
    eq = STATE.get(
        "similarity.pi_layout",
        spark,
        sf_dir,
        lambda: parallelize_scan(
            load_table(spark, sf_dir, "embeddings"), spark
        ).select(
            "vec_id",
            F.expr(
                f"transform(sequence(1, {DIM}), i -> "
                + qfloor.sql(f"CAST(try_element_at(embedding, i) AS DOUBLE) * {_PI_Q}")
                + ")"
            ).alias("qv"),
        ),
    )

    # One data pass: G[di, dj] = Σ_vec qv[di] · qv[dj] (exact int64;
    # |g| <= N·1e6, so G·v stays under the documented |w| bound). The
    # outer product is a per-row codegen array (no self-join — the join
    # form paid two hash exchanges of the row layout); explode + one
    # map-side-combined aggregate on the flattened position is the only
    # exchange, and its key space is dim² = 4096 regardless of row
    # count. The Gram frame gets the same per-invocation lineage cut
    # every iterative operator here uses (operators/iterative.py) — the
    # single O(data) job per invocation, after which each round is one
    # tiny broadcast join + one 64-group aggregate over the dim²-row
    # sketch, with the renormalizer a window max over the 64-row round
    # output (bounded by dim — never data-proportional — so the
    # single-partition window is safe at any scale). Measured: without
    # the cut, exchange reuse does NOT dedup the nested round subtrees
    # and the run re-executes the Gram build per reference (1.8 s →
    # 3.6 s).
    g = cut_lineage(
        eq.select(
            F.posexplode(
                F.expr("flatten(transform(qv, a -> transform(qv, b -> a * b)))")
            ).alias("pos", "t")
        )
        .groupBy("pos")
        .agg(F.sum("t").alias("g"))
        .select(
            F.expr(f"CAST(pos div {DIM} AS INT)").alias("di"),
            F.expr(f"CAST(pos % {DIM} AS INT)").alias("dj"),
            "g",
        )
    )

    sign = F.when(F.col("w") < 0, -1).otherwise(1)
    # v0: every dim present in the table at state scale Q (the Gram
    # diagonal exists for exactly the dims of the oracle's DISTINCT dim)
    v = g.filter(F.col("di") == F.col("dj")).select(
        F.col("di").alias("dim"), F.lit(_PI_Q).cast("bigint").alias("vval")
    )
    for _ in range(_PI_ITERS):
        w = (
            g.join(F.broadcast(v), F.col("dj") == F.col("dim"))
            .select("di", (F.col("g") * F.col("vval")).alias("t"))
            .groupBy("di")
            .agg(F.sum("t").alias("w"))
            .withColumn(
                "m", F.max(F.abs(F.col("w"))).over(Window.partitionBy())
            )
        )
        v = w.select(
            F.col("di").alias("dim"),
            (sign * F.expr(f"(abs(w) * {_PI_Q}) div m"))
            .cast("bigint")
            .alias("vval"),
        )
    return v.select("dim", F.col("vval").alias("pc1_q")).orderBy("dim")


@query(
    "embed_binary_hamming_topk",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id,
               list_sum(list_transform(
                   range(1, {DIM // 2} + 1),
                   i -> CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
                             THEN (CAST(1 AS BIGINT) << (i - 1))
                             ELSE 0 END)) AS lo,
               list_sum(list_transform(
                   range({DIM // 2} + 1, {DIM} + 1),
                   i -> CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
                             THEN (CAST(1 AS BIGINT) << (i - {DIM // 2} - 1))
                             ELSE 0 END)) AS hi
        FROM embeddings
    ),
    q AS (SELECT lo AS qlo, hi AS qhi FROM sig WHERE vec_id = 0)
    SELECT s.vec_id,
           CAST(bit_count(CAST(xor(s.lo, q.qlo) AS BIGINT))
                + bit_count(CAST(xor(s.hi, q.qhi) AS BIGINT))
                AS INTEGER) AS hamming
    FROM sig s, q
    WHERE s.vec_id <> 0
    ORDER BY hamming, s.vec_id LIMIT 10
    """,
)
def embed_binary_hamming_topk(spark, sf_dir):
    """Binary-embedding retrieval: each 64-dim float vector collapses to
    TWO int64 words of sign bits (32 per word — DuckDB range-checks
    1<<63, so one word cannot be packed engine-identically) and
    similarity becomes popcount(XOR) — the
    64x memory / 32x-vs-float32 bandwidth cut that makes exhaustive
    first-stage scans affordable at corpus scale (binary-quantized
    retrieval, used as the coarse stage before exact rerank of the
    survivors; composes with the catalog's int8 kernel as that reranker).

    Everything is integer bit arithmetic — sign-bit pack via shifts,
    XOR + bit_count scoring — so the scan is pure whole-stage-codegen
    JVM work with NO float discipline needed at all, and the oracle
    mirrors it bit-for-bit. The signature is a write-time materialized
    column at scale (same storage contract as the LSH bucket layout);
    the query vector's signature is a 1-row broadcast. Top-10 nearest
    by Hamming distance to vec_id 0, full tie-breaks. Direct scan
    (r16, guide 2.4): signature packing is per-row arithmetic feeding
    TakeOrdered - the repartition was a wasted shuffle (A/B 0.304 ->
    0.246 s)."""
    e = load_table(spark, sf_dir, "embeddings")
    half = DIM // 2

    def pack(lo_i: int, hi_i: int) -> "F.Column":
        # 32 sign bits per int64 half: DuckDB range-checks 1<<63, so a
        # single 64-bit word cannot be packed identically on both engines
        return F.expr(
            f"""aggregate(
                zip_with(slice(cast(embedding as array<double>),
                               {lo_i}, {half}),
                         sequence(0, {half - 1}),
                         (x, i) -> CASE WHEN x >= 0
                                        THEN shiftleft(1L, i)
                                        ELSE 0L END),
                0L, (acc, b) -> acc + b)"""
        )

    sig = e.select(
        "vec_id", pack(1, half).alias("lo"), pack(half + 1, DIM).alias("hi")
    )
    q = sig.filter(F.col("vec_id") == 0).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    return (
        sig.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
            )
            .cast("int")
            .alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(10)
    )


RRF_K = 60  # standard reciprocal-rank-fusion damping constant
_RRF_CAND_K = 50  # per-ranker candidate-list depth


def _hybrid_rrf_oracle() -> str:
    from nyc_taxi_pyspark_spark.catalog.text import BM25_SCORED_SQL

    # _COSINE_CTE opens its own "WITH q AS (…), sims AS (…)" — splice its
    # body after the BM25 chain so both rankers share one CTE list.
    cosine_body = _COSINE_CTE.split("WITH", 1)[1]
    rrf_term = (
        "COALESCE(CAST(1 AS DOUBLE) / CAST({k} + {rk} AS DOUBLE),"
        " CAST(0 AS DOUBLE))"
    )
    return f"""
    WITH {BM25_SCORED_SQL},
    {cosine_body},
    lexk AS (
        SELECT doc_id, rk FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
            FROM bm25s
        ) WHERE rk <= {_RRF_CAND_K}
    ),
    semk AS (
        SELECT vec_id, rk FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, vec_id) AS rk
            FROM sims
        ) WHERE rk <= {_RRF_CAND_K}
    ),
    ids AS (
        SELECT doc_id FROM lexk
        UNION
        SELECT vec_id AS doc_id FROM semk
    )
    SELECT i.doc_id,
           CAST(l.rk AS INTEGER) AS lex_rank,
           CAST(s.rk AS INTEGER) AS sem_rank,
           {rrf_term.format(k=RRF_K, rk='l.rk')}
             + {rrf_term.format(k=RRF_K, rk='s.rk')} AS rrf
    FROM ids i
    LEFT JOIN lexk l ON i.doc_id = l.doc_id
    LEFT JOIN semk s ON i.doc_id = s.vec_id
    ORDER BY rrf DESC, i.doc_id
    LIMIT 10
    """


@query("search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical ranking fused with exact-cosine
    semantic ranking by reciprocal-rank fusion — the standard production
    search stack (sparse + dense arms, RRF instead of score calibration).

    Each arm independently produces its TakeOrdered top-50 candidate list
    (the corpus-sized work — scan + top-k, no global sort); ranks are then
    assigned by a row_number window over those ≤50-row lists (bounded by
    the candidate depth, not the data — same budget class as the 1-row
    stat broadcasts) and fused over the candidate union with
    rrf = Σ 1/(60 + rank), absent arm contributing 0. The fusion stays
    bit-checkable because ranks are integers and each arm contributes one
    literal-over-integer double division added in a fixed order. At
    100 TB: two top-k scans (the dense arm bucket/IVF-prunable via the
    existing ANN layouts) and a K-row fusion — per-query cost is O(scan) +
    O(K), never a rank over the corpus. Doc↔vector linkage is the shared
    doc_id/vec_id key space."""
    from pyspark.sql import Window

    from nyc_taxi_pyspark_spark.catalog.text import bm25_frame

    lex_top = (
        bm25_frame(spark, sf_dir)
        .select("doc_id", "bm25")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_CAND_K)
    )
    lexk = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("lex_rank"),
    )
    b = _bucketed(spark, sf_dir)
    qvec, _qb, qnorm = _query_param(spark, sf_dir)
    sim = safe_div(dot.sql("embedding", qvec), f"nrm * {qnorm}").alias("cosine_sim")
    sem_top = (
        b.select("vec_id", sim)
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(_RRF_CAND_K)
    )
    semk = sem_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine_sim"), "vec_id"))
        .alias("sem_rank"),
    )
    def rrf_arm(rank_col: str) -> F.Column:
        return F.coalesce(
            F.lit(1).cast("double")
            / (F.lit(RRF_K) + F.col(rank_col)).cast("double"),
            F.lit(0).cast("double"),
        )

    # candidate union + per-arm left joins ≡ ONE full-outer join of the two
    # ranked lists (USING coalesces doc_id) — one join and no distinct
    # instead of a union-distinct exchange plus two joins, and each ≤50-row
    # arm subtree is referenced once
    return (
        lexk.join(semk, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (rrf_arm("lex_rank") + rrf_arm("sem_rank")).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(10)
    )


_DRIFT_Q = "1e6"  # element quantizer; re-quantized again at the product fold


def _centroid_drift_oracle() -> str:
    def half_sum(parity: int, alias: str) -> str:
        return (
            f"CAST(SUM(CASE WHEN e.vec_id % 2 = {parity} THEN "
            f"COALESCE(TRY_CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) *"
            f" {_DRIFT_Q}) AS BIGINT), 0) ELSE 0 END) AS BIGINT) AS {alias}"
        )

    def fold(xa: str, xb: str, alias: str) -> str:
        return (
            f"CAST(COALESCE(SUM(TRY_CAST(FLOOR((CAST({xa} AS DOUBLE) * CAST({xb}"
            f" AS DOUBLE)) / {_DRIFT_Q}) AS BIGINT)), 0) AS DOUBLE) AS {alias}"
        )

    return f"""
    WITH d AS (
        SELECT e.label, g.i, {half_sum(0, 'sa')}, {half_sum(1, 'sb')}
        FROM embeddings e, generate_series(1, {DIM}) AS g(i)
        GROUP BY e.label, g.i
    ),
    c AS (
        SELECT label, {fold('sa', 'sb', 'dq')},
               {fold('sa', 'sa', 'aa')}, {fold('sb', 'sb', 'bb')}
        FROM d GROUP BY label
    ),
    n AS (
        SELECT label,
               CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM embeddings GROUP BY label
    )
    SELECT n.label, n.n_a, n.n_b,
           CASE WHEN c.aa > 0 AND c.bb > 0
                THEN c.dq / (SQRT(c.aa) * SQRT(c.bb)) END AS drift_cos
    FROM n JOIN c USING (label)
    ORDER BY n.label
    """


@query("embed_centroid_drift", oracle=_centroid_drift_oracle())
def embed_centroid_drift(spark, sf_dir):
    """Embedding-distribution drift monitor: per label, the cosine between
    the centroids of the two corpus halves (even vs odd vec_id — the
    deterministic stand-in for yesterday's batch vs today's). drift_cos
    near 1 means the embedding distribution is stable; a drop is the
    canary for upstream model/preprocessing changes silently shifting the
    vector space — checked per label so a single class drifting isn't
    averaged away.

    Cosine is scale-invariant, so the centroids are never divided: the
    per-(label, dim) integer element sums ARE the centroid direction, and
    the cosine folds them directly. Exactness: elements micro-quantize to
    int64 (order-independent partial sums), the dim-level products
    re-quantize before the final fold (keeping every accumulator in exact
    int64 — products of raw sums would overflow), and the single
    dq/(√aa·√bb) division is the one mirrored IEEE op. Plan: one
    (label, dim)-keyed aggregate over the posexploded corpus (map-side
    combined, 64·|labels| rows out), one label-level fold, one broadcast
    join against the label counts — no per-pair work anywhere; at 100 TB
    the dim sums are the mergeable per-batch sketch an ingest pipeline
    persists, and halves generalize to arbitrary batch windows."""
    emb = _emb(spark, sf_dir)
    d = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x")
    )
    qe = qfloor(f"CAST(x AS DOUBLE) * {sql_double(1e6)}")
    even = F.col("vec_id") % 2 == 0
    dims = d.groupBy("label", "i").agg(
        F.sum(F.when(even, qe).otherwise(F.lit(0))).alias("sa"),
        F.sum(F.when(~even, qe).otherwise(F.lit(0))).alias("sb"),
    )

    def fold(xa: str, xb: str) -> F.Column:
        return F.sum(
            qfloor(f"(CAST({xa} AS DOUBLE) * CAST({xb} AS DOUBLE)) / {sql_double(1e6)}")
        ).cast("double")

    c = dims.groupBy("label").agg(
        fold("sa", "sb").alias("dq"),
        fold("sa", "sa").alias("aa"),
        fold("sb", "sb").alias("bb"),
    )
    n = emb.groupBy("label").agg(
        F.sum(even.cast("bigint")).alias("n_a"),
        F.sum((~even).cast("bigint")).alias("n_b"),
    )
    drift = F.when(
        (F.col("aa") > 0) & (F.col("bb") > 0),
        F.col("dq") / (F.sqrt("aa") * F.sqrt("bb")),
    )
    return (
        n.join(F.broadcast(c), "label")
        .select("label", "n_a", "n_b", drift.alias("drift_cos"))
        .orderBy("label")
    )
