"""Embedding similarity search (north-star extension): brute-force cosine
top-k as the exact baseline, plus a hyperplane-LSH bucketed variant as the
approximate scale path.

Scale design:
  - Dot products / norms are row-level array expressions (zip_with +
    aggregate) — JVM-side, no Python, no shuffle. Accumulation is
    micro-quantized int64 (see _SCALE below) so the value is
    association-order-independent and bit-identical on every engine.
  - Kernels are SQL text. Every kernel builds its whole expression as one
    SQL string in plain Python and hands it to the JVM as ONE ``F.expr``;
    ``kernel.sql(...)`` returns the text itself, so kernels compose as text
    (a cosine is one expression, not three). Inputs are SQL text too: a
    column name, or an expression such as ``"slice(embedding, 1, 16)"``.
    Why: each PySpark Column operator (a literal, a cast, a ``+``, a lambda
    body) is one Py4J round trip to the driver JVM, and a 64-dim literal
    vector, 8 hyperplanes × 64 signs, 12 salted hash tables or 8 literal
    centroids made plan construction — not execution — the dominant cost.
    Measured at sf0.001 on 4 cores, counting the building thread's calls:
    with a Column per component, building ``embed_cosine_topk`` in a fresh
    session took 6,011 round trips and 1.55 s (as text: 124 and 0.48 s),
    and one warm build of the 32 similarity queries took 138,984 round
    trips (as text: 11,718), 53,569 of them in ``embed_ann_near_recall``.
    The text form yields the same optimized plan up to lambda-variable
    names (tests/test_py4j_budget.py holds the budgets).
  - Literal rule: a double is written ``f"{x!r}D"`` (Python's shortest
    round-trip repr plus Spark's DOUBLE suffix — parses back to the same
    IEEE value, ``-0.0`` and subnormals included); NaN/±Inf are
    ``CAST('NaN' AS DOUBLE)`` / ``CAST('Infinity' AS DOUBLE)``, which the
    optimizer folds to the same literal. See :func:`sql_double`.
  - Brute-force query-vs-corpus top-k is a scan + TakeOrderedAndProject:
    O(n·d) work, no shuffle, perfectly parallel — the right baseline even at
    100 TB when k is small.
  - The LSH variant prunes the scan to one hash bucket. Hyperplane signs are
    derived from md5 parity (deterministic, engine-portable, no RNG state),
    so the same buckets come out of Spark, DuckDB, or plain Python.
  - All-pairs similarity joins LSH-bucket first (equi-join on bucket),
    never crossJoin.
"""

from __future__ import annotations

import functools
import hashlib
import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DIM = 64
N_PLANES = 8

# Order-independent float accumulation via micro-quantization: each term is
# floor(x·1e14) — a bit-identical integer on every engine (floor of the same
# IEEE double) — summed in int64 (exact, associative), then scaled back.
# Decimal casts are NOT used here: casting an arbitrary irrational double to
# decimal rounds HALF_UP on the shortest repr in Java but binary-nearest in
# DuckDB, which diverges ~1e-3 per term at scale 14 (observed). floor has no
# rounding mode to disagree on. Quantization bias ≤ dim·1e-14 ≈ 6e-13.
_SCALE = 1e14


def sql_double(x: float) -> str:
    """A double as SQL text that Spark parses back to the same IEEE value."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def sql_doubles(vals) -> str:
    """A literal ``array<double>`` as SQL text."""
    return "array(" + ", ".join(sql_double(v) for v in vals) + ")"


def _sql_ints(vals, suffix: str = "") -> str:
    """A literal integer array (``suffix="L"``: ``array<bigint>``)."""
    return "array(" + ", ".join(f"{int(v)}{suffix}" for v in vals) + ")"


def _kernel(text: Callable[..., str]) -> Callable[..., Column]:
    """Column kernel from its SQL-text builder: the whole expression is one
    ``F.expr`` (one Py4J round trip), and ``kernel.sql(...)`` is the text
    builder itself, for composing kernels before anything reaches the JVM."""

    @functools.wraps(text)
    def column(*args, **kwargs) -> Column:
        return F.expr(text(*args, **kwargs))

    column.sql = text
    return column


def hyperplane_signs(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplanes: sign[j][i] = parity of the first hex
    digit of md5('<j>|<i>'). Reproducible in any engine or language — the
    Python, Spark, and DuckDB variants all agree by construction."""
    return [
        [
            1 if int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[0], 16) % 2 else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


_PLANES = hyperplane_signs()


def dsum_py(terms: list[float]) -> float:
    """Python twin of :func:`_dsum` — bit-identical by construction:
    float64 products, ``math.floor(t * 1e14)`` (same IEEE ops as Spark's
    FLOOR on double), exact int accumulation, double divide at the end."""
    return float(sum(math.floor(t * _SCALE) for t in terms)) / _SCALE


def l2_norm_py(vals: list[float]) -> float:
    """Python twin of :func:`l2_norm` (driver-side query-parameter path)."""
    return math.sqrt(dsum_py([x * x for x in vals]))


def lsh_bucket_py(
    vals: list[float], planes: list[list[int]] | None = None
) -> str:
    """Python twin of :func:`lsh_bucket` — used to turn a query vector's
    bucket into a plan-time literal (at scale: static partition pruning)."""
    planes = planes or _PLANES
    bits = []
    for p in planes:
        acc = sum(math.floor((x * s) * _SCALE) for x, s in zip(vals, p))
        bits.append("1" if acc > 0 else "0")
    return "".join(bits)


_TERM_LIM = float(2**63 - 1024)  # per-term int64 headroom
_S = sql_double(_SCALE)


@_kernel
def qfloor(expr: str) -> str:
    """Guarded micro-quantizer: floor(expr) as bigint, 0 when expr sits
    outside int64 range (NaN, ±Inf, or an absurd finite magnitude) — the
    same non-finite contract as :func:`_dsum`'s fold term. Without
    the guard, floor saturates ±Inf to ±Long.MAX and the NEXT integer
    add/multiply aborts the whole job under ANSI mode (round-11
    dirty-parity audit: one broken encoder component killed six
    similarity queries). Oracle twin:
    ``COALESCE(TRY_CAST(FLOOR(expr) AS BIGINT), 0)``."""
    return (
        f"CAST(CASE WHEN ({expr}) >= {sql_double(-_TERM_LIM)}"
        f" AND ({expr}) <= {sql_double(_TERM_LIM)}"
        f" THEN floor({expr}) ELSE 0 END AS BIGINT)"
    )


def _dsum(terms: str) -> str:
    """Order-independent sum of an array of doubles via integer folding
    (micro-quantized at 1e-14; see _SCALE note above).

    Non-finite contract (round-11 dirty-parity audit): a NaN term already
    folded to 0 (Spark floor(NaN)=0), but an ±Inf term floored to
    ±Long.MAX and ABORTED the whole job on the next ANSI add — one broken
    encoder component killing every similarity query over the corpus. The
    qfloor guard maps ANY term outside int64 range (NaN, ±Inf, or a
    physically absurd |x|>2^63/1e14 component) to a 0 contribution, which
    is bit-identical to the oracle twin's ``SUM(TRY_CAST(...))`` skipping
    the NULL (catalog.similarity._duck_acc)."""
    return (
        f"aggregate({terms}, CAST(0 AS BIGINT),"
        f" (acc, t) -> acc + {qfloor.sql(f't * {_S}')},"
        f" acc -> CAST(acc AS DOUBLE) / {_S})"
    )


@_kernel
def dot(a: str, b: str) -> str:
    return _dsum(f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")


@_kernel
def l2_norm(a: str) -> str:
    return f"sqrt({_dsum(f'transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))')})"


@_kernel
def safe_div(num: str, den: str) -> str:
    """NULL instead of ANSI DIVIDE_BY_ZERO on a degenerate denominator.
    A zero-norm vector has no defined cosine; under Spark 4's default
    ANSI mode a bare division would abort the whole job on the first
    zero vector a 100 TB corpus inevitably contains. NULL is the honest
    answer (and DuckDB's native float-division result), and in a DESC
    ordering it sorts NULLS LAST, so degenerate candidates can never
    displace a genuine top-k hit (tests/test_degenerate_rows_sweep.py
    drives the whole catalog over zero vectors to pin this). Same
    expression as ``functions.exact.sdiv``."""
    return f"CASE WHEN ({den}) != 0 THEN ({num}) / ({den}) END"


@_kernel
def cosine(a: str, b: str) -> str:
    return safe_div.sql(dot.sql(a, b), f"{l2_norm.sql(a)} * {l2_norm.sql(b)}")


@_kernel
def finite_vec(vec: str) -> str:
    """Indexability predicate: every component finite. A vector with a
    NaN/Inf component (a broken encoder) cannot serve as a centroid, PQ
    seed, or k-means seed — its distances are undefined and the Python
    parameter twins (dsum_py et al.) would crash on math.floor(nan). As a
    CORPUS row it may stay: the JVM floor-fold maps it to NULL-or-garbage
    scores that sort last (safe_div contract), but parameter collections
    must filter on this predicate (degenerate-row sweep pins it)."""
    return (
        f"NOT exists({vec}, c -> isnan(CAST(c AS DOUBLE))"
        f" OR abs(CAST(c AS DOUBLE)) = {sql_double(math.inf)})"
    )


def _signed_projection(vec: str, signs: list[int]) -> str:
    """Dot product against a ±1 hyperplane as a micro-quantized signed sum."""
    return _dsum(
        f"zip_with({vec}, {_sql_ints(signs)},"
        " (x, s) -> CAST(x AS DOUBLE) * CAST(s AS DOUBLE))"
    )


@_kernel
def lsh_bucket(vec: str, planes: list[list[int]] | None = None) -> str:
    """Bit-string bucket id: one bit per hyperplane, 1 iff projection > 0."""
    bits = ", ".join(
        f"CASE WHEN {_signed_projection(vec, p)} > 0 THEN '1' ELSE '0' END"
        for p in planes or _PLANES
    )
    return f"concat({bits})"


@_kernel
def hamming_leq1(a: str, b: str, n_bits: int = N_PLANES) -> str:
    """Bit-string Hamming distance ≤ 1, as a row-level expression."""
    diffs = " + ".join(
        f"CASE WHEN substring({a}, {j + 1}, 1) != substring({b}, {j + 1}, 1)"
        " THEN 1 ELSE 0 END"
        for j in range(n_bits)
    )
    return f"({diffs}) <= 1"


@_kernel
def probe_buckets(bucket: str, n_bits: int = N_PLANES) -> str:
    """Array of the bucket itself plus its ``n_bits`` Hamming-1 neighbors —
    the multiprobe set, as a row-level expression over the bit-string."""

    def flip(j: int) -> str:
        return (
            f"concat(substring({bucket}, 1, {j}),"
            f" CASE WHEN substring({bucket}, {j + 1}, 1) = '1' THEN '0' ELSE '1' END,"
            f" substring({bucket}, {j + 2}, {n_bits - j - 1}))"
        )

    return f"array({bucket}, {', '.join(flip(j) for j in range(n_bits))})"


def ann_recall_at_k(
    bucketed: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch recall@k of multiprobe hyperplane-LSH ANN against brute-force
    cosine ground truth, over the first ``n_queries`` corpus vectors used
    as queries.

    Shape (both sides are one pass over the corpus):
      - exact: corpus × broadcast(queries) — a deliberate, bounded
        O(n_queries · n) nested-loop that IS the ground-truth definition;
        at 100 TB this is the recurring eval job you run on a sample, with
        the query panel always broadcast-sized.
      - ANN: each query explodes into its 9 multiprobe buckets
        (:func:`probe_buckets`) and equi-joins the corpus on ``bucket`` —
        the same partition-prune shape the production ANN path uses, so the
        measured recall is the production recall.
    Both sides rank with the same deterministic tie-break (sim desc, id
    asc), then recall = |ANN∩exact| / k per query.

    Returns ONE row: (n_queries, k, mean_recall_at_k, min_recall_at_k).
    """
    from pyspark.sql import Window

    queries = F.broadcast(
        bucketed.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
            F.col("bucket").alias("q_bucket"),
        )
    )
    sim = safe_div(dot.sql(vec_col, "q_vec"), "nrm * q_nrm").alias("sim")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    exact = (
        bucketed.join(queries, how="cross")
        .select("q_id", id_col, sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    probes = queries.select(
        "q_id",
        "q_vec",
        "q_nrm",
        F.explode(probe_buckets("q_bucket")).alias("bucket"),
    )
    ann = (
        bucketed.join(F.broadcast(probes), "bucket")
        .select("q_id", id_col, sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    # LEFT join (not semi): every query keeps its k exact rows, so a query
    # with zero ANN overlap contributes recall 0 instead of vanishing.
    # Recall stays INTEGER (hit counts) until two final single divisions of
    # exact ints — no float AVG (order-dependent) and no ROUND (engine-
    # divergent half-handling), so the result is bit-portable and the
    # DuckDB oracle twin hash-matches (catalog embed_ann_recall).
    per_query = (
        exact.join(ann.withColumn("hit", F.lit(1)), ["q_id", id_col], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
    )
    return per_query.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        (
            F.sum("hits").cast("double") / (F.count(F.lit(1)) * F.lit(k))
        ).alias("mean_recall_at_k"),
        (F.min("hits").cast("double") / F.lit(k)).alias("min_recall_at_k"),
    )


def mrl_recall_panel(
    df: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    shortlist: int = 50,
    mrl_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the Matryoshka two-stage path (``mrl_dim``-prefix coarse
    shortlist → full-dim exact re-rank) against brute-force full-dim ground
    truth, over the first ``n_queries`` corpus vectors as the query panel.

    ``df`` needs ``id_col``, ``vec_col``, and a precomputed ``nrm`` (full
    L2 norm). Both sides use the production tie-break (sim desc, id asc).
    Recall is a property of the EMBEDDING SPECTRUM, not of the operator:
    on MRL-trained embeddings (energy concentrated in the prefix) the
    prefix ranking approximates the full ranking and recall is high; on
    isotropic noise the prefix carries 1/4 of the information and recall
    is honestly low (tests/test_text_similarity.py pins both regimes on
    synthetic spectra).

    Returns ONE row:
    (n_queries, k, shortlist, mean_recall_at_k, min_recall_at_k).
    """
    from pyspark.sql import Window

    queries = F.broadcast(
        df.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    joined = df.join(queries, how="cross")
    full_sim = safe_div(dot.sql(vec_col, "q_vec"), "nrm * q_nrm").alias("sim")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    exact = (
        joined.select("q_id", id_col, full_sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    e_pre = f"slice({vec_col}, 1, {mrl_dim})"
    q_pre = f"slice(q_vec, 1, {mrl_dim})"
    coarse_sim = safe_div(
        dot.sql(e_pre, q_pre), f"{l2_norm.sql(e_pre)} * {l2_norm.sql(q_pre)}"
    ).alias("sim")
    short = (
        joined.select(
            "q_id", id_col, vec_col, "nrm", "q_vec", "q_nrm", coarse_sim
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= shortlist)
        .drop("sim", "rk")
    )
    mrl = (
        short.select("q_id", id_col, full_sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
    )
    # integer hit counts + single exact-int divisions: see ann_recall_at_k
    per_q = (
        exact.join(mrl.withColumn("hit", F.lit(1)), ["q_id", id_col], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.lit(shortlist).cast("long").alias("shortlist"),
        (
            F.sum("hits").cast("double") / (F.count(F.lit(1)) * F.lit(k))
        ).alias("mean_recall_at_k"),
        (F.min("hits").cast("double") / F.lit(k)).alias("min_recall_at_k"),
    )


def hyperplane_signs_salted(
    salt: str, n_planes: int = N_PLANES, dim: int = DIM
) -> list[list[int]]:
    """Independent hyperplane table: sign[j][i] = md5('<salt>|<j>|<i>')
    parity. Each salt is a fresh deterministic table — the L-tables recall
    dial classic LSH uses when one table's collision probability is too low
    for near-threshold neighbors."""
    return [
        [
            1
            if int(hashlib.md5(f"{salt}|{j}|{i}".encode()).hexdigest()[0], 16) % 2
            else -1
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


@_kernel
def multi_table_buckets(vec: str, n_tables: int) -> str:
    """Array of ``n_tables`` independent LSH bucket strings for one vector
    (tables salted 0..n_tables-1). At 100 TB these are write-time columns —
    the classic T-fold memory/recall trade of multi-table LSH."""
    tables = ", ".join(
        lsh_bucket.sql(vec, hyperplane_signs_salted(str(t))) for t in range(n_tables)
    )
    return f"array({tables})"


def ann_near_recall(
    corpus: DataFrame,
    n_tables: int = 12,
    rel_threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall of multi-table multiprobe LSH on its actual contract — the
    (r, c)-near-neighbor guarantee: of all ordered pairs with cosine ≥
    ``rel_threshold``, what fraction does the index retrieve?

    (Recall against unrestricted exact top-k is reported separately by
    ``embed_ann_recall`` and is information-theoretically capped for this
    corpus: ~90% of every top-10 is ~0.35-cosine noise spread uniformly
    over buckets, which no sublinear index can find. LSH's guarantee — and
    a dedup/retrieval pipeline's need — is the near pairs, measured here.)

    Shapes, both scan-shaped and shuffle-light:
      - ground truth: corpus × broadcast(corpus-as-queries) exact cosine —
        the bounded eval job (at 100 TB: a sampled query panel, identical
        plan);
      - index: every vector posexplodes into its ``n_tables`` (table,
        bucket) entries — the T-fold write-time layout — and the query side
        explodes into T × (1 + n_bits) Hamming-1 probes; candidates are the
        (table, bucket) equi-join, distinct on the pair.

    Returns ONE row: (n_queries, n_relevant_pairs, n_tables, recall) where
    recall is pair-level (micro) recall.
    """
    base = corpus.select(id_col, vec_col, "nrm")
    queries = F.broadcast(
        base.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    sim = safe_div(dot.sql(vec_col, "q_vec"), "nrm * q_nrm").alias("sim")
    ground = (
        base.join(queries, how="cross")
        .select("q_id", id_col, sim)
        .filter((F.col("sim") >= rel_threshold) & (F.col("q_id") != F.col(id_col)))
    )
    # Materialized once (localCheckpoint): this IS the write-time T-table
    # layout, and both the index side and the probe side read it — without
    # materialization the 12×8×64-literal projection executes twice.
    tables = base.select(
        id_col,
        F.posexplode(multi_table_buckets(vec_col, n_tables)).alias("tbl", "bucket"),
    ).localCheckpoint(eager=True)
    # Probes derive from the exploded (tbl, bucket) layout — cheap string
    # flips — the probe expansion never needs the vectors.
    qprobes = F.broadcast(
        tables.select(
            F.col(id_col).alias("q_id"),
            "tbl",
            F.explode(probe_buckets("bucket")).alias("bucket"),
        )
    )
    candidates = (
        tables.join(qprobes, ["tbl", "bucket"])
        .select("q_id", id_col)
        .filter(F.col("q_id") != F.col(id_col))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = ground.join(candidates, ["q_id", id_col], "left")
    # recall = one exact-int division (no ROUND: its half-handling is
    # engine-divergent) so the DuckDB oracle twin hash-matches
    return scored.agg(
        F.count_distinct("q_id").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_relevant_pairs"),
        F.lit(n_tables).cast("long").alias("n_tables"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double") / F.count("*")
        ).alias("recall"),
    )


# ------------------------------------------------------------------ IVF cells

N_CENTROIDS = 8


@_kernel
def sq_dist(vec: str, lit_vals: list[float]) -> str:
    """Micro-quantized squared L2 distance to a literal centroid — the same
    int64-fold portability contract as dot()/l2_norm()."""
    return _dsum(
        f"zip_with({vec}, {sql_doubles(lit_vals)},"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y))"
    )


def _cell_structs(vec: str, centroids: list[tuple[int, list[float]]]) -> str:
    """array of (d, cid) structs: squared distance to each literal centroid."""
    structs = ", ".join(
        f"struct({sq_dist.sql(vec, vals)} AS d, {int(cid)} AS cid)"
        for cid, vals in centroids
    )
    return f"array({structs})"


@_kernel
def ivf_assign(vec: str, centroids: list[tuple[int, list[float]]]) -> str:
    """Nearest-centroid cell id: argmin over squared distances with
    deterministic ties (smallest centroid id) via lexicographic struct min.

    IVF is the partition-pruning counterpart of hyperplane LSH: at scale
    `cell` is a write-time partition column and a query probes 1 (or
    n_probe) cells. Centroid choice here is training-free (fixed corpus
    ids) so every engine — and the DuckDB oracle — derives identical cells;
    swapping in MLlib KMeans centroids changes recall, not the plan shape.
    """
    return f"array_min({_cell_structs(vec, centroids)}).cid"


@_kernel
def ivf_cells_ranked(vec: str, centroids: list[tuple[int, list[float]]]) -> str:
    """All cell ids ordered by ascending squared distance (ties by cell id)
    — the multiprobe order for IVF: ``slice(ranked, 1, n_probe)`` is the
    probe set, and probing all cells degenerates to the exhaustive scan."""
    return f"transform(array_sort({_cell_structs(vec, centroids)}), s -> s.cid)"


def ivf_recall_at_k(
    ivf: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probes: tuple[int, ...] = (1, 2, 4, 8),
    n_queries: int = 20,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of IVF cell-pruned ANN vs brute-force cosine, one row per
    ``n_probe`` — the measured recall/cost curve of the n_probe dial.

    ``ivf`` is the (id, embedding, nrm, cell) layout. The exact side is the
    same bounded corpus × broadcast(queries) job as
    :func:`ann_recall_at_k`; the IVF side explodes each query's
    ``n_probe`` nearest cells (:func:`ivf_cells_ranked`) and equi-joins the
    corpus on ``cell`` — the partition-prune shape, so the measured recall
    is the production recall. Probing all cells must (and does — see the
    pytest pin) reach recall 1.0, anchoring the curve.
    """
    from pyspark.sql import Window

    base = ivf.select(id_col, vec_col, "nrm", "cell")
    queries = F.broadcast(
        base.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_nrm"),
            ivf_cells_ranked(vec_col, centroids).alias("cells_ranked"),
        )
    )
    sim = safe_div(dot.sql(vec_col, "q_vec"), "nrm * q_nrm").alias("sim")
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col(id_col))
    exact = (
        base.join(queries.drop("cells_ranked"), how="cross")
        .select("q_id", id_col, sim)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col)
        .localCheckpoint(eager=True)  # shared by every n_probe row
    )
    out = None
    for n_probe in n_probes:
        probes = queries.select(
            "q_id",
            "q_vec",
            "q_nrm",
            F.explode(F.slice("cells_ranked", 1, n_probe)).alias("cell"),
        )
        ann = (
            base.join(F.broadcast(probes), "cell")
            .select("q_id", id_col, sim)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", id_col)
        )
        # integer hit counts + single exact-int divisions: see
        # ann_recall_at_k
        row = (
            exact.join(ann.withColumn("hit", F.lit(1)), ["q_id", id_col], "left")
            .groupBy("q_id")
            .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits"))
            .agg(
                F.lit(n_probe).cast("long").alias("n_probe"),
                F.count("*").cast("long").alias("n_queries"),
                (
                    F.sum("hits").cast("double")
                    / (F.count(F.lit(1)) * F.lit(k))
                ).alias("mean_recall_at_k"),
                (F.min("hits").cast("double") / F.lit(k)).alias(
                    "min_recall_at_k"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def sq_dist_py(vals: list[float], cent: list[float]) -> float:
    """Python twin of :func:`sq_dist` (bit-identical IEEE ops)."""
    return dsum_py([(x - y) * (x - y) for x, y in zip(vals, cent)])


def ivf_cell_py(vals: list[float], centroids: list[tuple[int, list[float]]]) -> int:
    """Python twin of :func:`ivf_assign` for driver-side query parameters."""
    return min((sq_dist_py(vals, c), cid) for cid, c in centroids)[1]


# ------------------------------------------------------- int8 scalar quant

Q_LEVELS = 127


@_kernel
def int8_quantize(vec: str) -> str:
    """Symmetric per-vector int8 scalar quantization: q_i = round-half-up of
    x_i · 127 / max|x| (0-vector ⇒ all zeros).

    The rounding is ``FLOOR(t + 0.5)`` — floor of identical IEEE doubles is
    bit-identical on every engine, while ROUND()'s half-handling is not (see
    functions/exact.py). Quantized vectors make the whole similarity kernel
    INTEGER arithmetic: dot and norms are exact int64 sums in any order, and
    the per-vector scale cancels out of cosine entirely, so the quantized
    cosine needs no float accumulation discipline at all. At 100 TB this is
    also the storage play: 64 bytes/vector instead of 256/512, 4-8× more
    vectors per scan byte and per shuffle byte.
    """
    maxabs = f"array_max(transform({vec}, y -> abs(CAST(y AS DOUBLE))))"
    return (
        f"CASE WHEN {maxabs} > 0 THEN transform({vec}, x -> CAST(floor("
        f"CAST(x AS DOUBLE) * {sql_double(Q_LEVELS)} / {maxabs} + {sql_double(0.5)}"
        f") AS BIGINT)) ELSE transform({vec}, x -> CAST(0 AS BIGINT)) END"
    )


def int8_quantize_py(vals: list[float]) -> list[int]:
    """Python twin of :func:`int8_quantize` (bit-identical IEEE ops) for
    driver-side query parameters."""
    m = max(abs(float(x)) for x in vals) if vals else 0.0
    if m <= 0:
        return [0] * len(vals)
    return [math.floor(float(x) * float(Q_LEVELS) / m + 0.5) for x in vals]


@_kernel
def int_dot(a: str, b: str) -> str:
    """Exact int64 dot product of two integer arrays — associative, so
    order-independent with no quantization discipline needed."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )


@_kernel
def int8_cosine(qvec: str, query_q: list[int]) -> str:
    """Quantized cosine vs a literal quantized query vector.

    cos = Σqa·qb / (√Σqa² · √Σqb²): the per-vector scales cancel, so this
    is pure integer arithmetic up to two final sqrt/divide ops on exact
    integers — deterministic IEEE on every engine."""
    qn = math.sqrt(sum(v * v for v in query_q))
    return safe_div.sql(
        f"CAST({int_dot.sql(qvec, _sql_ints(query_q, 'L'))} AS DOUBLE)",
        f"sqrt(CAST({int_dot.sql(qvec, qvec)} AS DOUBLE)) * {sql_double(qn)}",
    )


# ---------------------------------------------------------------- IVF training

Q8 = 10**8  # component quantization scale for k-means training
Q14 = 10**14  # distance-term quantization scale (same as _SCALE)


@_kernel
def quantize8(vec: str) -> str:
    """Components as exact micro-integers: floor(x · 1e8). float32 → double
    is exact, the scaled floor is deterministic IEEE, so every engine derives
    the identical integer vector — the foundation that makes iterative
    k-means hash-checkable. Non-finite components quantize to 0 (qfloor)."""
    return f"transform({vec}, x -> {qfloor.sql(f'CAST(x AS DOUBLE) * {sql_double(Q8)}')})"


@_kernel
def kmeans_dist_q(xq: str, comps: list[float]) -> str:
    """Quantized squared L2 distance to a literal centroid: per-component
    term floor(d²·1e14) as bigint, summed exactly (order-free). Comparisons
    between cells are therefore pure integer comparisons — no float-sum
    nondeterminism anywhere in the argmin."""
    d = f"(CAST(x AS DOUBLE) / {sql_double(Q8)} - c)"
    term = qfloor.sql(f"{d} * {d} * {sql_double(Q14)}")
    return (
        f"aggregate(zip_with({xq}, {sql_doubles(comps)}, (x, c) -> {term}),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )


def _argmin_code(xq: str, book: list[tuple[int, list[float]]]) -> str:
    """(d, c) struct of the nearest literal centroid: array_min over
    (dist_q, code) structs — lexicographic ⇒ deterministic tie-break on
    the code."""
    pairs = ", ".join(
        f"struct({kmeans_dist_q.sql(xq, comps)} AS d, {int(code)}L AS c)"
        for code, comps in book
    )
    return f"array_min(array({pairs}))"


def kmeans_assign(vq: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Argmin cell per vector over literal centroids, as a row-local
    expression battery: array of (dist_q, cell) structs → array_min
    (lexicographic ⇒ deterministic tie-break on cell id)."""
    return vq.select(
        "vec_id", "xq", F.expr(f"{_argmin_code('xq', cents)}.c").alias("cell")
    )


def kmeans_recompute(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """New centroids as exact rationals: per-component bigint sums + member
    counts (posexplode → ONE hash agg — map-side partial sums, never a
    window), then the double division (s / cn) / 1e8 on the driver. Driver
    state is k·dim integers — the bounded-collect discipline every iterative
    DataFrame algorithm here follows (cf. `_centroids`)."""
    sums = (
        assigned.select("cell", F.posexplode("xq").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    counts = {
        r["cell"]: r["n"]
        for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    by_cell: dict[int, dict[int, int]] = {}
    for r in sums:
        by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = int(r["s"])
    cents = []
    for cell in sorted(by_cell):
        cn = counts[cell]
        comps = [(by_cell[cell][p] / cn) / float(Q8) for p in sorted(by_cell[cell])]
        cents.append((cell, comps))
    return cents


def ivf_train(
    vectors: DataFrame,
    k: int = N_CENTROIDS,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means as a deterministic DataFrame iteration — the training
    step the training-free IVF layout (`_centroids`) skips. Seeds are the
    vectors with ids 1..k (the same deterministic choice the IVF index
    uses); each round is assign (row-local argmin over ≤k literal
    centroids) → recompute (one exploded hash agg + bounded collect).
    All distances/sums are quantized-integer exact, so the final
    assignment is bit-identical on any engine — an oracle-checkable
    iterative algorithm.

    Returns the final assignment (vec_id, xq, cell). At 100 TB: train on a
    sample (k-means only needs a sketch of the density), then `ivf_assign`
    the full corpus with the trained literals — exactly the assign pass
    this loop already runs per round.
    """
    vq = vectors.select(id_col, quantize8(vec_col).alias("xq"))
    seeds = (
        vq.filter(F.col(id_col).between(1, k))
        # a NaN/Inf component quantizes to a NULL xq entry — unindexable
        # as a seed (same contract as finite_vec for raw centroids)
        .filter("NOT exists(xq, x -> x IS NULL)")
        .select(id_col, "xq")
        .collect()
    )
    if not seeds:
        raise ValueError(
            f"no k-means seed vectors (id 1..{k}) — empty or too-small corpus"
        )
    cents = [
        (int(r[id_col]), [(int(x) / 1) / float(Q8) for x in r["xq"]])
        for r in sorted(seeds, key=lambda r: int(r[id_col]))
    ]
    assigned = kmeans_assign(vq, cents)
    for _ in range(iters - 1):
        cents = kmeans_recompute(assigned)
        assigned = kmeans_assign(vq, cents)
    return assigned


# ---------------------------------------------------------- product quantization

PQ_M = 8  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 4  # codes per subspace


def pq_codebooks(
    seed_rows: list[tuple[int, list[int]]],
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks from the deterministic seed vectors (ids
    1..PQ_K — the same training-free choice the IVF layout makes; swap in
    `ivf_train`-style Lloyd rounds per subspace when trained codebooks are
    wanted). ``seed_rows`` are (vec_id, quantized components)."""
    if not seed_rows:
        raise ValueError(
            f"no PQ seed vectors (vec_id 1..{PQ_K}) — empty or too-small "
            "corpus"
        )
    books = []
    for m in range(PQ_M):
        book = []
        for cid, xq in sorted(seed_rows):
            sub = xq[m * PQ_SUB : (m + 1) * PQ_SUB]
            book.append((int(cid), [(int(x) / 1) / float(Q8) for x in sub]))
        books.append(book)
    return books


def pq_assign(vq: DataFrame, books: list[list[tuple[int, list[float]]]]) -> DataFrame:
    """Per-subspace argmin code + exact integer reconstruction error.

    64 floats become PQ_M small codes (32× less index bandwidth at 100 TB —
    the compressed-sled IVF-PQ serves from); everything is row-local
    expression work over literal codebooks, so the pass is a narrow scan
    with no shuffle at all."""
    best = [
        _argmin_code(f"slice(xq, {m * PQ_SUB + 1}, {PQ_SUB})", book)
        for m, book in enumerate(books)
    ]
    codes = [f"{b}.c" for b in best]
    return vq.select(
        "vec_id",
        F.expr(f"array({', '.join(codes)})").alias("codes"),
        F.expr(
            "concat_ws('|', "
            + ", ".join(f"CAST({c} AS STRING)" for c in codes)
            + ")"
        ).alias("pq_code"),
        F.expr(f"CAST({' + '.join(f'{b}.d' for b in best)} AS BIGINT)").alias(
            "recon_err_q"
        ),
    )


def pq_adc_lut(
    query_xq: list[int], books: list[list[tuple[int, list[float]]]]
) -> list[list[tuple[int, int]]]:
    """Exact-integer ADC lookup tables: LUT[m][code] = quantized squared
    distance between the query's m-th subvector and that codebook entry —
    the same floor(d²·1e14) terms `kmeans_dist_q` uses, evaluated in Python
    (identical IEEE doubles), so Spark, DuckDB and this table agree
    bit-for-bit. PQ_M · PQ_K integers per query."""
    luts = []
    for m, book in enumerate(books):
        qsub = query_xq[m * PQ_SUB : (m + 1) * PQ_SUB]
        row = []
        for code, comps in book:
            s = 0
            for xi, c in zip(qsub, comps):
                d = xi / float(Q8) - c
                s += math.floor(d * d * float(Q14))
            row.append((int(code), int(s)))
        luts.append(row)
    return luts


def pq_adc_topk(
    coded: DataFrame, luts: list[list[tuple[int, int]]], k: int = 10
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per vector, the approximate
    distance is PQ_M integer LUT lookups + adds — the scan never touches the
    original vectors (32× less bandwidth), which is the entire point of the
    PQ serving path. TakeOrderedAndProject finishes it; no shuffle."""
    adc = " + ".join(
        f"element_at({_sql_ints([s for _code, s in sorted(row)], 'L')},"
        f" CAST(element_at(codes, {m + 1}) AS INT))"
        for m, row in enumerate(luts)
    )
    return (
        coded.select("vec_id", F.expr(f"CAST({adc} AS BIGINT)").alias("adc_q"))
        .orderBy("adc_q", "vec_id")
        .limit(k)
    )
