"""Corpus-assembly queries over ``documents`` — sequence packing, domain
mixture sampling, frequency capping, Gopher-rule quality battery.

Like :mod:`~nyc_taxi_pyspark_spark.catalog.text`, every oracle is generated
from the SAME constants as the Spark operator so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.catalog.text import _DUCK_WORDS, _docs
from nyc_taxi_pyspark_spark.operators.corpus import (
    DOMAIN_CAP,
    _hash_bucket,
    GOPHER_MAX_TOKENS,
    GOPHER_MEAN_LEN_HI,
    GOPHER_MEAN_LEN_LO,
    GOPHER_MIN_STOPWORD_HITS,
    GOPHER_MIN_TOKENS,
    GOPHER_SHORT_WORD_MAX_RATIO,
    MIXTURE_WEIGHTS,
    PACK_BUDGET,
    cap_per_domain,
    gopher_flags,
    weighted_sample,
    with_mixture_keep,
    with_pack_bins,
)
from nyc_taxi_pyspark_spark.catalog._cache import STATE
from nyc_taxi_pyspark_spark.operators.integrity import duck_row_hash, row_hash
from nyc_taxi_pyspark_spark.operators.text import STOPWORDS, tokens


def _docs_ntok(spark, sf_dir):
    """``documents`` with the per-doc token count attached — the
    ingest-time column every corpus pipeline stores (shard manifests and
    token-budget allocation are defined over it), persisted once per
    (session, table) like the signature layouts in catalog.text. Queries
    that consume the tokenized frame through TWO plan branches (packing:
    cell totals + per-row offsets; capping: cell counts + per-row ranks)
    would otherwise scan and re-tokenize the corpus once per branch."""
    return STATE.get(
        "corpus.docs_ntok",
        spark,
        sf_dir,
        lambda: _docs(spark, sf_dir).withColumn(
            "n_tokens", F.size(tokens()).cast("bigint")
        ),
    )

# md5-derived integer bucket, DuckDB side: Horner fold over the first 8 hex
# digits with the modulus applied at each step (same idiom text_split_assign
# proved; equal to conv(substring(md5(id),1,8),16,10) % mod).
def _duck_bucket(mod: int) -> str:
    return (
        "list_reduce(list_transform(split(md5(CAST(doc_id AS VARCHAR))[1:8], ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        f"(acc, x) -> (acc * 16 + x) % {mod})"
    )


@query(
    "corpus_pack_bins",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
        FROM documents
    ), o AS (
        SELECT lang, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM t
    )
    SELECT lang,
           CAST(FLOOR(off / {float(PACK_BUDGET)}) AS BIGINT) AS pack_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM o GROUP BY 1, 2
    """,
)
def corpus_pack_bins(spark, sf_dir):
    """Sequence packing for training-context assembly: documents laid
    end-to-end per language shard, each assigned the {budget}-token window
    its first token lands in. The window is PARTITIONED by shard (never
    global), so packing state at 100 TB is per-worker-shard; one window
    shuffle + one hash agg. Per-bin stats let the trainer audit fill ratio
    and doc fragmentation before cutting tfrecords."""
    packed = with_pack_bins(_docs_ntok(spark, sf_dir))
    return packed.groupBy("lang", "pack_bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _mixture_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {int(w * 1000)}" for lang, w in MIXTURE_WEIGHTS.items()
    )
    return f"CASE lang {whens} ELSE 0 END"


@query(
    "corpus_mixture_sample",
    oracle=f"""
    WITH t AS (
        SELECT lang,
               CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens,
               {_duck_bucket(1000)} AS b,
               {_mixture_case()} AS thr
        FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN b < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN b < thr THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM t GROUP BY lang
    """,
)
def corpus_mixture_sample(spark, sf_dir):
    """Domain-mixture sampling toward target per-language weights: keep
    decision = md5(doc_id) bucket < weight·1000 — per-row deterministic
    (append-stable, engine-portable), unlike sample(). Narrow scan + one
    hash agg; no shuffle before the agg. The audit table reports achieved
    vs target mixture in docs and tokens."""
    d = with_mixture_keep(
        _docs(spark, sf_dir).withColumn("n_tokens", F.size(tokens()).cast("bigint"))
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("mix_keep").cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("mix_keep"), F.col("n_tokens")).otherwise(0)).alias(
            "kept_tokens"
        ),
    )


@query(
    "corpus_domain_cap",
    oracle=f"""
    WITH r AS (
        SELECT source, n_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM (
            SELECT source, doc_id,
                   CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
            FROM documents
        )
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rk <= {DOMAIN_CAP} THEN n_tokens ELSE 0 END)
               AS BIGINT) AS kept_tokens
    FROM r GROUP BY source
    """,
)
def corpus_domain_cap(spark, sf_dir):
    """Frequency capping: at most {DOMAIN_CAP} docs per source, chosen by
    deterministic md5 order (reproducible uniform subsample — no rand(), no
    recency bias). Ranks are TWO-TIER (md5-prefix cells, see
    operators.corpus.cap_per_domain): the data-sized window is keyed by
    (source, cell) so the heaviest domain splits 256 ways; the source-only
    window sees one count per cell."""
    capped = cap_per_domain(_docs_ntok(spark, sf_dir))
    return capped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("cap_keep").cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("cap_keep"), F.col("n_tokens")).otherwise(0)).alias(
            "kept_tokens"
        ),
    )


def _gopher_oracle() -> str:
    stoplist = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_DUCK_WORDS}) AS INTEGER) AS n_tokens,
               list_sum(list_transform({_DUCK_WORDS}, w -> length(w))) AS sum_len,
               list_sum(list_transform({_DUCK_WORDS},
                   w -> CASE WHEN length(w) <= 1 THEN 1 ELSE 0 END)) AS short_hits,
               list_sum(list_transform({_DUCK_WORDS},
                   w -> CASE WHEN list_contains([{stoplist}], w)
                        THEN 1 ELSE 0 END)) AS stop_hits
        FROM documents
    ), f AS (
        SELECT doc_id, n_tokens,
               CAST(sum_len AS DOUBLE) / n_tokens AS mean_word_len,
               CAST(short_hits AS DOUBLE) / n_tokens AS short_word_ratio,
               CAST(COALESCE(stop_hits, 0) AS INTEGER) AS stopword_hits,
               CASE WHEN n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND
                    {GOPHER_MAX_TOKENS} THEN 1 ELSE 0 END AS flag_tokens,
               CASE WHEN CAST(sum_len AS DOUBLE) / n_tokens
                        BETWEEN {GOPHER_MEAN_LEN_LO} AND {GOPHER_MEAN_LEN_HI}
                    THEN 1 ELSE 0 END AS flag_mean_len,
               CASE WHEN CAST(short_hits AS DOUBLE) / n_tokens
                        <= {GOPHER_SHORT_WORD_MAX_RATIO}
                    THEN 1 ELSE 0 END AS flag_short_words,
               CASE WHEN COALESCE(stop_hits, 0) >= {GOPHER_MIN_STOPWORD_HITS}
                    THEN 1 ELSE 0 END AS flag_stopwords
        FROM t
    )
    SELECT doc_id, n_tokens, mean_word_len, short_word_ratio, stopword_hits,
           flag_tokens, flag_mean_len, flag_short_words, flag_stopwords,
           flag_tokens * flag_mean_len * flag_short_words * flag_stopwords
               AS gopher_keep
    FROM f
    """


@query("text_gopher_rules", oracle=_gopher_oracle())
def text_gopher_rules(spark, sf_dir):
    """Gopher-style quality-rule battery: independent per-rule flags + the
    composite keep, all row-local array expressions (no shuffle, no Python)
    — the P5 filter-battery shape applied to corpus curation. Flags stay
    separate so curation can audit which rule rejects how much, rather than
    a single opaque boolean."""
    flagged = gopher_flags(_docs(spark, sf_dir))
    ints = [
        F.col(c).cast("int").alias(c)
        for c in ("flag_tokens", "flag_mean_len", "flag_short_words", "flag_stopwords", "gopher_keep")
    ]
    return flagged.select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "short_word_ratio",
        "stopword_hits",
        *ints,
    )


def _chunk_dedup_oracle() -> str:
    from nyc_taxi_pyspark_spark.operators.corpus import CHUNK_TOKENS as K

    return f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), c AS (
        SELECT doc_id,
               unnest(range(0, (len(w) + {K - 1}) // {K})) AS chunk_idx,
               w
        FROM t
    ), ch AS (
        SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
               array_to_string(w[chunk_idx*{K}+1 : chunk_idx*{K}+{K}], ' ')
                   AS chunk,
               CAST(len(w[chunk_idx*{K}+1 : chunk_idx*{K}+{K}]) AS BIGINT)
                   AS chunk_len
        FROM c
    ), m1 AS (
        SELECT chunk, MIN(doc_id) AS min_doc FROM ch GROUP BY chunk
    ), m2 AS (
        SELECT ch.chunk, m1.min_doc, MIN(ch.chunk_idx) AS min_idx
        FROM ch JOIN m1 ON ch.chunk = m1.chunk AND ch.doc_id = m1.min_doc
        GROUP BY 1, 2
    )
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN ch.doc_id = m2.min_doc
                          AND ch.chunk_idx = m2.min_idx
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN ch.doc_id = m2.min_doc
                          AND ch.chunk_idx = m2.min_idx
                         THEN ch.chunk_len ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM ch JOIN m2 ON ch.chunk = m2.chunk
    GROUP BY ch.doc_id
    """


@query("text_chunk_dedup", oracle=_chunk_dedup_oracle())
def text_chunk_dedup(spark, sf_dir):
    """Substring-level exact dedup over fixed 16-token windows — catches
    the partial overlaps (boilerplate, quoted passages) that document-level
    fingerprints miss. Survivor = min (doc, position) per distinct chunk,
    computed as a min-struct AGGREGATE (not a window over the skew-prone
    chunk key): a boilerplate chunk repeated a million times costs
    map-side partial mins, never a million-row window partition."""
    from nyc_taxi_pyspark_spark.operators.corpus import chunk_dedup

    return chunk_dedup(_docs(spark, sf_dir))


_ABLATION_RATES = (10, 50, 250)  # permille: nested 1%, 5%, 25% subsets


@query(
    "corpus_nested_samples",
    oracle=f"""
    WITH b AS (SELECT doc_id, lang, {_duck_bucket(1000)} AS bucket FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {', '.join(f'CAST(SUM(CASE WHEN bucket < {r} THEN 1 ELSE 0 END) AS BIGINT) AS n_at_{r}' for r in _ABLATION_RATES)}
    FROM b GROUP BY lang
    """,
)
def corpus_nested_samples(spark, sf_dir):
    """Nested ablation subsets for scaling-law runs: one md5 bucket in
    [0,1000) per doc; the r-permille sample is ``bucket < r``, so the 1%
    sample is BY CONSTRUCTION a subset of the 5% which is a subset of the
    25% — train-set growth curves compare the same documents plus more,
    not disjoint resamples. Per-row deterministic and append-stable (a new
    doc lands in the same subsets forever); the audit reports per-language
    counts at each rate. Narrow scan + one hash agg, no pre-agg shuffle."""
    from nyc_taxi_pyspark_spark.operators.corpus import _hash_bucket
    from nyc_taxi_pyspark_spark.sources.io import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "lang", _hash_bucket("doc_id", 1000).alias("bucket")
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        *[
            F.sum((F.col("bucket") < r).cast("int"))
            .cast("bigint")
            .alias(f"n_at_{r}")
            for r in _ABLATION_RATES
        ],
    )


@query("corpus_weighted_sample")  # rows-only: A-ES keys need libm pow
def corpus_weighted_sample(spark, sf_dir):
    """Quality-weighted subset selection: 50 documents drawn without
    replacement with inclusion odds ~ n_chars (the stand-in for a quality
    score), via Efraimidis-Spirakis top-k on deterministic md5-derived
    uniforms (operators/corpus.weighted_sample). Reproducible across runs
    and layouts; rows-only because the u^(1/w) key is a libm pow whose
    last-ulp rounding the cross-engine hash gate cannot assume. The
    heavier=likelier contract and exact-k size are pytest-pinned
    (tests/test_quality.py)."""
    d = _docs(spark, sf_dir)
    return weighted_sample(
        d, "doc_id", F.col("n_chars").cast("double"), 50
    ).select("doc_id", "lang", "n_chars")


_N_SHARDS = 8


@query(
    "corpus_shard_manifest",
    oracle=f"""
    WITH s AS (
        SELECT {_duck_bucket(_N_SHARDS)} AS shard,
               n_chars,
               {{row_hash}} AS h
        FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           bit_xor(h) AS fingerprint
    FROM s GROUP BY shard ORDER BY shard
    """.format(
        row_hash=__import__(
            "nyc_taxi_pyspark_spark.operators.integrity",
            fromlist=["duck_row_hash"],
        ).duck_row_hash(
            "CAST(doc_id AS VARCHAR) || '|' || COALESCE(lang, '(null)')"
            " || '|' || CAST(n_chars AS VARCHAR)"
        )
    ),
)
def corpus_shard_manifest(spark, sf_dir):
    """Training-export shard manifest: deterministic md5 shard assignment
    (stable under appends and across engines — never hash-partitioning's
    engine-specific hash), per-shard doc/char totals, and an
    order-independent bit_xor content fingerprint per shard. This is the
    manifest a 100 TB export job writes next to its shards so any rebuild
    or replication can be verified shard-by-shard without re-reading
    payloads (composes orders_content_fingerprint per shard). One scan,
    one 8-key aggregate, map-side combined."""
    d = _docs(spark, sf_dir)
    # coalesce, not concat_ws's silent NULL-skip: a NULL-lang doc must
    # keep a three-field key (and a DISTINCT fingerprint from lang='')
    # in both engines (round-11 dirty-parity audit)
    key = F.concat_ws(
        "|",
        F.col("doc_id"),
        F.coalesce(F.col("lang"), F.lit("(null)")),
        F.col("n_chars"),
    )
    return (
        d.select(
            _hash_bucket("doc_id", _N_SHARDS).alias("shard"),
            F.col("n_chars"),
            row_hash(key).alias("h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.expr("bit_xor(h)").alias("fingerprint"),
        )
        .orderBy("shard")
    )


@query(
    "corpus_budget_select",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens,
               (CAST(len(list_distinct({_DUCK_WORDS})) AS BIGINT) * 1000)
                   // CAST(len({_DUCK_WORDS}) AS BIGINT) AS q_permille
        FROM documents
        WHERE len({_DUCK_WORDS}) > 0
    ),
    budget AS (
        SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS total_tokens,
               CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) // 4
                   AS token_budget
        FROM scored
    ),
    buckets AS (
        SELECT q_permille, CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens,
               CAST(COUNT(*) AS BIGINT) AS bucket_docs
        FROM scored GROUP BY q_permille
    ),
    running AS (
        SELECT q_permille, bucket_tokens, bucket_docs,
               SUM(bucket_tokens) OVER (
                   ORDER BY q_permille DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM buckets
    ),
    cut AS (
        SELECT COALESCE(MIN(q_permille), 1001) AS threshold
        FROM running, budget WHERE cum_tokens <= token_budget
    )
    SELECT cut.threshold AS threshold_permille,
           CAST(COALESCE(SUM(bucket_docs), 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(SUM(bucket_tokens), 0) AS BIGINT)
               AS tokens_selected,
           budget.total_tokens, budget.token_budget
    FROM budget, cut
    LEFT JOIN running ON running.q_permille >= cut.threshold
    GROUP BY cut.threshold, budget.total_tokens, budget.token_budget
    """,
)
def corpus_budget_select(spark, sf_dir):
    """Budget-constrained quality selection — "take the best documents
    until the token budget is spent" WITHOUT the global sort + running
    cumsum that kills at scale. Docs score an integer lexical-diversity
    permille (distinct/total tokens · 1000, integer division — no
    doubles); per-permille-bucket token sums (≤1001 groups) take a
    bounded cumulative window from the top bucket down; the selection
    threshold is the lowest bucket that still fits the budget (25 % of
    corpus tokens), and whole buckets are taken — the documented
    coarseness of any histogram-based selection (refine by re-running
    inside the threshold bucket if exactness matters). One doc-level
    aggregate + O(1001)-row window + broadcast threshold: the same
    cutpoint-as-a-dim shape as histogram_equidepth, applied to corpus
    curation."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)

    w_ = F.split(F.col("text"), r"\s+")
    scored = d.select(
        "doc_id",
        F.size(w_).cast("bigint").alias("n_tokens"),
        F.expr(
            "(cast(size(array_distinct(split(text, '\\\\s+'))) as bigint)"
            " * 1000) div cast(size(split(text, '\\\\s+')) as bigint)"
        ).alias("q_permille"),
    ).filter(F.col("n_tokens") > 0)
    budget = scored.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("bigint")
        .alias("total_tokens"),
        F.coalesce(F.expr("sum(n_tokens) div 4"), F.lit(0))
        .cast("bigint")
        .alias("token_budget"),
    )
    buckets = scored.groupBy("q_permille").agg(
        F.sum("n_tokens").cast("bigint").alias("bucket_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("bucket_docs"),
    )
    running = buckets.withColumn(
        "cum_tokens",
        F.sum("bucket_tokens").over(
            Window.orderBy(F.desc("q_permille")).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    cut = (
        running.join(F.broadcast(budget))
        .filter(F.col("cum_tokens") <= F.col("token_budget"))
        .agg(F.coalesce(F.min("q_permille"), F.lit(1001)).alias("threshold"))
    )
    # Mirror the oracle's OUTER shape: the always-1-row budget×cut frame
    # LEFT JOINs the selected buckets, so the degenerate no-bucket-fits
    # case (top bucket alone exceeds the budget → threshold 1001 selects
    # nothing) still emits the single zeroed summary row instead of an
    # empty result. The left side is 1 row and the right ≤1001, so this
    # is a broadcast nested-loop join over constants, never a data scan.
    base = budget.crossJoin(cut)
    selected = base.join(
        F.broadcast(running),
        F.col("q_permille") >= F.col("threshold"),
        "left",
    )
    return (
        selected.groupBy("threshold", "total_tokens", "token_budget")
        .agg(
            F.coalesce(F.sum("bucket_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_selected"),
            F.coalesce(F.sum("bucket_tokens"), F.lit(0))
            .cast("bigint")
            .alias("tokens_selected"),
        )
        .select(
            F.col("threshold").alias("threshold_permille"),
            "n_selected",
            "tokens_selected",
            "total_tokens",
            "token_budget",
        )
    )


@query(
    "corpus_training_order",
    oracle="""
    WITH keyed AS (
        SELECT e.epoch, d.doc_id,
               md5(CAST(e.epoch AS VARCHAR) || '|'
                   || CAST(d.doc_id AS VARCHAR)) AS k
        FROM documents d, (VALUES (0), (1)) AS e(epoch)
    ),
    placed AS (
        SELECT epoch, doc_id,
               CAST(('0x' || substr(k, 1, 2))::BIGINT % 4 AS BIGINT)
                   AS shard,
               k
        FROM keyed
    )
    SELECT epoch, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
                                   ORDER BY k, doc_id) AS BIGINT)
               AS position,
           doc_id
    FROM placed
    ORDER BY epoch, shard, position
    """,
)
def corpus_training_order(spark, sf_dir):
    """Reproducible multi-epoch training order: every epoch gets its own
    deterministic pseudo-random permutation (md5 of epoch|doc_id — a new
    independent order per epoch, bit-stable across engines, layouts, and
    reruns), docs land in md5-bucket shards, and position is the within-
    shard rank. This is the data-loader contract a large training run
    needs — resume from (epoch, shard, position) exactly, re-generate
    any shard independently — without ever materializing a global
    shuffle: the only shuffle is the (epoch, shard)-keyed window, whose
    partition count scales with shards × epochs."""
    d = _docs(spark, sf_dir).select("doc_id")
    from pyspark.sql import Window

    epochs = d.sparkSession.range(2).select(
        F.col("id").cast("int").alias("epoch")
    )
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws("|", F.col("epoch"), F.col("doc_id"))
        ).alias("k"),
    )
    placed = keyed.withColumn(
        "shard",
        (F.conv(F.substring("k", 1, 2), 16, 10).cast("bigint") % 4).alias(
            "shard"
        ),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    return (
        placed.select(
            "epoch",
            "shard",
            F.row_number().over(w).cast("bigint").alias("position"),
            "doc_id",
        )
        .orderBy("epoch", "shard", "position")
    )


@query(
    "corpus_domain_relevance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(w) AS token
        FROM (SELECT doc_id, source, {_DUCK_WORDS} AS w FROM documents)
    ),
    tgt AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c_t FROM toks
        WHERE source = 'src0' GROUP BY token
    ),
    corp AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS c_all FROM toks
        GROUP BY token
    ),
    totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_t
        FROM toks
    ),
    weights AS (
        SELECT corp.token,
               CAST(FLOOR(
                   CAST(1000000 AS BIGINT)
                   * (CAST(COALESCE(tgt.c_t, 0) + 1 AS DOUBLE)
                      * CAST(totals.n_all AS DOUBLE))
                   / (CAST(corp.c_all + 1 AS DOUBLE)
                      * CAST(totals.n_t AS DOUBLE))
               ) AS BIGINT) AS w_q
        FROM corp LEFT JOIN tgt USING (token), totals
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(SUM(w.w_q) AS BIGINT) AS score_q,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks t JOIN weights w USING (token)
        GROUP BY t.doc_id
    )
    SELECT s.doc_id, d.source, s.n_tokens,
           CAST(s.score_q AS DOUBLE) / (1000000.0 * s.n_tokens)
               AS mean_relevance
    FROM scored s JOIN documents d USING (doc_id)
    ORDER BY s.score_q // s.n_tokens DESC, s.score_q DESC, s.doc_id
    LIMIT 20
    """,
)
def corpus_domain_relevance(spark, sf_dir):
    """DSIR-style domain-targeted selection with RATIONAL weights: rank
    docs by affinity to a target domain (source 'src0' as the proxy)
    using add-1-smoothed unigram likelihood ratios — the importance-
    resampling scorer of Xie et al., with the log-likelihood replaced by
    a floor-quantized per-token ratio sum so the score is an exact int64
    (ln() is libm and never hash-portable). Plan: token explode → target
    and corpus count aggregates → weight table joined back to the token
    stream (token-keyed equi-joins, map-side combined counts), per-doc
    int sum, TakeOrdered top-20 with full tie-breaks. The mean ratio per
    token is reported for interpretability; selection rank uses the
    integer score, never the double."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", "source", F.explode(tokens()).alias("token"))
    tgt = (
        toks.filter(F.col("source") == "src0")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
    )
    corp = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all")
    )
    totals = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum((F.col("source") == "src0").cast("int"))
        .cast("bigint")
        .alias("n_t"),
    )
    weights = (
        corp.join(tgt, "token", "left")
        .join(F.broadcast(totals))
        .select(
            "token",
            F.floor(
                F.lit(1000000)
                * (
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double")
                    * F.col("n_all").cast("double")
                )
                / (
                    (F.col("c_all") + 1).cast("double")
                    * F.col("n_t").cast("double")
                )
            )
            .cast("bigint")
            .alias("w_q"),
        )
    )
    scored = (
        toks.join(weights, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("w_q").cast("bigint").alias("score_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    return (
        scored.join(d.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (
                F.col("score_q").cast("double")
                / (F.lit(1000000.0) * F.col("n_tokens"))
            ).alias("mean_relevance"),
        )
        .orderBy(
            F.desc(F.expr("score_q div n_tokens")),
            F.desc("score_q"),
            "doc_id",
        )
        .limit(20)
    )


_RAG_WINDOW = 16  # tokens per chunk
_RAG_STRIDE = 8  # tokens between chunk starts (50% overlap)


@query(
    "text_sliding_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ), starts AS (
        SELECT doc_id, w,
               unnest(range(0, len(w), {_RAG_STRIDE})) AS start_token
        FROM t
    )
    SELECT doc_id,
           CAST(start_token // {_RAG_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(start_token AS INTEGER) AS start_token,
           CAST(len(w[start_token + 1 : start_token + {_RAG_WINDOW}])
                AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
               w[start_token + 1 : start_token + {_RAG_WINDOW}], ' '))
               AS chunk_md5
    FROM starts
    """,
)
def text_sliding_chunks(spark, sf_dir):
    """RAG-ingestion chunking: fixed 16-token windows at stride 8 (50 %
    overlap), so every passage boundary is covered by two chunks — the
    standard retrieval-corpus preparation the non-overlapping
    ``text_chunk_dedup`` windows cannot express. Emits one row per chunk
    with its position and an md5 content key (the join key for chunk-level
    embedding / dedup downstream).

    Purely declarative 1:N row expansion: sequence + posexplode + slice —
    no Python, no shuffle (the expansion is map-side; plan gate in
    tests/test_plans.py). At 100 TB the output is ~2× the token volume;
    it feeds directly into the chunk-keyed aggregates (groupBy chunk_md5)
    which shuffle on the content key with map-side combine."""
    d = _docs(spark, sf_dir)
    w = F.col("w")
    # size > 0 guard: a zero-token doc would make sequence(0, -1, stride)
    # throw 'Illegal sequence boundaries' at runtime (the step form does
    # not go descending like the 2-arg form — it errors). DuckDB's
    # range(0, 0, stride) is empty, so dropping empty docs matches the
    # oracle: no chunks from an empty document.
    starts = d.select(
        "doc_id", tokens().alias("w")
    ).filter(F.size(w) > 0).select(
        "doc_id",
        "w",
        F.posexplode(
            F.sequence(F.lit(0), F.size(w) - 1, F.lit(_RAG_STRIDE))
        ).alias("chunk_idx", "start_token"),
    )
    chunk = F.slice(w, F.col("start_token") + 1, _RAG_WINDOW)
    return starts.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_token").cast("int").alias("start_token"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


_ALLOC_BUDGET = 10_000_000  # tokens to allocate across sources


@query(
    "corpus_token_allocation",
    oracle=f"""
    WITH w AS (
        SELECT source, SUM(CAST(len({_DUCK_WORDS}) AS BIGINT)) AS tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(tokens) AS total FROM w),
    base AS (
        SELECT w.source, w.tokens,
               ({_ALLOC_BUDGET} * w.tokens) // t.total AS floor_alloc,
               ({_ALLOC_BUDGET} * w.tokens) % t.total AS remainder
        FROM w, tot t
    ),
    ranked AS (
        SELECT source, tokens, floor_alloc, remainder,
               ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rk,
               {_ALLOC_BUDGET} - SUM(floor_alloc) OVER () AS leftover
        FROM base
    )
    SELECT source, CAST(tokens AS BIGINT) AS corpus_tokens,
           CAST(floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens,
           CAST(rk AS INTEGER) AS remainder_rank
    FROM ranked ORDER BY source
    """,
)
def corpus_token_allocation(spark, sf_dir):
    """Training-mixture token allocation by the largest-remainder method:
    split a fixed token budget across sources proportionally to their
    corpus mass, with the rounding remainder going to the largest
    fractional shares — allocations are exact integers that sum to the
    budget EXACTLY (floor everywhere under- allocates; naive rounding
    over- or under-shoots), which is what a sampling job needs as its
    per-source quota.

    All arithmetic is int64 (budget*tokens < 2^63 up to ~9e11 corpus
    tokens; past that pre-scale the weights); the remainder ranking
    breaks ties by source name, so the result is fully deterministic.
    Plan: one map-side-combined source aggregate (the wide work), then
    the allocation math runs on the |sources|-row frame — a 1-row total
    broadcast plus one tiny window; at 100 TB nothing after the first
    aggregate touches data volume."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = d.select(
        "source", F.size(tokens()).cast("bigint").alias("t")
    ).groupBy("source").agg(F.sum("t").alias("tokens"))
    # the corpus total as a global window over the |sources|-row aggregate
    # — NOT a separate agg + broadcast join, which would re-run the
    # document scan for the broadcast side (Spark has no CTE reuse here)
    everything = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = w.select(
        "source",
        "tokens",
        F.sum("tokens").over(everything).alias("total"),
    ).select(
        "source",
        "tokens",
        F.expr(f"({_ALLOC_BUDGET} * tokens) div total").alias("floor_alloc"),
        (F.lit(_ALLOC_BUDGET) * F.col("tokens") % F.col("total")).alias(
            "remainder"
        ),
    )

    ranked = base.select(
        "source",
        "tokens",
        "floor_alloc",
        F.row_number()
        .over(Window.orderBy(F.desc("remainder"), "source"))
        .alias("rk"),
        (
            F.lit(_ALLOC_BUDGET)
            - F.sum("floor_alloc").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("leftover"),
    )
    return ranked.select(
        "source",
        F.col("tokens").alias("corpus_tokens"),
        (
            F.col("floor_alloc")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_tokens"),
        F.col("rk").cast("int").alias("remainder_rank"),
    ).orderBy("source")
