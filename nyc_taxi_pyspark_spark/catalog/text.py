"""Text / dedup queries over ``documents`` (north-star extension).

Oracle twins are generated programmatically from the same constants as the
Spark operators (N_HASHES, bands, stopwords, profiles) so the two sides
cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.catalog._cache import STATE
from nyc_taxi_pyspark_spark.catalog.registry import query
from nyc_taxi_pyspark_spark.functions.exact import oracle_davg
from nyc_taxi_pyspark_spark.operators.heavy import heavy_hitters_exact
from nyc_taxi_pyspark_spark.operators.text import (
    BPE_PATTERN,
    LANG_PROFILES,
    N_BANDS,
    N_HASHES,
    ROWS_PER_BAND,
    STOPWORDS,
    bpe_tokens,
    char_shingles,
    distinct_tokens,
    exact_dedup,
    minhash_layout,
    near_dup_pairs,
    near_dup_pairs_from_layout,
    predict_lang,
    quality_features,
    rolling_fingerprint,
    simhash16,
    simhash_near_dup_pairs,
    simhash_signature,
    tokens,
    with_minhash_signature,
)
from nyc_taxi_pyspark_spark.sources.io import load_table, parallelize_scan


def _docs(spark, sf_dir):
    return parallelize_scan(load_table(spark, sf_dir, "documents"), spark)


# DuckDB fragments mirroring the operator definitions.
_DUCK_WORDS = "string_split_regex(text, '\\s+')"
_DUCK_DWORDS = f"list_distinct({_DUCK_WORDS})"
_DUCK_SHINGLES = (
    f"CASE WHEN len({_DUCK_WORDS}) >= 3 THEN "
    f"list_distinct(list_transform(generate_series(1, len({_DUCK_WORDS}) - 2), "
    f"i -> array_to_string(({_DUCK_WORDS})[i:i+2], ' '))) "
    "ELSE [] END"
)


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST(len({_DUCK_WORDS}) AS INTEGER) AS n_tokens,
           CAST(len({_DUCK_DWORDS}) AS INTEGER) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting — row-level array exprs, no shuffle, no Python."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens()).alias("n_tokens"),
        F.size(distinct_tokens()).alias("n_distinct_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


@query(
    "text_lang_summary",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs,
           {oracle_davg(f'len({_DUCK_WORDS})', 0)} AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_summary(spark, sf_dir):
    """Per-language corpus stats (grouping + integer-exact averaging)."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens())
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(n_tok.cast("decimal(18,0)")).cast("double") / F.count(n_tok)
        ).alias("avg_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "text_exact_dedup",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def text_exact_dedup(spark, sf_dir):
    """Exact dedup via md5 fingerprint — deterministic min-id survivor."""
    return exact_dedup(_docs(spark, sf_dir))


def _minhash_oracle() -> str:
    hcols = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s))) AS h{i}"
        for i in range(N_HASHES)
    )
    return f"""
    SELECT doc_id, {hcols}
    FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents)
    """


@query("text_minhash_signature", oracle=_minhash_oracle())
def text_minhash_signature(spark, sf_dir):
    """MinHash signatures (8 md5-permutation minima over word-trigram
    shingles) — a narrow projection, embarrassingly parallel."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return with_minhash_signature(d).drop("text")


def _near_dup_pairs_cte() -> str:
    """CTE chain ``sets, sigs, bands, cands, ndpairs`` — the MinHash-LSH
    pair extraction (band candidates + exact-Jaccard ≥ 0.5 verification),
    shared by the pair oracle and every downstream oracle that consumes
    the pair set (clusters, syndication graph)."""
    hcols = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s))) AS h{i}"
        for i in range(N_HASHES)
    )
    band_rows = ", ".join(
        "({b}, md5({concat}))".format(
            b=b,
            concat=" || '|' || ".join(
                f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""sets AS (
        SELECT doc_id, sh
        FROM (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents)
        WHERE len(sh) > 0
    ),
    sigs AS (
        SELECT doc_id, {hcols} FROM sets
    ),
    bands AS (
        SELECT doc_id, b.band_idx, b.band_hash
        FROM sigs, LATERAL (
            SELECT * FROM (VALUES {band_rows}) AS v(band_idx, band_hash)
        ) b
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ),
    ndpairs AS (
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh)
                    - len(list_intersect(sa.sh, sb.sh)))
                 AS jaccard
        FROM cands
        JOIN sets sa ON sa.doc_id = doc_a
        JOIN sets sb ON sb.doc_id = doc_b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / (len(sa.sh) + len(sb.sh)
                 - len(list_intersect(sa.sh, sb.sh))) >= 0.5
    )"""


def _near_dup_oracle() -> str:
    return f"""
    WITH {_near_dup_pairs_cte()}
    SELECT doc_a, doc_b, jaccard FROM ndpairs
    """


def _n_docs(spark, sf_dir) -> int:
    """Corpus row count: a driver-side metadata scalar two queries (TF-ICF's
    N, incremental dedup's split point) re-counted per call (r16, guide §5)
    — at 100 TB this is catalog metadata, not a job."""
    return STATE.get("text.n_docs", spark, sf_dir, _docs(spark, sf_dir).count)


def _near_dup_pairs_cached(spark, sf_dir):
    """MinHash-LSH pair extraction, persisted once per (session, table):
    both the pair query and the clustering query consume the identical
    tiny pair set, so a full catalog run pays the signature scan + band
    join once — the same materialized-layout discipline as
    ``_simhash_sigs`` / similarity's ``_bucketed``."""
    return STATE.get(
        "text.pairs",
        spark,
        sf_dir,
        lambda: near_dup_pairs(_docs(spark, sf_dir)),
    )


@query("text_near_dup_pairs", oracle=_near_dup_oracle())
def text_near_dup_pairs(spark, sf_dir):
    """MinHash-LSH near-duplicate detection: signature scan → band-bucket
    join (bounded candidates) → exact Jaccard verification ≥ 0.5."""
    return _near_dup_pairs_cached(spark, sf_dir)


def _simhash_oracle() -> str:
    bit_terms = " + ".join(
        f"""CASE WHEN list_sum(list_transform(dw,
             w -> CASE WHEN (strpos('0123456789abcdef', md5(w)[{b + 1}:{b + 1}]) - 1) % 2 = 1
                       THEN 1 ELSE -1 END)) > 0 THEN {2**b} ELSE 0 END"""
        for b in range(16)
    )
    return f"""
    SELECT doc_id, CAST({bit_terms} AS INTEGER) AS simhash
    FROM (SELECT doc_id, {_DUCK_DWORDS} AS dw FROM documents)
    """


@query("text_simhash", oracle=_simhash_oracle())
def text_simhash(spark, sf_dir):
    """16-bit SimHash per document (integer arithmetic end-to-end)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", simhash16(distinct_tokens()).alias("simhash"))


def _simhash32_oracle_expr(salt: str) -> str:
    src = f"md5('{salt}' || w)" if salt else "md5(w)"
    bit_terms = " + ".join(
        f"""CASE WHEN list_sum(list_transform(dw,
             w -> CASE WHEN (strpos('0123456789abcdef', {src}[{b + 1}:{b + 1}]) - 1) % 2 = 1
                       THEN 1 ELSE -1 END)) > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"""
        for b in range(32)
    )
    return f"CAST({bit_terms} AS BIGINT)"


def _simhash_pairs_oracle() -> str:
    """Brute-force all-pairs twin of the banded Spark plan — valid because
    pigeonhole banding at radius 3 over 4 bands is exact, so the banded
    result must equal the full O(n²) scan."""
    from nyc_taxi_pyspark_spark.operators.text import SIMHASH_SALTS

    halves = ",\n               ".join(
        f"{_simhash32_oracle_expr(s)} AS s{i}"
        for i, s in enumerate(SIMHASH_SALTS)
    )
    ham = " + ".join(
        f"bit_count(xor(a.s{i}, b.s{i}))" for i in range(len(SIMHASH_SALTS))
    )
    return f"""
    WITH sigs AS (
        SELECT doc_id,
               {halves}
        FROM (SELECT doc_id, {_DUCK_DWORDS} AS dw FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE {ham} <= 3
    """


def _simhash_sigs(spark, sf_dir):
    """128-bit signature layout, persisted once per (session, table) —
    locally a persist() of the derived columns; at 100 TB the signature is
    written next to the documents at ingest (same storage contract as the
    similarity engine's ``_bucketed`` layout)."""
    return STATE.get(
        "text.simhash_sigs",
        spark,
        sf_dir,
        lambda: simhash_signature(_docs(spark, sf_dir)),
    )


@query("text_simhash_pairs", oracle=_simhash_pairs_oracle())
def text_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 128-bit signature (four salted 32-bit
    halves), the halves doubling as pigeonhole bands, Hamming ≤ 3 —
    exact for the radius, so the banded plan must reproduce the oracle's
    O(n²) scan. Signatures come from the persisted layout; the query
    itself is one band self-join."""
    return simhash_near_dup_pairs(sigs=_simhash_sigs(spark, sf_dir))


def _quality_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(n_distinct AS INTEGER) AS n_distinct_tokens,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
           CAST(sum_len AS DOUBLE) / n_tokens AS mean_token_len,
           CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
           0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             + 0.1 * (CAST(sum_len AS DOUBLE) / n_tokens)
             - 0.4 * (CAST(stop_hits AS DOUBLE) / n_tokens) AS quality_score
    FROM (
        SELECT doc_id,
               len(w) AS n_tokens,
               len(list_distinct(w)) AS n_distinct,
               list_sum(list_transform(w, x -> length(x))) AS sum_len,
               list_sum(list_transform(w, x -> CASE WHEN x IN ({stop_list})
                                               THEN 1 ELSE 0 END)) AS stop_hits
        FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
    )
    """


@query("text_quality_scores", oracle=_quality_oracle())
def text_quality_scores(spark, sf_dir):
    """Length/diversity/stopword quality features + composite score."""
    return quality_features(_docs(spark, sf_dir))


def _lang_id_oracle() -> str:
    langs = list(LANG_PROFILES)
    score = {
        lang: (
            f"len(list_intersect(dw, [{', '.join(repr(m) for m in LANG_PROFILES[lang])}]))"
        )
        for lang in langs
    }
    expr = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        later = [score[lo] for lo in langs[langs.index(lang) + 1 :]]
        best_later = later[0]
        for c in later[1:]:
            best_later = f"greatest({best_later}, {c})"
        expr = f"CASE WHEN {score[lang]} >= {best_later} THEN '{lang}' ELSE {expr} END"
    return f"""
    SELECT doc_id, lang, {expr} AS predicted_lang,
           CAST(lang = ({expr}) AS INTEGER) AS is_correct
    FROM (SELECT doc_id, lang, {_DUCK_DWORDS} AS dw FROM documents)
    """


@query("text_lang_id", oracle=_lang_id_oracle())
def text_lang_id(spark, sf_dir):
    """Stopword-profile language ID (deterministic argmax, fixed tie order).
    The synthetic corpus shares one vocabulary across langs, so accuracy is
    meaningless here; unit tests exercise real multilingual fixtures."""
    d = _docs(spark, sf_dir)
    pred = predict_lang(distinct_tokens())
    return d.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        (F.col("lang") == pred).cast("int").alias("is_correct"),
    )


@query(
    "text_token_topk",
    oracle=f"""
    SELECT w AS token, COUNT(*) AS n
    FROM (SELECT unnest({_DUCK_WORDS}) AS w FROM documents)
    GROUP BY 1
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def text_token_topk(spark, sf_dir):
    """Corpus-wide token frequency top-k (explode → count → TakeOrdered)."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


_HH_K = 500  # phi = 1/500: report tokens above 0.2% of all occurrences


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH tok AS (SELECT unnest({_DUCK_WORDS}) AS token FROM documents)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM tok
    GROUP BY token
    HAVING COUNT(*) * {_HH_K} > (SELECT COUNT(*) FROM tok)
    ORDER BY n_occ DESC, token
    """,
)
def text_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters (tokens with > 1/500 of all occurrences)
    via two-phase Misra-Gries candidate pruning + broadcast exact verify
    (operators/heavy.py). At 100 TB the naive explode->groupBy shuffles one
    row per token occurrence and holds full-vocabulary agg state; the MG
    phase caps the merge shuffle at k rows per partition and the verify
    phase counts only broadcast-filtered survivors, while the HAVING
    ``cnt * k > total`` integer compare keeps the result exact and
    engine-portable. Reference parity: the driver-side value_counts
    frequency reports (SURVEY.md section 2.4 A4), re-expressed for
    vocabularies where group-by state no longer fits."""
    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(tokens()).alias("token"))
    return heavy_hitters_exact(toks, "token", _HH_K).select(
        F.col("item").alias("token"), "n_occ"
    )


_DUCK_CHAR_SH = (
    "CASE WHEN length(text) >= 8 THEN "
    "list_distinct(list_transform(generate_series(1, length(text) - 7), "
    "i -> text[i:i+7])) ELSE [] END"
)


def _ngram_cands_cte() -> str:
    # char-8-gram variant: 8 hashes in 2 bands × 4 rows (LSH threshold ≈ 0.84)
    hcols = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}|' || s))) AS h{i}"
        for i in range(8)
    )
    band_rows = ", ".join(
        "({b}, md5({concat}))".format(
            b=b,
            concat=" || '|' || ".join(f"h{b * 4 + r}" for r in range(4)),
        )
        for b in range(2)
    )
    return f"""
    WITH sets AS (
        SELECT doc_id, sh
        FROM (SELECT doc_id, {_DUCK_CHAR_SH} AS sh FROM documents)
        WHERE len(sh) > 0
    ),
    sigs AS (SELECT doc_id, {hcols} FROM sets),
    bands AS (
        SELECT doc_id, b.band_idx, b.band_hash
        FROM sigs, LATERAL (
            SELECT * FROM (VALUES {band_rows}) AS v(band_idx, band_hash)
        ) b
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    """


def _ngram_oracle() -> str:
    jac = (
        "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
        " / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"
    )
    return (
        _ngram_cands_cte()
        + f"""
    SELECT doc_a, doc_b, {jac} AS jaccard
    FROM cands
    JOIN sets sa ON sa.doc_id = doc_a
    JOIN sets sb ON sb.doc_id = doc_b
    WHERE {jac} >= 0.8
    """
    )


def _ngram_layout(spark, sf_dir):
    """Char-8-gram (shingles, h0..h7) signature layout, persisted once per
    (session, table) — the same discipline as ``_simhash_sigs``. Without it
    the shingle+signature pipeline replans on BOTH sides of the band
    self-join and both verification joins (the round-2 bench regression:
    1.49→1.95 s); with it one signature scan feeds all four consumers."""
    return STATE.get(
        "text.ngram_layout",
        spark,
        sf_dir,
        lambda: minhash_layout(
            _docs(spark, sf_dir),
            shingles=char_shingles(),
            nonempty=F.length("text") >= 8,
        ),
    )


@query("text_ngram_jaccard_pairs", oracle=_ngram_oracle())
def text_ngram_jaccard_pairs(spark, sf_dir):
    """n-gram-Jaccard near-dup variant: character 8-gram shingles, tighter
    LSH banding (2×4, threshold ≈ 0.84), exact Jaccard ≥ 0.8 verification.
    Word-order robust and language agnostic, vs the word-trigram pipeline.
    Signatures come from the persisted layout; the query itself is one
    band join + one verification join."""
    return near_dup_pairs_from_layout(
        _ngram_layout(spark, sf_dir),
        threshold=0.8,
        n_bands=2,
        rows_per_band=4,
    )


_DUCK_SHARED_SH = "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"


@query(
    "text_containment_pairs",
    oracle=_ngram_cands_cte()
    + f"""
    SELECT doc_a, doc_b,
           {_DUCK_SHARED_SH} / CAST(len(sa.sh) AS DOUBLE) AS containment_a,
           {_DUCK_SHARED_SH} / CAST(len(sb.sh) AS DOUBLE) AS containment_b
    FROM cands
    JOIN sets sa ON sa.doc_id = doc_a
    JOIN sets sb ON sb.doc_id = doc_b
    WHERE GREATEST({_DUCK_SHARED_SH} / CAST(len(sa.sh) AS DOUBLE),
                   {_DUCK_SHARED_SH} / CAST(len(sb.sh) AS DOUBLE)) >= 0.7
    """,
)
def text_containment_pairs(spark, sf_dir):
    """Asymmetric containment dedup: |A∩B|/|A| and |A∩B|/|B| over char-8-gram
    shingle sets for LSH band candidates. Catches SUBSET duplication — a
    short doc quoted inside a long one, boilerplate wrapping — which
    symmetric Jaccard under-scores (small∩big over a big union). Candidates
    come from the same persisted signature layout and band join as the
    Jaccard path (recall is bounded by the banding, documented trade);
    verification reads the shingle arrays for candidates only."""
    from nyc_taxi_pyspark_spark.operators.text import (
        lsh_bands,
        lsh_candidate_pairs,
    )

    layout = _ngram_layout(spark, sf_dir)
    pairs = lsh_candidate_pairs(
        lsh_bands(layout, "doc_id", n_bands=2, rows_per_band=4)
    )
    sa = layout.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = layout.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    shared = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    ca = shared / F.size("sh_a").cast("double")
    cb = shared / F.size("sh_b").cast("double")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.greatest(ca, cb) >= 0.7)
        .select(
            "doc_a",
            "doc_b",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
    )


_DUCK_BPE = "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')"


@query(
    "text_bpe_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_DUCK_BPE}) AS INTEGER) AS n_bpe_tokens,
           CAST(len({_DUCK_WORDS}) AS INTEGER) AS n_ws_tokens,
           CAST(len(list_distinct({_DUCK_BPE})) AS INTEGER) AS n_distinct_bpe
    FROM documents
    """,
)
def text_bpe_token_stats(spark, sf_dir):
    """BPE-style pre-token counting next to whitespace counting — the
    token-budget basis for an LLM-data pipeline (punctuation-aware)."""
    d = _docs(spark, sf_dir)
    bpe = bpe_tokens()
    return d.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(tokens()).alias("n_ws_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_distinct_bpe"),
    )


@query(
    "text_rolling_fingerprint",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(text) > 0 THEN
             list_reduce(list_transform(split(text, ''), c -> ord(c)::BIGINT),
                         (acc, x) -> (acc * 131 + x) % 2147483647)
           ELSE NULL END AS roll_fp,
           md5(text) AS md5_fp
    FROM documents
    """,
)
def text_rolling_fingerprint(spark, sf_dir):
    """Rabin–Karp polynomial fingerprint beside the md5 fingerprint —
    integer arithmetic end-to-end, the basis for content-defined chunking."""
    d = _docs(spark, sf_dir)
    from nyc_taxi_pyspark_spark.operators.text import fingerprint

    return d.select(
        "doc_id",
        rolling_fingerprint().alias("roll_fp"),
        fingerprint().alias("md5_fp"),
    )


def _dup_clusters_oracle() -> str:
    """Recursive-CTE twin of min-label propagation: the cluster id is the
    MIN over every id reachable in the pair graph — exactly the operator's
    fixpoint, computed by brute-force transitive closure (fine at oracle
    scale; the Spark side is the one that has to scale)."""
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_near_dup_oracle()})
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS t FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS t FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id,
           CAST(id = MIN(r) AS INTEGER) AS is_canonical
    FROM reach GROUP BY id
    """


# Explicit-broadcast guard (r15 ADVICE): component frames are RDD-backed
# (post-checkpoint) so Spark cannot size-estimate them — the hint is what
# prevents a corpus-wide sort-merge join — but the dup-cluster frame
# scales with the corpus duplication rate, so an UNCONDITIONAL hint could
# exceed broadcast/driver limits at 100 TB. 4M (id,label) int64 rows is
# ~100 MB framed — inside the guide §3.1 "few hundred MB is fine" band
# and far from the 8 GB hard cap; past it the hint is dropped and the
# planner picks the join strategy from the other side's stats.
CC_BROADCAST_MAX_ROWS = 4_000_000


def _cc_hint(df, n_rows: int):
    """Broadcast ``df`` only when its known row count is inside the bound."""
    return F.broadcast(df) if n_rows <= CC_BROADCAST_MAX_ROWS else df


def _dup_cc_hint(spark, sf_dir, df):
    """The dup-components guard: row count is session state beside the cc
    layout (one cheap count over the already-persisted frame)."""
    n = STATE.get(
        "text.dup_cc_n",
        spark,
        sf_dir,
        _dup_components_cached(spark, sf_dir).count,
    )
    return _cc_hint(df, n)


def _dup_components_cached(spark, sf_dir):
    """Connected components of the persisted near-dup pair layout, as
    session state. The assignment derives solely from the pair layout that
    is already session-persisted (the syndication source-graph discipline):
    re-running the min-label rounds per invocation re-paid 2-3 iterative
    jobs plus per-round convergence actions for a frame that cannot change
    within a session. At 100 TB cluster ids are ingest-maintained dedup
    state beside the signature columns — exactly what the incremental-dedup
    operator consumes."""
    from nyc_taxi_pyspark_spark.operators.text import connected_components

    return STATE.get(
        "text.dup_cc",
        spark,
        sf_dir,
        lambda: connected_components(
            _near_dup_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )


@query("text_dup_clusters", oracle=_dup_clusters_oracle())
def text_dup_clusters(spark, sf_dir):
    """Near-dup cluster assignment — the step a dedup pipeline needs AFTER
    pair extraction: transitive closure of the MinHash-LSH pairs, cluster id
    = min doc_id of the component (deterministic canonical survivor; every
    non-canonical member is the drop set). Pair graph from
    ``near_dup_pairs``; components via ``connected_components`` (join +
    min-agg rounds, diameter-bounded), held as session state beside the
    pair layout (:func:`_dup_components_cached`)."""
    cc = _dup_components_cached(spark, sf_dir)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).cast("int").alias("is_canonical"),
    )


@query(
    "text_dedup_survivor_weights",
    oracle=f"""
    WITH assigned AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d
        LEFT JOIN ({_dup_clusters_oracle()}) c ON d.doc_id = c.doc_id
    )
    SELECT cluster_id AS survivor_doc_id,
           CAST(COUNT(*) AS INTEGER) AS weight,
           CAST(COUNT(*) > 1 AS INTEGER) AS is_cluster
    FROM assigned GROUP BY cluster_id
    """,
)
def text_dedup_survivor_weights(spark, sf_dir):
    """Survivor re-weighting after near-dup dedup: one row per kept
    document, weighted by the size of its duplicate cluster (1 for
    singletons). Training on survivors with these weights — or resampling
    proportional to them — preserves the pre-dedup corpus distribution
    instead of silently down-weighting popular content, the standard
    follow-up to cluster-and-drop dedup.

    Plan: the (small) cluster assignment joins against the doc-id
    projection of the corpus — Spark broadcasts it — then one groupBy on
    the cluster id. At 100 TB both sides read id columns only; the only
    wide exchange is the survivor aggregation."""
    # direct id-projection scan + size-guarded broadcast of the RDD-backed
    # cluster frame (same reasoning as text_dedup_rate_by_source)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = text_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    assigned = docs.join(
        _dup_cc_hint(spark, sf_dir, clusters), "doc_id", "left"
    ).select(
        F.coalesce("cluster_id", "doc_id").alias("survivor_doc_id")
    )
    return assigned.groupBy("survivor_doc_id").agg(
        F.count("*").cast("int").alias("weight"),
        (F.count("*") > 1).cast("int").alias("is_cluster"),
    )


@query(
    "text_tficf_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(w) AS token, len(w) AS doc_len
        FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tfc,
               CAST(MIN(doc_len) AS BIGINT) AS dl
        FROM toks GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dfc
        FROM toks GROUP BY token
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents)
    SELECT tf.doc_id, tf.token,
           tf.tfc AS tf_count, df.dfc AS doc_freq,
           CAST(tf.tfc * n.nn AS DOUBLE) / CAST(tf.dl * df.dfc AS DOUBLE)
             AS tficf
    FROM tf JOIN df USING (token), n
    ORDER BY tficf DESC, doc_id, token
    LIMIT 30
    """,
)
def text_tficf_topk(spark, sf_dir):
    """TF-IDF-style term salience, top-30 (doc, token) pairs.

    The score is the RATIONAL form tf·N / (doc_len·df) — term frequency
    times inverse collection frequency — rather than the usual
    tf·ln(N/df): the ranking for a fixed corpus is the same family, but
    ln() is a libm call whose last ULP differs between JVM and DuckDB, so
    a hash-checked score must stay in exact-int products with one final
    double division. Plan: explode → (doc,token) count [shuffle 1] →
    token doc-freq [shuffle 2, map-side combined] → broadcast-size join
    back; N is a driver-side metadata count inlined as a literal (same
    parameter discipline as the similarity query vector)."""
    d = _docs(spark, sf_dir)
    n_docs = _n_docs(spark, sf_dir)  # session metadata scalar (r16)
    toks = d.select(
        "doc_id", F.explode(tokens()).alias("token"), F.size(tokens()).alias("doc_len")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf_count"), F.min("doc_len").cast("bigint").alias("dl")
    )
    df_ = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    score = (F.col("tf_count") * F.lit(n_docs)).cast("double") / (
        F.col("dl") * F.col("doc_freq")
    ).cast("double")
    return (
        tf.join(df_, "token")
        .select("doc_id", "token", "tf_count", "doc_freq", score.alias("tficf"))
        .orderBy(F.desc("tficf"), "doc_id", "token")
        .limit(30)
    )


_BM25_TERMS = ("spark", "join", "window")
# k1=1.2, b=0.75 pre-folded: k1+1=2.2, k1*(1-b)=0.25·1.2, k1*b=0.75·1.2 —
# written as 1.2*(0.25 + 0.75*x) in BOTH engines so the float expression
# trees match operation-for-operation.


def _bm25_term_sql(t: str) -> str:
    # every constant CAST to DOUBLE: DuckDB parses bare 2.2/1.2 as exact
    # DECIMAL and would do decimal arithmetic, diverging from Spark's
    # double tree by an ULP.
    return (
        f"((n_docs - df_{t} + CAST(0.5 AS DOUBLE)) / (df_{t} + CAST(0.5 AS DOUBLE)))"
        f" * ((tf_{t} * CAST(2.2 AS DOUBLE)) / (tf_{t} + CAST(1.2 AS DOUBLE)"
        f" * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)"
        f" * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE)"
        f" / CAST(n_docs AS DOUBLE))))))"
    )


# Shared oracle CTE chain (base → 1-row stats → per-doc score): reused by
# text_bm25_topk and the hybrid-RRF fusion in catalog/similarity.py.
BM25_SCORED_SQL = f"""
    base AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
               {', '.join(f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{t}" for t in _BM25_TERMS)}
        FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS sum_dl,
               {', '.join(f'CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}' for t in _BM25_TERMS)}
        FROM base
    ),
    bm25s AS (
        SELECT doc_id,
               {', '.join(f'tf_{t}' for t in _BM25_TERMS)},
               {' + '.join(_bm25_term_sql(t) for t in _BM25_TERMS)} AS bm25
        FROM base, stats
    )"""


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {BM25_SCORED_SQL}
    SELECT doc_id,
           {', '.join(f'CAST(tf_{t} AS INTEGER) AS tf_{t}' for t in _BM25_TERMS)},
           bm25
    FROM bm25s
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_topk(spark, sf_dir):
    """BM25 document retrieval for a literal multi-term query, top-10.

    Scoring lives in :func:`bm25_frame` (shared with the hybrid-RRF
    fusion); this query adds the per-term tf columns and the top-10 take.
    Scale/exactness notes on the helper."""
    return (
        bm25_frame(spark, sf_dir)
        .select(
            "doc_id",
            *[F.col(f"tf_{t}").cast("int").alias(f"tf_{t}") for t in _BM25_TERMS],
            "bm25",
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(10)
    )


def bm25_frame(spark, sf_dir):
    """Per-document BM25 scores (doc_id, tf_<term>…, bm25) for the fixed
    3-term query — the scored frame behind ``text_bm25_topk`` and the
    lexical arm of ``search_hybrid_rrf``.

    Classic BM25 shape (k1=1.2, b=0.75, per-doc length normalization
    against the corpus mean) with the RATIONAL idf (N-df+0.5)/(df+0.5)
    instead of its log: same ranking family, but ln() is a libm call whose
    last ULP differs between JVM and DuckDB, while this form stays in
    integer-derived double arithmetic written as the identical expression
    tree in both engines — hash-checkable. Plan: one narrow projection
    computes dl + per-term tf per doc (whole-stage codegen, no explode for
    a fixed query), one map-side-combined 1-row global agg for
    (N, Σdl, df_t), broadcast back (the accepted 1-row crossJoin pattern),
    score, TakeOrderedAndProject. At 100 TB the stats row is corpus
    metadata computed once per index build, not per query."""
    d = _docs(spark, sf_dir)
    toks = tokens()

    def tf_col(t: str) -> F.Column:
        # one-arg lambda only: a defaulted second parameter would silently
        # receive the array index (see lambda_functions' docstring).
        return (
            F.size(F.filter(toks, lambda x: x == F.lit(t)))
            .cast("bigint")
            .alias(f"tf_{t}")
        )

    base = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        *[tf_col(t) for t in _BM25_TERMS],
    )
    # the 1-row (N, Σdl, df_t) stats frame IS the index-build metadata the
    # docstring promises — session state beside the other text layouts, so
    # the scoring pass is the only per-invocation tokenize of the corpus
    # (it was a second full pass per call before)
    stats = STATE.get(
        "text.bm25_stats",
        spark,
        sf_dir,
        lambda: base.agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.sum((F.col(f"tf_{t}") > 0).cast("bigint")).alias(f"df_{t}")
                for t in _BM25_TERMS
            ],
        ),
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")

    def term_score(t: str) -> F.Column:
        idf = (F.col("n_docs") - F.col(f"df_{t}") + F.lit(0.5)) / (
            F.col(f"df_{t}") + F.lit(0.5)
        )
        tfpart = (F.col(f"tf_{t}") * F.lit(2.2)) / (
            F.col(f"tf_{t}")
            + F.lit(1.2)
            * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl))
        )
        return idf * tfpart

    score = term_score(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + term_score(t)
    return base.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        *[F.col(f"tf_{t}") for t in _BM25_TERMS],
        score.alias("bm25"),
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 \\t\\n]', ' ', 'g'), '[ \\t\\n]+', ' ', 'g'))
             AS norm_text
    FROM documents
    """,
)
def text_normalize(spark, sf_dir):
    """Corpus normalization (lowercase / punctuation→space / whitespace
    collapse / trim) — the first stage of every LLM preprocessing pipeline;
    pure codegen string expressions, no Python."""
    from nyc_taxi_pyspark_spark.operators.text import normalize_text

    return _docs(spark, sf_dir).select("doc_id", normalize_text().alias("norm_text"))


@query(
    "text_scrub_pii",
    oracle=f"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(text,
               '{{EMAIL}}', '<EMAIL>', 'g'), '{{URL}}', '<URL>', 'g'))
             AS scrubbed_md5,
           CAST(len(regexp_extract_all(text, '{{EMAIL}}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{{URL}}')) AS INTEGER) AS n_urls
    FROM documents
    """.replace("{EMAIL}", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")
       .replace("{URL}", "https?://[^ \\t\\n]+"),
)
def text_scrub_pii(spark, sf_dir):
    """PII scrubbing: email and URL spans replaced by placeholder tokens
    (patterns in the Java-regex ∩ RE2 common subset so both engines redact
    identical spans); emits the scrubbed-content fingerprint plus match
    counts on the original text."""
    from nyc_taxi_pyspark_spark.operators.text import EMAIL_RE, URL_RE, scrub_pii

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(scrub_pii()).alias("scrubbed_md5"),
        F.regexp_count("text", F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(URL_RE)).cast("int").alias("n_urls"),
    )


@query(
    "text_repetition",
    oracle=f"""
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(MAX(c) AS BIGINT) AS max_token_count,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS repetition_ratio
    FROM (
        SELECT doc_id, token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents)
        GROUP BY doc_id, token
    )
    GROUP BY doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signal: the most frequent single token's
    share of the document. High ratios flag boilerplate/spam for the
    quality filter. Two map-side-combined shuffles (doc×token, then doc) —
    the exact-count form; at 100 TB the same measure folds into the
    existing per-doc aggregate pass."""
    toks = _docs(spark, sf_dir).select("doc_id", F.explode(tokens()).alias("token"))
    per = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("max_token_count"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "repetition_ratio"
        ),
    )


@query(
    "text_split_assign",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END
             AS split
    FROM (
        SELECT doc_id,
               list_reduce(
                   list_transform(
                       split(md5(CAST(doc_id AS VARCHAR))[1:8], ''),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                   (acc, x) -> (acc * 16 + x) % 10) AS b
        FROM documents
    )
    """,
)
def text_split_assign(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment from md5(doc_id) —
    stable across runs, engines, partitionings, and corpus appends (a row's
    split never depends on other rows), unlike randomSplit. The oracle
    re-derives the same bucket via Horner-mod over the hex digits."""
    from nyc_taxi_pyspark_spark.operators.text import split_assign

    return _docs(spark, sf_dir).select("doc_id", split_assign().alias("split"))


@query(
    "corpus_pipeline",
    oracle=f"""
    WITH survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    filtered AS (
        SELECT d.doc_id, len({_DUCK_WORDS}) AS n_tokens
        FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
        WHERE len({_DUCK_WORDS}) >= 5
          AND CAST(len({_DUCK_DWORDS}) AS DOUBLE) / len({_DUCK_WORDS}) > 0.3
    ),
    assigned AS (
        SELECT n_tokens,
               CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT n_tokens,
                   list_reduce(
                       list_transform(
                           split(md5(CAST(doc_id AS VARCHAR))[1:8], ''),
                           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                       (acc, x) -> (acc * 16 + x) % 10) AS b
            FROM filtered
        )
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY split
    """,
)
def corpus_pipeline(spark, sf_dir):
    """The composed LLM training-corpus pipeline, end to end in ONE
    DataFrame DAG: exact-dedup survivors (min-id per md5 fingerprint) →
    quality gate (≥5 tokens, distinct-token ratio > 0.3) → deterministic
    train/val/test assignment → per-split token budget. One hash-agg
    shuffle for dedup, a semi-join back to the corpus, then per-row
    expressions — no Python anywhere, and every stage is the operator
    already proven by its own query (text_exact_dedup, text_quality_scores,
    text_split_assign). This is the shape the 100 TB corpus build runs
    nightly; swap the exact-dedup stage for the MinHash cluster survivors
    (text_dup_clusters) for fuzzy dedup."""
    from nyc_taxi_pyspark_spark.operators.text import (
        distinct_tokens,
        exact_dedup,
        split_assign,
        tokens,
    )

    d = _docs(spark, sf_dir)
    survivors = exact_dedup(d).select("doc_id")
    n_tok = F.size(tokens())
    ratio = F.size(distinct_tokens()).cast("double") / n_tok
    filtered = (
        d.join(survivors, "doc_id", "left_semi")
        .filter((n_tok >= 5) & (ratio > 0.3))
        .select("doc_id", n_tok.alias("n_tokens"))
    )
    return (
        filtered.select(split_assign().alias("split"), "n_tokens")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "text_bigram_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, w, len(w) AS n FROM
        (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
    ),
    bigrams AS (
        SELECT w[i] || ' ' || w[i + 1] AS bigram,
               w[i] AS tok_a, w[i + 1] AS tok_b
        FROM toks, unnest(generate_series(1, n - 1)) AS g(i)
        WHERE n >= 2
    ),
    bg AS (SELECT bigram, tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n_xy
           FROM bigrams GROUP BY 1, 2, 3),
    uni AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n_t FROM
        (SELECT unnest(w) AS t FROM toks) GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM uni)
    SELECT bg.bigram, bg.n_xy,
           CAST(bg.n_xy * tot.n AS DOUBLE)
             / CAST(ua.n_t * ub.n_t AS DOUBLE) AS lift
    FROM bg JOIN uni ua ON bg.tok_a = ua.t
            JOIN uni ub ON bg.tok_b = ub.t, tot
    WHERE bg.n_xy >= 5
    ORDER BY lift DESC, bigram
    LIMIT 20
    """,
)
def text_bigram_topk(spark, sf_dir):
    """Collocation mining: adjacent-bigram counts scored by LIFT — the
    exponentiated-PMI ratio P(xy)/(P(x)P(y)) = n_xy·N/(n_x·n_y) — kept
    RATIONAL (exact-int products, one double division) because log/exp are
    libm-divergent across engines (same discipline as text_tficf_topk).
    Bigram extraction is zip_with over the token array against itself
    shifted — row-level, no explode-join; then two map-side-combined
    count shuffles and a broadcast-size join back. Phrase mining at 100 TB
    is exactly this plan with the n_xy >= k support filter pushed into the
    first aggregation."""
    d = _docs(spark, sf_dir)
    w = tokens()
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        d.filter(F.size(w) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= 5)
        .withColumn("tok_a", F.split("bigram", " ").getItem(0))
        .withColumn("tok_b", F.split("bigram", " ").getItem(1))
    )
    uni = (
        d.select(F.explode(w).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n_t"))
    )
    # SUM over an empty corpus is NULL -> 0 (empty-input contract).
    # Session metadata scalar (r16, guide §5): the total token count
    # derives solely from the documents table and was a per-call driver
    # job scanning the corpus — same discipline as _n_docs.
    n_total = STATE.get(
        "text.n_tokens",
        spark,
        sf_dir,
        lambda: int(
            _docs(spark, sf_dir)
            .select(F.sum(F.size(tokens())).alias("n"))
            .head()["n"]
            or 0
        ),
    )
    ua = uni.select(F.col("t").alias("tok_a"), F.col("n_t").alias("n_a"))
    ub = uni.select(F.col("t").alias("tok_b"), F.col("n_t").alias("n_b"))
    lift = (F.col("n_xy") * F.lit(n_total)).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        bg.join(ua, "tok_a")
        .join(ub, "tok_b")
        .select("bigram", "n_xy", lift.alias("lift"))
        .orderBy(F.desc("lift"), "bigram")
        .limit(20)
    )


@query(
    "text_split_contamination",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh,
               CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id, text,
                   list_reduce(
                       list_transform(
                           split(md5(CAST(doc_id AS VARCHAR))[1:8], ''),
                           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                       (acc, x) -> (acc * 16 + x) % 10) AS b
            FROM documents
        )
    ),
    exploded AS (
        SELECT doc_id, split, unnest(sh) AS s FROM assigned WHERE len(sh) > 0
    )
    SELECT b.doc_id AS test_doc, a.doc_id AS train_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM exploded a JOIN exploded b ON a.s = b.s
    WHERE a.split = 'train' AND b.split = 'test'
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def text_split_contamination(spark, sf_dir):
    """Split-contamination detection: test-set documents sharing ≥3 word
    trigrams with any train document — the leakage audit an LLM data
    pipeline runs after splitting (a test doc that near-duplicates a train
    doc inflates eval). Shape: shingle-explode each side, equi-join ON THE
    SHINGLE (never doc×doc), count shared shingles per cross-split pair.
    At 100 TB the same query runs on the MinHash band join's candidates
    instead of raw shingles (the LSH prefilter bounds the shuffle); here
    the exact form doubles as the oracle of that optimization. Shingle
    arrays are already distinct, so COUNT(*) is the distinct overlap."""
    from nyc_taxi_pyspark_spark.operators.text import (
        split_assign,
        tokens,
        word_shingles,
    )

    d = _docs(spark, sf_dir)
    sh = word_shingles(tokens())
    exploded = (
        d.filter(F.size(tokens()) >= 3)
        .select("doc_id", split_assign().alias("split"), F.explode(sh).alias("s"))
    )
    a = exploded.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    b = exploded.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "s"
    )
    return (
        a.join(b, "s")
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= 3)
    )


@query(
    "text_unigram_rarity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents
    ),
    vocab AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens FROM toks)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.cnt) AS BIGINT) AS sum_token_count,
           CAST(SUM(v.cnt) AS BIGINT)
             / CAST(COUNT(*) * tot.total_tokens AS DOUBLE) AS mean_token_prob
    FROM toks t JOIN vocab v USING (token), tot
    GROUP BY t.doc_id, tot.total_tokens
    """,
)
def text_unigram_rarity(spark, sf_dir):
    """Unigram-LM rarity score per document — the perplexity-filtering
    family (CCNet-style: score docs under a corpus LM, drop the tails) in
    an engine-portable RATIONAL form: mean token probability
    Σ count(t) / (n_tokens · total_tokens) instead of geometric-mean
    perplexity, because exp/ln are libm calls whose last ULP differs
    between JVM and DuckDB (same discipline as ``text_tficf_topk``).
    Rare-vocabulary docs score low, boilerplate scores high; the quantity
    is exact-int sums with ONE final double division (both operands <
    2^53 — at a corpus past ~9e15 token-pairs, rescale counts first).

    Plan: explode → vocab count [shuffle 1, map-side combined] → join
    tokens back to vocab [shuffle 2] → per-doc agg [shuffle 3]; the 1-row
    total is a broadcast crossJoin, not a driver collect."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens()).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("cnt"))
    # total rides the vocab aggregate (r16, guide §2.3): COUNT(*) over the
    # token stream == SUM(cnt) over vocab exactly, so the third full
    # tokenize+explode pass the separate total aggregate paid is gone
    # (interleaved A/B 0.968 → 0.854 on the surprisal twin, bit-identical)
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("total_tokens"))
    return (
        toks.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("cnt").cast("bigint").alias("sum_token_count"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            "sum_token_count",
            (
                F.col("sum_token_count")
                / (F.col("n_tokens") * F.col("total_tokens")).cast("double")
            ).alias("mean_token_prob"),
        )
    )


def _fp_layout(spark, sf_dir):
    """(doc_id, fp) exact-dup fingerprints, persisted once per (session,
    table) — the ingest-time artifact both the Bloom gate and the
    incremental dedup's exact path read; without it each consumer re-scans
    the corpus and re-hashes the full text per use."""
    from nyc_taxi_pyspark_spark.operators.text import fingerprint

    return STATE.get(
        "text.fp_layout",
        spark,
        sf_dir,
        lambda: _docs(spark, sf_dir).select("doc_id", fingerprint().alias("fp")),
    )


_BLOOM_M = 16384  # bit-array size
_BLOOM_K = 4  # hash functions


def _duck_bloom_bit(expr: str) -> str:
    """Horner fold of the first 8 md5 hex digits of ``expr`` mod M — the
    DuckDB twin of conv(substring(md5(x),1,8),16,10) % M (same idiom as
    corpus mixture bucketing, modulus applied at each step)."""
    return (
        f"list_reduce(list_transform(split(md5({expr})[1:8], ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        f"(acc, x) -> (acc * 16 + x) % {_BLOOM_M})"
    )


@query(
    "corpus_bloom_prefilter",
    oracle=f"""
    WITH split AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS s FROM documents),
    base AS (SELECT md5(d.text) AS fp FROM documents d, split WHERE d.doc_id < s),
    batch AS (
        SELECT d.doc_id, md5(d.text) AS fp
        FROM documents d, split WHERE d.doc_id >= s
    ),
    hseeds AS (SELECT i FROM (VALUES {', '.join(f'({i})' for i in range(_BLOOM_K))}) AS v(i)),
    base_bits AS (
        SELECT DISTINCT {_duck_bloom_bit("CAST(h.i AS VARCHAR) || '|' || base.fp")} AS bit
        FROM base, hseeds h
    ),
    probe AS (
        SELECT b.doc_id,
               {_duck_bloom_bit("CAST(h.i AS VARCHAR) || '|' || b.fp")} AS bit
        FROM batch b, hseeds h
    ),
    flags AS (
        SELECT p.doc_id,
               CAST(SUM(CASE WHEN bb.bit IS NOT NULL THEN 1 ELSE 0 END)
                    = {_BLOOM_K} AS INTEGER) AS maybe_present
        FROM probe p LEFT JOIN base_bits bb ON p.bit = bb.bit
        GROUP BY p.doc_id
    )
    SELECT f.doc_id, f.maybe_present,
           CAST(bf.fp IS NOT NULL AS INTEGER) AS is_exact_dup
    FROM flags f
    JOIN batch bt ON bt.doc_id = f.doc_id
    LEFT JOIN (SELECT DISTINCT fp FROM base) bf ON bf.fp = bt.fp
    """,
)
def corpus_bloom_prefilter(spark, sf_dir):
    """Deterministic Bloom-filter pre-filter for incremental ingest: the
    base corpus's exact-dup fingerprints populate a {_BLOOM_M}-bit /
    {_BLOOM_K}-hash Bloom set; each incoming doc probes it and is flagged
    ``maybe_present`` (all K bits set) next to the ground-truth
    ``is_exact_dup`` — so the false-positive behavior is measured, and the
    no-false-negative contract (every exact dup is maybe_present) is
    testable.

    At 100 TB this is the cheap gate BEFORE the band join of
    ``corpus_incremental_dedup``: the bit set is tiny (≤ M rows of
    positions, broadcast to every executor), the probe is a per-row
    hash + broadcast semi-join — no shuffle of the batch, no touch of the
    base beyond its ingest-time fingerprints. md5-derived bit positions
    (same Horner-fold idiom as corpus mixture bucketing) keep the whole
    structure engine-portable and hash-checkable."""
    fps = _fp_layout(spark, sf_dir)
    # the base/batch split point and the populated bit set are BUILD-time
    # state of the Bloom gate (the docstring's "ingest-time fingerprints"
    # story): both derive solely from the persisted fp layout, so
    # re-counting the corpus and re-exploding the base side's K bits per
    # probe call was pure per-invocation tax
    split = STATE.get(
        "text.bloom_split", spark, sf_dir, lambda: fps.count() // 2
    )
    base_fps = fps.filter(F.col("doc_id") < split).select("fp")
    batch = fps.filter(F.col("doc_id") >= split).select("doc_id", "fp")

    def bloom_bit(fp: F.Column, i: int) -> F.Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}|"), fp)), 1, 8), 16, 10)
            .cast("bigint")
            % _BLOOM_M
        )

    base_bits = STATE.get(
        "text.bloom_bits",
        spark,
        sf_dir,
        lambda: base_fps.select(
            F.explode(
                F.array(*[bloom_bit(F.col("fp"), i) for i in range(_BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
        .withColumn("present", F.lit(1)),
    )
    probe = batch.select(
        "doc_id",
        F.explode(
            F.array(*[bloom_bit(F.col("fp"), i) for i in range(_BLOOM_K)])
        ).alias("bit"),
    )
    flags = (
        probe.join(F.broadcast(base_bits), "bit", "left")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.coalesce(F.col("present"), F.lit(0))) == _BLOOM_K)
            .cast("int")
            .alias("maybe_present")
        )
    )
    exact = base_fps.distinct().withColumn("is_base", F.lit(1))
    return (
        flags.join(batch, "doc_id")
        .join(F.broadcast(exact), "fp", "left")
        .select(
            "doc_id",
            "maybe_present",
            F.coalesce(F.col("is_base"), F.lit(0)).cast("int").alias("is_exact_dup"),
        )
    )


_CMS_W = 1024  # counters per row
_CMS_D = 4  # hash rows
_CMS_PROBES = ("spark", "join", "window", "scan", "merge", "vector", "the", "a")


def _duck_cms_bit(expr: str, mod: int) -> str:
    return (
        f"list_reduce(list_transform(split(md5({expr})[1:8], ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        f"(acc, x) -> (acc * 16 + x) % {mod})"
    )


@query(
    "text_cms_counts",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_DUCK_WORDS}) AS token FROM documents
    ),
    rows_ AS (SELECT r FROM (VALUES {', '.join(f'({r})' for r in range(_CMS_D))}) AS v(r)),
    sketch AS (
        SELECT r, {_duck_cms_bit("CAST(r AS VARCHAR) || '|' || token", _CMS_W)} AS b,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks, rows_
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT token FROM (VALUES {', '.join(f"('{t}')" for t in _CMS_PROBES)}) AS p(token)
    ),
    est AS (
        SELECT p.token, MIN(s.cnt) AS cms_count
        FROM probes p, rows_ r
        JOIN sketch s
          ON s.r = r.r
         AND s.b = {_duck_cms_bit("CAST(r.r AS VARCHAR) || '|' || p.token", _CMS_W)}
        GROUP BY p.token
    ),
    truth AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM toks WHERE token IN (SELECT token FROM probes)
        GROUP BY token
    )
    SELECT e.token, e.cms_count, t.true_count,
           CAST(e.cms_count - t.true_count AS BIGINT) AS overestimate
    FROM est e JOIN truth t USING (token)
    """,
)
def text_cms_counts(spark, sf_dir):
    """Count-min sketch over the token stream ({_CMS_D} hash rows ×
    {_CMS_W} counters, md5 Horner-fold buckets) with its estimate checked
    against the exact count for a fixed probe vocabulary — the streaming
    frequency sketch next to HLL (distinct) and Bloom (membership), with
    the one-sided error (estimate ≥ truth, measured as ``overestimate``)
    visible in the output.

    Plan: one explode + one (row, bucket) groupBy builds the whole sketch
    (≤ D·W rows — broadcastable state, the point of the sketch); probes
    join it by computed bucket. At 100 TB the sketch is a map-side-combined
    aggregation whose result fits in one executor's L2 — mergeable across
    partitions/days by counter addition."""
    toks = _docs(spark, sf_dir).select(F.explode(tokens()).alias("token"))

    def bucket(token: F.Column, r_col: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(r_col.cast("string"), F.lit("|"), token)), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _CMS_W
        )

    rows_ = F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r")
    sketch = (
        toks.select("token", rows_)
        .select("r", bucket(F.col("token"), F.col("r")).alias("b"))
        .groupBy("r", "b")
        .agg(F.count("*").alias("cnt"))
    )
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_PROBES])).alias("token")
    )
    est = (
        probes.select("token", rows_)
        .withColumn("b", bucket(F.col("token"), F.col("r")))
        .join(sketch, ["r", "b"])
        .groupBy("token")
        .agg(F.min("cnt").alias("cms_count"))
    )
    truth = (
        toks.filter(F.col("token").isin(*_CMS_PROBES))
        .groupBy("token")
        .agg(F.count("*").alias("true_count"))
    )
    return est.join(truth, "token").select(
        "token",
        "cms_count",
        "true_count",
        (F.col("cms_count") - F.col("true_count")).cast("bigint").alias("overestimate"),
    )


def _incremental_dedup_oracle() -> str:
    """Twin of the incremental-ingest dedup: the near set is the full
    banded pair set restricted to boundary-crossing pairs — identical to
    the asymmetric band join because a base×incoming pair always has
    doc_a < split <= doc_b and the banding/verification are shared."""
    return f"""
    WITH split AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS s FROM documents),
    inc AS (SELECT d.doc_id, d.text FROM documents d, split WHERE d.doc_id >= s),
    base AS (SELECT d.doc_id, d.text FROM documents d, split WHERE d.doc_id < s),
    exact AS (
        SELECT DISTINCT i.doc_id FROM inc i JOIN base b ON md5(i.text) = md5(b.text)
    ),
    near AS (
        SELECT DISTINCT p.doc_b AS doc_id
        FROM ({_near_dup_oracle()}) p, split
        WHERE p.doc_a < split.s AND p.doc_b >= split.s
    )
    SELECT i.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status
    FROM inc i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.doc_id = i.doc_id
    """


@query("corpus_incremental_dedup", oracle=_incremental_dedup_oracle())
def corpus_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup — the daily-crawl shape: the lower half of
    ``documents`` (by doc_id) plays the already-ingested base corpus, the
    upper half the incoming batch. Every incoming doc is classified
    'exact_dup' (fingerprint matches a base doc), 'near_dup' (word-trigram
    MinHash-LSH candidate vs the BASE ONLY, exact Jaccard ≥ 0.5), or
    'kept' — exact-match precedence.

    The near path is :func:`operators.text.asymmetric_near_dup_pairs`: the
    band join crosses the boundary only, so batch cost is O(batch ×
    collisions) — no base×base work, the property that keeps daily ingest
    flat as the corpus grows. The split point is a driver-side metadata
    count inlined as a literal (same discipline as TF-ICF's N)."""
    from nyc_taxi_pyspark_spark.operators.text import (
        asymmetric_near_dup_pairs,
        minhash_layout,
    )

    d = _docs(spark, sf_dir)
    split = _n_docs(spark, sf_dir) // 2  # session metadata scalar (r16)
    inc = d.filter(F.col("doc_id") >= split)
    fps = _fp_layout(spark, sf_dir)
    exact = (
        fps.filter(F.col("doc_id") >= split)
        .join(
            fps.filter(F.col("doc_id") < split).select("fp").distinct(), "fp"
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(1))
    )
    near = (
        asymmetric_near_dup_pairs(
            minhash_layout(d),
            base_pred=F.col("doc_id") < split,
            inc_pred=F.col("doc_id") >= split,
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact").isNotNull(), "exact_dup")
            .when(F.col("is_near").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


_TFIDF_TOPM = 32  # truncated sparse vector: top-m terms per doc by weight
_TFIDF_DF_FRAC = 20.0  # drop terms appearing in more than N/20 docs
_TFIDF_MIN_COS = 0.5


def _tfidf_vectors(spark, sf_dir):
    """Truncated quantized TF-IDF vectors — the shared postings layout.

    Weight = FLOOR(tf·N/df · 100 + 0.5) as int64 (the rational-idf family
    of text_tficf_topk: no ln(), so the quantized weight is the identical
    double→floor on both engines). Terms with df > N/20 are dropped — the
    stop-term postings lists are exactly the ones whose self-join blows up
    quadratically at scale, and their idf weight is near-zero anyway. Each
    doc then keeps its top-32 terms (weight desc, token asc): bounded
    postings per doc, bounded docs per term ⇒ the pair join is bounded on
    both sides. Built once per session (ingest-time layout at 100 TB)."""

    def build():
        d = _docs(spark, sf_dir)
        nn = d.count()
        toks = d.select("doc_id", F.explode(tokens()).alias("token"))
        tf = toks.groupBy("doc_id", "token").agg(
            F.count("*").cast("bigint").alias("tfc")
        )
        df_ = tf.groupBy("token").agg(
            F.count("*").cast("bigint").alias("dfc")
        )
        w = (
            tf.join(df_, "token")
            .filter(
                F.col("dfc").cast("double")
                <= F.lit(float(nn)) / F.lit(_TFIDF_DF_FRAC)
            )
            .select(
                "doc_id",
                "token",
                F.floor(
                    (F.col("tfc") * F.lit(nn)).cast("double")
                    / F.col("dfc").cast("double")
                    * F.lit(100.0)
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("wq"),
            )
        )
        from pyspark.sql import Window

        rk = F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.desc("wq"), "token")
        )
        return w.withColumn("__rk", rk).filter(
            F.col("__rk") <= _TFIDF_TOPM
        ).drop("__rk")

    return STATE.get("text.tfidf", spark, sf_dir, build)


@query(
    "text_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(w) AS token
        FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tfc
        FROM toks GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY token
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    w AS (
        SELECT doc_id, token,
               CAST(FLOOR(CAST(tfc * nn AS DOUBLE) / CAST(dfc AS DOUBLE)
                          * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                    AS BIGINT) AS wq
        FROM tf JOIN df USING (token), n
        WHERE CAST(dfc AS DOUBLE)
              <= CAST(nn AS DOUBLE) / CAST({_TFIDF_DF_FRAC} AS DOUBLE)
    ),
    top AS (
        SELECT doc_id, token, wq FROM (
            SELECT doc_id, token, wq,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY wq DESC, token) AS rk
            FROM w
        ) WHERE rk <= {_TFIDF_TOPM}
    ),
    nrm AS (SELECT doc_id, SUM(wq * wq) AS sq FROM top GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               SUM(a.wq * b.wq) AS dt
        FROM top a JOIN top b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(dt AS DOUBLE) / (SQRT(CAST(na.sq AS DOUBLE))
                                 * SQRT(CAST(nb.sq AS DOUBLE)))
               AS cosine_sim
    FROM dots
    JOIN nrm na ON na.doc_id = doc_a
    JOIN nrm nb ON nb.doc_id = doc_b
    WHERE CAST(dt AS DOUBLE) / (SQRT(CAST(na.sq AS DOUBLE))
                                * SQRT(CAST(nb.sq AS DOUBLE)))
          >= CAST({_TFIDF_MIN_COS} AS DOUBLE)
    ORDER BY doc_a, doc_b
    """,
)
def text_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse TF-IDF cosine document pairs via the inverted index — the
    embedding-free near-dup/similarity path that scales when vectors
    don't exist yet: postings self-join on the TERM (an equi-join, never
    a doc×doc cross), partial dot products aggregated per pair, norms
    joined back, threshold at {mincos}.

    Scale discipline (all in the shared _tfidf_vectors layout): stop
    terms (df > N/{frac:.0f}) are dropped BEFORE the join — a term in k
    docs contributes k² pair terms, so the head of the df distribution
    is precisely what must not reach the self-join; each doc keeps its
    top-{topm} weighted terms, bounding the other side. dot and norms
    are exact int64 sums of quantized weights (order-independent), the
    one cosine division is mirrored, so the hash gate applies end to
    end.""".format(
        mincos=_TFIDF_MIN_COS, frac=_TFIDF_DF_FRAC, topm=_TFIDF_TOPM
    )
    top = _tfidf_vectors(spark, sf_dir)
    nrm = top.groupBy("doc_id").agg(
        F.sum(F.col("wq") * F.col("wq")).alias("sq")
    )
    a = top.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("wq").alias("wa")
    )
    b = top.select(
        F.col("doc_id").alias("doc_b"), "token", F.col("wq").alias("wb")
    )
    dots = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dt"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("sq").alias("sqa"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("sq").alias("sqb"))
    cos = F.col("dt").cast("double") / (
        F.sqrt(F.col("sqa").cast("double"))
        * F.sqrt(F.col("sqb").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= F.lit(_TFIDF_MIN_COS))
        .select("doc_a", "doc_b", cos.alias("cosine_sim"))
        .orderBy("doc_a", "doc_b")
    )


def _syndication_oracle() -> str:
    from nyc_taxi_pyspark_spark.operators.graph import oracle_pagerank_cte

    n_expr = "(SELECT COUNT(DISTINCT source) FROM documents)"
    return f"""
    WITH {_near_dup_pairs_cte()},
    srcmap AS (SELECT doc_id, source FROM documents),
    cross_pairs AS (
        SELECT sa.source AS s_a, sb.source AS s_b
        FROM ndpairs p
        JOIN srcmap sa ON sa.doc_id = p.doc_a
        JOIN srcmap sb ON sb.doc_id = p.doc_b
        WHERE sa.source <> sb.source
    ),
    edges AS MATERIALIZED (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
            SELECT s_a AS src, s_b AS dst FROM cross_pairs
            UNION ALL
            SELECT s_b AS src, s_a AS dst FROM cross_pairs
        ) GROUP BY src, dst
    ),
    gnodes AS MATERIALIZED (SELECT DISTINCT source AS node FROM documents),
    {oracle_pagerank_cte("edges", "gnodes", n_expr, iterations=5)}
    SELECT node AS source, ru AS rank_micro,
           CAST(ru AS DOUBLE) / 1e12 AS rank
    FROM r5 ORDER BY rank_micro DESC, source
    """


@query("source_syndication_rank", oracle=_syndication_oracle())
def source_syndication_rank(spark, sf_dir):
    """Domain centrality over the content-syndication graph — the
    crawl-curation ranking step (CommonCrawl-style pipelines rank domains
    by link/duplication centrality before sampling): near-duplicate doc
    pairs (the persisted MinHash-LSH pair layout) aggregate to a weighted
    cross-source graph, and 5 iterations of weighted PageRank (d=0.85)
    rank the sources. A source that repeatedly shares content with many
    well-connected sources ranks high — a syndication hub.

    Scale + determinism: each iteration is one edges⋈ranks join + one
    keyed aggregate — O(edges) shuffle work, no driver state beyond the
    node count (operators/graph.pagerank_int). Ranks live in int64
    micro-units with truncating integer division at every step, so five
    iterations stay bit-identical across engines and partitionings; the
    oracle unrolls the same five updates as CTEs (the embed_ivf_train
    discipline applied to PageRank)."""
    from nyc_taxi_pyspark_spark.operators.graph import pagerank_int

    # Persist the (tiny) graph before iterating: each unrolled PageRank
    # iteration references edges and nodes once, and without a persisted
    # cut-point Spark would replay the whole LSH pair pipeline 5× over
    # (measured 222 s → ~2 s). At 100 TB this is the materialized domain
    # graph every downstream ranking job shares.
    def build_edges():
        pairs = _near_dup_pairs_cached(spark, sf_dir).select(
            "doc_a", "doc_b"
        )
        srcmap = _docs(spark, sf_dir).select("doc_id", "source")
        sa = srcmap.select(
            F.col("doc_id").alias("doc_a"), F.col("source").alias("s_a")
        )
        sb = srcmap.select(
            F.col("doc_id").alias("doc_b"), F.col("source").alias("s_b")
        )
        cross = (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(F.col("s_a") != F.col("s_b"))
            .select("s_a", "s_b")
        )
        return (
            cross.select(
                F.col("s_a").alias("src"), F.col("s_b").alias("dst")
            )
            .unionAll(
                cross.select(
                    F.col("s_b").alias("src"), F.col("s_a").alias("dst")
                )
            )
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        )

    edges = STATE.get("text.syndication_edges", spark, sf_dir, build_edges)
    nodes = STATE.get(
        "text.syndication_nodes",
        spark,
        sf_dir,
        lambda: _docs(spark, sf_dir)
        .select(F.col("source").alias("node"))
        .distinct(),
    )
    # node count is SESSION STATE beside the persisted node layout (the
    # kcore r14 discipline): it derives solely from the cached frame, so
    # re-counting it per invocation is a pure driver-job tax on every call
    n_nodes = STATE.get("text.syndication_n", spark, sf_dir, nodes.count)
    if n_nodes == 0:
        # empty corpus: a well-typed empty ranking, not a div-by-zero
        return spark.createDataFrame(
            [], "source string, rank_micro bigint, rank double"
        )
    if n_nodes <= 10_000:
        # small-graph fast path: a domain-level graph has tens-to-thousands
        # of nodes, so the per-iteration cost is TASK SCHEDULING (32-way
        # shuffles of near-empty partitions), not data. Single-partition
        # iteration frames cut that overhead ~25%; the integer-exact update
        # rule makes ranks partition-count-invariant (pytest-pinned), and a
        # web-scale page graph (n >> 10k) keeps the partitioned path.
        edges, nodes = edges.coalesce(1), nodes.coalesce(1)
    # local[32] uses the default localCheckpoint lineage cut; a real
    # 1000-executor run passes checkpoint_dir=<hdfs/s3 URI> so per-round
    # state survives executor loss (operators/iterative.py).
    ranks = pagerank_int(edges, nodes, n_nodes, iterations=5)
    return ranks.select(
        F.col("node").alias("source"), "rank_micro", "rank"
    ).orderBy(F.desc("rank_micro"), "source")


def _minhash_calibration_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""
    WITH {_near_dup_pairs_cte()}
    SELECT p.doc_a, p.doc_b,
           CAST({agree} AS BIGINT) AS n_agree,
           CAST({agree} AS DOUBLE) / CAST({N_HASHES} AS DOUBLE)
               AS est_jaccard,
           p.jaccard AS exact_jaccard,
           ABS(CAST({agree} AS DOUBLE) / CAST({N_HASHES} AS DOUBLE)
               - p.jaccard) AS abs_err
    FROM ndpairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@query("text_minhash_calibration", oracle=_minhash_calibration_oracle())
def text_minhash_calibration(spark, sf_dir):
    """MinHash estimator calibration: for every verified near-dup pair,
    the signature-agreement estimate of Jaccard (matching lanes /
    N_HASHES — the unbiased MinHash estimator) beside the exact shingle
    Jaccard, with the absolute error. This is the measurement that tells
    a dedup operator whether the 8-lane signature is discriminative
    enough before trusting signature-only shortcuts at 100 TB (where
    exact verification is the expensive step you want to skip for
    obvious duplicates). The pair set is the persisted LSH layout; the
    signature scan is one narrow projection; the (bounded) pair set
    broadcasts into both signature joins. Agreement counts are exact
    integers, the estimate an exact small rational — hash-checkable end
    to end."""
    pairs = _near_dup_pairs_cached(spark, sf_dir)
    sigs = with_minhash_signature(
        _docs(spark, sf_dir).select("doc_id", "text")
    ).drop("text")
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(N_HASHES)],
    )
    agree = None
    for i in range(N_HASHES):
        t = F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    est = agree.cast("double") / F.lit(float(N_HASHES))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.cast("bigint").alias("n_agree"),
            est.alias("est_jaccard"),
            F.col("jaccard").alias("exact_jaccard"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _dedup_by_source_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_near_dup_oracle()})
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS t FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS t FROM pairs
    ),
    gnodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM gnodes
        UNION
        SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id
    ),
    clusters AS (
        SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.cluster_id IS NOT NULL
                          AND c.cluster_id <> d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN c.cluster_id IS NOT NULL
                          AND c.cluster_id <> d.doc_id
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS drop_rate
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """


@query("text_dedup_rate_by_source", oracle=_dedup_by_source_oracle())
def text_dedup_rate_by_source(spark, sf_dir):
    """Per-source dedup report: for every source (domain), how many docs
    the near-dup cluster-and-drop pass removes (non-canonical cluster
    members) and the resulting drop rate — the crawl-QA rollup that flags
    boilerplate-heavy or mirrored domains before sampling weights are
    set. The (tiny) cluster assignment left-joins the doc→source
    projection (Spark broadcasts the cluster side); one source-keyed
    aggregate. Exact counts, one deterministic division."""
    # direct scan, no parallelize_scan: this path reads (doc_id, source)
    # only — a round-robin repartition here was a full extra exchange
    # feeding a broadcast join that needs no distribution at all
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = text_dup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    dropped = (
        F.col("cluster_id").isNotNull()
        & (F.col("cluster_id") != F.col("doc_id"))
    ).cast("int")
    # size-guarded hint: the cluster frame is RDD-backed (post-checkpoint),
    # so Spark cannot estimate it and falls back to a sort-merge join of
    # the whole corpus against a dup-cluster-sized table
    return (
        docs.join(_dup_cc_hint(spark, sf_dir, clusters), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(dropped).cast("bigint").alias("n_dropped"),
            (F.sum(dropped).cast("double") / F.count(F.lit(1))).alias(
                "drop_rate"
            ),
        )
        .orderBy("source")
    )


@query("sql_dup_clusters_recursive", oracle=_dup_clusters_oracle())
def sql_dup_clusters_recursive(spark, sf_dir):
    """Near-dup cluster assignment via Spark 4's native RECURSIVE CTE —
    the same min-reachable-id fixpoint as text_dup_clusters, written as
    declarative SQL recursion instead of the hand-rolled large/small-star
    loop, and checked against the identical recursive DuckDB oracle. The
    pair graph is the persisted LSH layout registered as a temp view; the
    recursion's frontier is bounded by component diameter. The iterative
    operator (operators/text.connected_components, O(log n) rounds)
    remains the 100 TB path — naive reachability recursion materializes
    O(nodes x component-size) rows — but the SQL surface now covers
    recursion for the bounded-graph case."""
    pairs = _near_dup_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    pairs.createOrReplaceTempView("__dup_pairs")
    # Spark's recursive CTEs require UNION ALL, so naive reachability
    # would loop forever on this (undirected, hence cyclic) graph. Two
    # guards make it terminate: labels only propagate DOWNWARD
    # (reach.r < e.s — the min label is below every node on its path,
    # so min-propagation is unaffected) and a depth bound well past the
    # planted components' diameter. The oracle disagreeing would expose
    # a too-small bound.
    return spark.sql(
        """
        WITH RECURSIVE reach(id, r, lvl) AS (
            SELECT id, id, 0 FROM (
                SELECT DISTINCT doc_a AS id FROM __dup_pairs
                UNION
                SELECT DISTINCT doc_b AS id FROM __dup_pairs
            )
            UNION ALL
            SELECT e.s, reach.r, reach.lvl + 1 FROM (
                SELECT doc_a AS s, doc_b AS t FROM __dup_pairs
                UNION
                SELECT doc_b AS s, doc_a AS t FROM __dup_pairs
            ) e JOIN reach ON e.t = reach.id
            WHERE reach.r < e.s AND reach.lvl < 12
        )
        SELECT id AS doc_id, MIN(r) AS cluster_id,
               CAST(id = MIN(r) AS INT) AS is_canonical
        FROM reach GROUP BY id
        """
    )


def _dedup_funnel_oracle() -> str:
    return f"""
    WITH RECURSIVE {_near_dup_pairs_cte()},
    exact_survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    edges AS (
        SELECT p.doc_a AS s, p.doc_b AS t FROM ndpairs p
        JOIN exact_survivors a ON a.doc_id = p.doc_a
        JOIN exact_survivors b ON b.doc_id = p.doc_b
        UNION
        SELECT p.doc_b AS s, p.doc_a AS t FROM ndpairs p
        JOIN exact_survivors a ON a.doc_id = p.doc_a
        JOIN exact_survivors b ON b.doc_id = p.doc_b
    ),
    gnodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM gnodes
        UNION
        SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id
    ),
    clusters AS (SELECT id, MIN(r) AS lbl FROM reach GROUP BY id),
    near_dropped AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM clusters WHERE id <> lbl
    ),
    counts AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS raw,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_survivors)
                   AS after_exact,
               (SELECT n FROM near_dropped) AS near_drop
    )
    SELECT stage, n_docs, dropped FROM (
        SELECT 1 AS ord, 'raw' AS stage, raw AS n_docs,
               CAST(0 AS BIGINT) AS dropped FROM counts
        UNION ALL
        SELECT 2, 'exact_dedup', after_exact, raw - after_exact FROM counts
        UNION ALL
        SELECT 3, 'near_dedup', after_exact - near_drop, near_drop
        FROM counts
    ) ORDER BY ord
    """


@query("corpus_dedup_funnel", oracle=_dedup_funnel_oracle())
def corpus_dedup_funnel(spark, sf_dir):
    """End-to-end dedup funnel report: raw docs → exact-md5 survivors →
    MinHash-LSH near-dup survivors, with per-stage drop counts — the
    one-look observability table a dedup pipeline publishes after every
    run (stage ordering matters: near-dup clustering runs on the EXACT
    survivors, so the two stages never double-count a drop). Composes
    the existing stage operators: exact_dedup's min-id survivors filter
    both ends of the persisted pair layout, then the connected-components
    drop count. Output is three rows of exact integers."""
    from nyc_taxi_pyspark_spark.operators.text import connected_components

    docs = _docs(spark, sf_dir)
    raw = docs.agg(F.count(F.lit(1)).cast("bigint").alias("raw"))
    survivors = exact_dedup(docs).select("doc_id")
    after_exact = survivors.agg(
        F.count(F.lit(1)).cast("bigint").alias("after_exact")
    )
    pairs = (
        _near_dup_pairs_cached(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(survivors.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(survivors.withColumnRenamed("doc_id", "doc_b"), "doc_b")
    )
    cc = connected_components(pairs)
    near_drop = cc.filter(F.col("id") != F.col("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("near_drop")
    )
    counts = raw.join(F.broadcast(after_exact)).join(F.broadcast(near_drop))
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("ord"),
                    F.lit("raw").alias("stage"),
                    F.col("raw").alias("n_docs"),
                    F.lit(0).cast("bigint").alias("dropped"),
                ),
                F.struct(
                    F.lit(2).alias("ord"),
                    F.lit("exact_dedup").alias("stage"),
                    F.col("after_exact").alias("n_docs"),
                    (F.col("raw") - F.col("after_exact")).alias("dropped"),
                ),
                F.struct(
                    F.lit(3).alias("ord"),
                    F.lit("near_dedup").alias("stage"),
                    (F.col("after_exact") - F.col("near_drop")).alias(
                        "n_docs"
                    ),
                    F.col("near_drop").alias("dropped"),
                ),
            )
        ).alias("s")
    )
    return stages.select(
        F.col("s.ord").alias("__ord"), "s.stage", "s.n_docs", "s.dropped"
    ).orderBy("__ord").drop("__ord")


@query(
    "text_code_detection",
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text)
                    - length(regexp_replace(text, '[{};()=\\[\\]<>]', '', 'g'))
                    AS BIGINT) AS n_syntax,
               CAST(len(regexp_extract_all(text, '[a-z][A-Z]')) AS BIGINT)
                   AS n_camel,
               CAST(len(regexp_extract_all(text, '[a-zA-Z_]+_[a-zA-Z_]+'))
                    AS BIGINT) AS n_snake
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n_syntax, n_camel, n_snake,
           CAST(n_syntax * 1000 // n_chars AS BIGINT) AS syntax_permille,
           CAST(CASE WHEN (n_syntax * 1000 // n_chars) >= 20
                      AND (n_camel + n_snake) >= 3
                     THEN 1 ELSE 0 END AS INTEGER) AS looks_like_code
    FROM feats ORDER BY doc_id
    """,
)
def text_code_detection(spark, sf_dir):
    """Code-vs-prose detection — the corpus-curation signal that routes
    documents to a code pipeline (different dedup granularity, different
    quality rules) or filters them from a prose corpus: syntax-character
    density (braces/semicolons/brackets per mille, integer division) and
    identifier-convention counts (camelCase, snake_case) from regexp
    counts. Pure row-local integer features — one scan, no shuffle
    before the ORDER BY — and the rule threshold is integer arithmetic,
    so the verdict column hash-checks. On this synthetic corpus nothing
    should fire; the thresholds are the real ones (≈2 % syntax chars +
    ≥3 identifiers), so the query doubles as a false-positive audit."""
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    n_chars = F.length("text").cast("bigint")
    n_syntax = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"[{};()=\[\]<>]", ""))
    ).cast("bigint")
    n_camel = F.size(
        F.expr(r"regexp_extract_all(text, '[a-z][A-Z]', 0)")
    ).cast("bigint")
    n_snake = F.size(
        F.expr(r"regexp_extract_all(text, '[a-zA-Z_]+_[a-zA-Z_]+', 0)")
    ).cast("bigint")
    feats = d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_syntax.alias("n_syntax"),
        n_camel.alias("n_camel"),
        n_snake.alias("n_snake"),
    )
    permille = F.expr("(n_syntax * 1000) div n_chars")
    return (
        feats.select(
            "doc_id",
            "n_syntax",
            "n_camel",
            "n_snake",
            permille.cast("bigint").alias("syntax_permille"),
            F.when(
                (permille >= 20) & ((F.col("n_camel") + F.col("n_snake")) >= 3),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("looks_like_code"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    SELECT lang AS true_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ({_lang_id_oracle()})
    GROUP BY lang, predicted_lang
    ORDER BY true_lang, predicted_lang
    """,
)
def text_langid_confusion(spark, sf_dir):
    """Classifier-eval rollup: the language-ID confusion matrix
    (true × predicted counts) over the stopword-profile classifier — the
    table that tells a curation pipeline WHICH language pairs leak into
    each other before it trusts per-language routing. One extra 25-cell
    aggregate on top of the row-level predictions; deterministic because
    the classifier's argmax tie order is fixed."""
    preds = text_lang_id(spark, sf_dir)
    return (
        preds.groupBy(
            F.col("lang").alias("true_lang"), "predicted_lang"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_lang", "predicted_lang")
    )


@query(
    "text_dedup_threshold_sweep",
    oracle=f"""
    WITH {_near_dup_pairs_cte()},
    th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
    SELECT th.threshold,
           CAST(SUM(CASE WHEN p.jaccard >= th.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN p.jaccard >= th.threshold
                                    THEN p.doc_b END) AS BIGINT)
               AS n_docs_droppable
    FROM th, ndpairs p
    GROUP BY th.threshold ORDER BY th.threshold
    """,
)
def text_dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold tuning table: how many near-dup pairs (and how
    many higher-id docs become droppable) survive at each Jaccard cutoff
    from 0.5 to 0.9 — the sweep an operator reads before committing to a
    threshold, computed from ONE persisted pair layout instead of five
    re-runs (the layout's band join has a 0.5 floor, so the sweep covers
    thresholds at or above it; lower floors need wider LSH bands by
    design). The droppable-doc count uses the conservative
    keep-the-smaller-id rule pairwise; exact cluster-based drops at each
    threshold come from re-running the components (text_dup_clusters) at
    that cutoff."""
    pairs = _near_dup_pairs_cached(spark, sf_dir)
    th = F.explode(
        F.array(*[F.lit(t) for t in (0.5, 0.6, 0.7, 0.8, 0.9)])
    ).alias("threshold")
    crossed = pairs.select("doc_b", "jaccard").crossJoin(
        pairs.sparkSession.range(1).select(th)
    )
    hit = F.col("jaccard") >= F.col("threshold")
    return (
        crossed.groupBy("threshold")
        .agg(
            F.sum(hit.cast("int")).cast("bigint").alias("n_pairs"),
            F.count_distinct(F.when(hit, F.col("doc_b")))
            .cast("bigint")
            .alias("n_docs_droppable"),
        )
        .orderBy("threshold")
    )


@query(
    "text_doc_surprisal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS token FROM documents
    ),
    vocab AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens FROM toks)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(length(bin(tot.total_tokens)) - length(bin(v.cnt)))
                AS BIGINT) AS sum_bits,
           CAST(SUM(length(bin(tot.total_tokens)) - length(bin(v.cnt)))
                AS DOUBLE) / COUNT(*) AS mean_bits
    FROM toks t JOIN vocab v USING (token), tot
    GROUP BY t.doc_id
    """,
)
def text_doc_surprisal(spark, sf_dir):
    """Log-domain unigram-LM surprisal per document — the other half of
    the perplexity-filtering family next to ``text_unigram_rarity``
    (probability-domain). CCNet-style filtering scores each doc by mean
    -log p(token) under a corpus LM and drops the tails; the engine-
    portable trick here is an INTEGER log2: floor(log2 n) computed as
    ``length(bin(n)) - 1`` — the bit length of the count — identical by
    construction on the JVM and DuckDB (no libm, no last-ULP drift).
    Token surprisal is then bitlen(total_tokens) - bitlen(count(t)) ≈
    -log2 p(t) in whole bits; rare tokens contribute more, and the
    per-doc mean is ONE final double division of two exact ints (both
    < 2^53).

    Plan: same 3-shuffle shape as text_unigram_rarity — explode → vocab
    count [map-side combined] → join back on token → per-doc agg; the
    1-row total broadcasts. At 100 TB the vocab table is the Zipf-heavy
    side: the token join is skew-prone on stopwords, which AQE skew-join
    handles (or pre-salt the top-k tokens as skew_salted_agg shows)."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens()).alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").cast("bigint").alias("cnt"))
    # total rides the vocab aggregate (r16, guide §2.3): COUNT(*) over the
    # token stream == SUM(cnt) over vocab exactly, so the third full
    # tokenize+explode pass the separate total aggregate paid is gone
    # (interleaved A/B 0.968 → 0.854 on the surprisal twin, bit-identical)
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("total_tokens"))
    bits = F.length(F.bin(F.col("total_tokens"))) - F.length(
        F.bin(F.col("cnt"))
    )
    return (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(bits).cast("bigint").alias("sum_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_bits",
            (F.col("sum_bits").cast("double") / F.col("n_tokens")).alias(
                "mean_bits"
            ),
        )
    )


_SPAN_K = 8  # anchor n-gram width (tokens) for duplicate-span detection


@query(
    "text_duplicate_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(range(1, GREATEST(len(w) - {_SPAN_K - 1}, 0) + 1))
                   AS pos,
               unnest(list_transform(
                   range(1, GREATEST(len(w) - {_SPAN_K - 1}, 0) + 1),
                   i -> array_to_string(w[i : i + {_SPAN_K - 1}], ' ')))
                   AS gram
        FROM t
    ),
    dup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   COUNT(*) OVER (PARTITION BY gram) AS n_occ
            FROM g
        ) WHERE n_occ > 1
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(CASE WHEN prev IS NULL
                             OR pos - prev > {_SPAN_K} THEN 1
                        ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM (
            SELECT doc_id, pos,
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM dup
        )
    ),
    spans AS (
        SELECT doc_id, island,
               MIN(pos) AS s, MAX(pos) AS e
        FROM isl GROUP BY doc_id, island
    ),
    perdoc AS (
        SELECT doc_id,
               COUNT(*) AS n_dup_spans,
               SUM(e - s + {_SPAN_K}) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_dup_spans, 0) AS INTEGER) AS n_dup_spans,
           CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
               / len({_DUCK_WORDS}) AS dup_share
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
    ORDER BY dup_share DESC, doc_id LIMIT 100
    """,
)
def text_duplicate_spans(spark, sf_dir):
    """Exact duplicate-SPAN detection — the substring-level half of exact
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): instead of dropping whole duplicate documents, find
    the maximal token spans whose content occurs more than once anywhere
    in the corpus (cross-doc boilerplate or in-doc repetition) so a
    curation pipeline can cut the spans and keep the unique remainder.

    Suffix-array semantics approximated by fixed-width anchors: every
    {_SPAN_K}-token gram is a candidate anchor; a position is duplicated
    iff its gram occurs >1 time corpus-wide; per doc, duplicated
    positions whose token intervals [pos, pos+{_SPAN_K}-1] overlap or
    touch (gap <= {_SPAN_K}) merge into maximal spans (gaps-and-islands
    window). Emits per-doc span count, covered-token count, and the
    duplicated-token share that a span-cut pass would remove.

    Plan/scale: gram construction is array-native per row (sequence +
    slice — no explode of K copies of every token, no window chain of
    K-1 lags); the only corpus-wide exchange is the gram-frequency
    window, which shuffles on the gram key exactly once (at 100 TB,
    shuffle md5(gram) instead of the raw 8-token string to cut exchange
    bytes ~4x; same key semantics). Island merging is a doc-partitioned
    window — embarrassingly parallel across docs. Output is the top-100
    by duplicated share (TakeOrdered, no global materialization)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = tokens()
    wcol = F.col("w")
    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(wcol) - (_SPAN_K - 1), F.lit(0))
        ),
        lambda i: F.concat_ws(" ", F.slice(wcol, i, _SPAN_K)),
    )
    g = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= _SPAN_K)
        .select("doc_id", F.posexplode(grams).alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    )
    wg = Window.partitionBy("gram")
    dup = (
        g.withColumn("n_occ", F.count("*").over(wg))
        .filter(F.col("n_occ") > 1)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        dup.withColumn("prev", F.lag("pos").over(wd))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > _SPAN_K),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    perdoc = (
        isl.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("pos").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + _SPAN_K)
            .cast("bigint")
            .alias("dup_tokens"),
        )
    )
    return (
        d.select("doc_id", F.size(w).cast("bigint").alias("n_tokens"))
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias(
                "dup_tokens"
            ),
            "n_tokens",
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_share"),
        )
        .orderBy(F.desc("dup_share"), "doc_id")
        .limit(100)
    )


@query(
    "text_novelty_curve",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, GREATEST(len(w) - {_SPAN_K - 1}, 0) + 1),
                       i -> array_to_string(w[i : i + {_SPAN_K - 1}], ' ')))
                       AS gram
            FROM t
        )
    ),
    first_doc AS (
        SELECT gram, MIN(doc_id) AS fd FROM g GROUP BY gram
    ),
    perdoc AS (
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
               CAST(SUM(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM g JOIN first_doc f USING (gram)
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_distinct_grams, n_novel,
           CAST(n_novel AS DOUBLE) / n_distinct_grams AS novelty_share,
           CAST(SUM(n_novel) OVER (ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_novel
    FROM perdoc ORDER BY doc_id
    """,
)
def text_novelty_curve(spark, sf_dir):
    """Corpus novelty curve: per document (in ingest = doc_id order), how
    many of its distinct 8-gram passages appear here for the FIRST time
    corpus-wide, plus the running total of novel grams — the saturation
    signal data-curation teams watch to decide when another crawl of the
    same sources stops adding content (novelty_share trending to 0 ==
    the marginal document is all re-seen passages). Complements
    text_duplicate_spans: spans localize WHAT is duplicated, this curve
    tracks WHEN the corpus stopped being new.

    First occurrence = minimum doc_id owning the gram — a keyed MIN
    aggregate, not a window over a global order, so the wide work is one
    gram-key shuffle (map-side combined) + one join back on the gram key.
    The (gram → first owner) table persists once per session
    ("text.first_doc") because TWO branches consume it — the doc join and
    the per-cell novel totals — and at 100 TB it is the ingest-time
    artifact a crawler maintains anyway. The cumulative curve over the
    per-doc aggregate is TWO-TIER (the Gini global-rank discipline):
    doc_ids bucket into 1024-wide cells, one count per cell takes the
    exclusive prefix on the 1/1024-sized cell frame (universe from a
    min/max scan, so zero-novelty cells still carry their offset), and a
    PARTITIONED within-cell prefix finishes the sum — the single-task
    stage shrinks from corpus cardinality to corpus/1024 (recurse the
    same split if even that tier outgrows a task). All counts exact
    int64; the one division is the display share."""
    d = _docs(spark, sf_dir)
    wcol = F.col("w")
    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(wcol) - (_SPAN_K - 1), F.lit(0))
        ),
        lambda i: F.concat_ws(" ", F.slice(wcol, i, _SPAN_K)),
    )
    first_doc = STATE.get(
        "text.first_doc",
        spark,
        sf_dir,
        lambda: (
            d.select("doc_id", tokens().alias("w"))
            .filter(F.size("w") >= _SPAN_K)
            .select(
                "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
            )
            .groupBy("gram")
            .agg(F.min("doc_id").alias("fd"))
        ),
    )
    # perdoc without the exploded gram stream (r16, guide §2.3/§2.4 —
    # VERDICT r15 item 6): n_distinct_grams is a per-row array expression
    # (no explode, no shuffle), and n_novel is a keyed count over the
    # session-persisted first-owner table alone — a gram owned first by
    # doc d is exactly one first_doc row with fd = d. The old shape
    # re-exploded every document's grams and shuffled the whole stream
    # through a gram-key join per call; the only wide work left is one
    # doc-keyed aggregate over first_doc (a ReusedExchange branch also
    # feeds the per-cell totals below).
    base = (
        d.select("doc_id", tokens().alias("w"))
        .filter(F.size("w") >= _SPAN_K)
        .select(
            "doc_id",
            F.size(F.array_distinct(grams))
            .cast("bigint")
            .alias("n_distinct_grams"),
        )
    )
    nov = first_doc.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    perdoc = base.join(nov, "doc_id", "left").select(
        "doc_id",
        "n_distinct_grams",
        F.coalesce("n_novel", F.lit(0).cast("bigint")).alias("n_novel"),
    )
    from pyspark.sql import Window

    perdoc = perdoc.withColumn(
        "cell", F.floor(F.col("doc_id") / F.lit(1024)).cast("bigint")
    )
    # per-cell novel totals come from first_doc alone (every novel gram is
    # one first_doc row at its owning doc): a branch off the already-
    # shuffled gram aggregate (ReusedExchange), never a second pass over
    # the exploded gram stream or the doc-level join. The cell UNIVERSE
    # comes from one cheap min/max scan of the raw docs table so cells
    # whose docs produced zero novel grams still carry a prefix offset.
    bc = first_doc.groupBy(
        F.floor(F.col("fd") / F.lit(1024)).cast("bigint").alias("cell")
    ).agg(F.count(F.lit(1)).alias("bc"))
    universe = (
        d.agg(
            F.floor(F.min("doc_id") / F.lit(1024)).cast("bigint").alias("lo"),
            F.floor(F.max("doc_id") / F.lit(1024)).cast("bigint").alias("hi"),
        )
        .filter(F.col("lo").isNotNull())
        .select(F.explode(F.sequence("lo", "hi")).alias("cell"))
    )
    w_cell = Window.orderBy("cell").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cells = universe.join(bc, "cell", "left").select(
        "cell",
        F.coalesce(
            F.sum(F.coalesce("bc", F.lit(0))).over(w_cell), F.lit(0)
        ).alias("below"),
    )
    w_cum = (
        Window.partitionBy("cell")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        perdoc.join(F.broadcast(cells), "cell")
        .select(
            "doc_id",
            "n_distinct_grams",
            "n_novel",
            (
                F.col("n_novel").cast("double") / F.col("n_distinct_grams")
            ).alias("novelty_share"),
            (F.col("below") + F.sum("n_novel").over(w_cum))
            .cast("bigint")
            .alias("cum_novel"),
        )
        .orderBy("doc_id")
    )


_SEARCH_PHRASE = "spark join"


def _phrase_trigrams(phrase: str) -> list[str]:
    return sorted({phrase[i : i + 3] for i in range(len(phrase) - 2)})


@query(
    "text_trigram_search",
    oracle=f"""
    SELECT doc_id,
           CAST((length(text) - length(replace(text, '{_SEARCH_PHRASE}', '')))
                // {len(_SEARCH_PHRASE)} AS BIGINT) AS n_occurrences
    FROM documents
    WHERE contains(text, '{_SEARCH_PHRASE}')
    ORDER BY doc_id
    """,
)
def text_trigram_search(spark, sf_dir):
    """Substring search served through a character-trigram inverted index —
    the grep-at-scale architecture (code search, log search, corpus audit):
    the index prunes to candidate docs containing ALL of the phrase's
    trigrams (a superset of true matches by construction), and only those
    re-read their text for exact verification, so the full-text scan cost
    is paid by candidates, not the corpus.

    The per-doc distinct-trigram postings persist once per session — the
    stand-in for the write-time inverted index a 100 TB corpus maintains —
    and the query side is: pushed IN-filter on the 8 phrase trigrams →
    per-doc trigram count == 8 → broadcast the candidate ids into the
    documents scan → exact `contains` verify + occurrence count (integer
    length arithmetic, engine-portable). The oracle is the direct
    full-scan predicate: index + verify must give exactly the scan's
    answer."""
    d = _docs(spark, sf_dir)
    tris = STATE.get(
        "text.trigrams",
        spark,
        sf_dir,
        # length >= 3 filter first: sequence(1, 0) is the DESCENDING
        # [1, 0], so sub-trigram texts would emit bogus postings
        # (substring at position 0) into the shared session index
        lambda: d.filter(F.length("text") >= 3).select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, length(text) - 2),"
                        " i -> substring(text, i, 3))"
                    )
                )
            ).alias("tri"),
        ),
    )
    q_tris = _phrase_trigrams(_SEARCH_PHRASE)
    cands = (
        tris.filter(F.col("tri").isin(q_tris))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tri"))
        .filter(F.col("n_tri") == len(q_tris))
        .select("doc_id")
    )
    occurrences = F.expr(
        f"CAST((length(text) - length(replace(text, '{_SEARCH_PHRASE}', '')))"
        f" DIV {len(_SEARCH_PHRASE)} AS BIGINT)"
    )
    return (
        d.join(F.broadcast(cands), "doc_id")
        .filter(F.col("text").contains(_SEARCH_PHRASE))
        .select("doc_id", occurrences.alias("n_occurrences"))
        .orderBy("doc_id")
    )


@query(
    "corpus_source_overlap",
    oracle=f"""
    WITH t AS (
        SELECT source, {_DUCK_WORDS} AS w FROM documents
    ),
    g AS (
        SELECT DISTINCT source, gram FROM (
            SELECT source,
                   unnest(list_transform(
                       range(1, GREATEST(len(w) - {_SPAN_K - 1}, 0) + 1),
                       i -> array_to_string(w[i : i + {_SPAN_K - 1}], ' ')))
                       AS gram
            FROM t
        )
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY source
    ),
    inter AS (
        SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS i
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT xa.source AS source_a, xb.source AS source_b,
           xa.n AS n_a, xb.n AS n_b,
           COALESCE(i.i, 0) AS n_shared,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
             / CAST(xa.n + xb.n - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
    FROM sizes xa JOIN sizes xb ON xa.source < xb.source
    LEFT JOIN inter i ON i.sa = xa.source AND i.sb = xb.source
    ORDER BY source_a, source_b
    """,
)
def corpus_source_overlap(spark, sf_dir):
    """Source-level duplication map: 8-gram-passage Jaccard between every
    pair of sources — the crawl-curation question 'which feeds mirror
    each other' answered at the SOURCE level (doc-level near-dup finds
    the copies; this ranks which pairs of feeds to deduplicate against
    each other, or to drop wholesale).

    The gram vocabulary per source is a distinct (source, gram) set (one
    map-side-combined shuffle); intersections come from a self equi-join
    on the gram key, where the per-gram fanout is bounded by the SOURCE
    cardinality (≤ C(|sources|,2) pairs per gram — never corpus-sized),
    and union sizes arrive by joining the |sources|-row size frame twice.
    One exact-int Jaccard division per pair. At 100 TB the (source, gram)
    set is the ingest-time artifact; hot grams (boilerplate shared by
    every feed) are the skew axis and cap out at the same C(s,2) bound."""
    def build_source_grams():
        d = _docs(spark, sf_dir)
        wcol = F.col("w")
        grams = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(wcol) - (_SPAN_K - 1), F.lit(0))
            ),
            lambda i: F.concat_ws(" ", F.slice(wcol, i, _SPAN_K)),
        )
        return (
            d.select("source", tokens().alias("w"))
            .filter(F.size("w") >= _SPAN_K)
            .select(
                "source", F.explode(F.array_distinct(grams)).alias("gram")
            )
            .distinct()
            # store the layout hash-partitioned on the JOIN key: the
            # persisted partitioning survives into every read, so the
            # self-join below needs no runtime exchange of either side
            # (measured 1.72 → 0.95 s on the overlap body)
            .repartition(F.col("gram"))
        )

    # the (source, gram) set is the ingest-time artifact the docstring
    # names — session state, not per-invocation work: THREE consumers
    # below (sizes, both self-join sides) re-ran the tokenize + explode +
    # distinct pipeline per reference before
    g = STATE.get("text.source_grams", spark, sf_dir, build_source_grams)
    sizes = g.groupBy("source").agg(F.count("*").alias("n"))
    inter = (
        g.alias("a")
        .join(g.alias("b"), "gram")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count("*").alias("i"))
    )
    xa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    xb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    pairs = xa.join(xb, F.col("source_a") < F.col("source_b"))
    shared = F.coalesce(F.col("i"), F.lit(0))
    return (
        pairs.join(
            F.broadcast(inter),
            (F.col("sa") == F.col("source_a")) & (F.col("sb") == F.col("source_b")),
            "left",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            shared.cast("bigint").alias("n_shared"),
            (
                shared.cast("double")
                / (F.col("n_a") + F.col("n_b") - shared).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_RAKE_STOP = ("a", "the")
_RAKE_MIN, _RAKE_MAX = 2, 4


@query(
    "text_keyphrases_rake",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
    toks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i, w[i] AS tok FROM (
            SELECT doc_id, w,
                   unnest(generate_series(1, len(w))) AS i
            FROM t
        )
    ),
    runs AS (
        SELECT doc_id, i, tok,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i)
                 AS rid
        FROM toks WHERE tok NOT IN {_RAKE_STOP}
    ),
    phr AS (
        SELECT doc_id, rid,
               CAST(COUNT(*) AS BIGINT) AS len,
               string_agg(tok, ' ' ORDER BY i) AS phrase
        FROM runs GROUP BY doc_id, rid
        HAVING COUNT(*) BETWEEN {_RAKE_MIN} AND {_RAKE_MAX}
    ),
    members AS (
        SELECT r.doc_id, r.rid, r.tok, p.len, p.phrase
        FROM runs r JOIN phr p USING (doc_id, rid)
    ),
    deg AS (
        SELECT tok, CAST(SUM(len) AS BIGINT) AS deg
        FROM members GROUP BY tok
    ),
    occ AS (
        SELECT m.doc_id, m.rid, m.phrase,
               CAST(SUM(d.deg) AS BIGINT) AS score
        FROM members m JOIN deg d USING (tok)
        GROUP BY m.doc_id, m.rid, m.phrase
    )
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(score) AS score
    FROM occ GROUP BY phrase
    ORDER BY score DESC, n_occurrences DESC, phrase
    LIMIT 20
    """,
)
def text_keyphrases_rake(spark, sf_dir):
    """RAKE-style keyphrase extraction (degree-scored variant): candidate
    phrases are maximal stopword-free token runs of length 2–4, each
    scored by the summed corpus-wide DEGREE of its words (Σ over phrases
    containing w of that phrase's length) — multi-word technical phrases
    whose members co-occur in many long candidates rank first. The
    classic deg/freq ratio is swapped for pure degree so every score is
    an exact int64 (the ratio's per-word double divisions would need a
    k-term ordered fold); ranking quality is the same family.

    Plan: token posexplode → per-doc run grouping (the i − row_number
    run-id idiom over a PARTITIONED window) → phrase aggregate → one
    word-degree aggregate joined back → per-occurrence score → phrase
    top-20. Every stage is a keyed aggregate or equi-join; identical
    phrase text always reproduces the identical score, which the MIN
    collapse makes explicit."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(tokens()).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).cast("bigint").alias("i"), "tok")
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = toks.filter(~F.col("tok").isin(*_RAKE_STOP)).withColumn(
        "rid", F.col("i") - F.row_number().over(w)
    )
    # the phrase aggregate keeps its sorted token array, so phrase
    # membership EXPLODES from phr itself instead of re-joining runs:
    # the tokenize + posexplode + window subtree is referenced twice
    # instead of four times (8 Generate + 4 Window nodes in the before
    # plan), and the two remaining references share one ReusedExchange.
    # (A lineage cut here measured SLOWER — the extra materialization job
    # costs more than the deduped recompute saves.)
    phr = (
        runs.groupBy("doc_id", "rid")
        .agg(
            F.count("*").alias("len"),
            F.array_sort(F.collect_list(F.struct("i", "tok"))).alias("ts"),
        )
        .filter(F.col("len").between(_RAKE_MIN, _RAKE_MAX))
        .select(
            "doc_id",
            "rid",
            "len",
            F.concat_ws(
                " ", F.transform(F.col("ts"), lambda s: s["tok"])
            ).alias("phrase"),
            F.transform(F.col("ts"), lambda s: s["tok"]).alias("toks"),
        )
    )
    members = phr.select(
        "doc_id", "rid", "len", "phrase", F.explode("toks").alias("tok")
    )
    deg = members.groupBy("tok").agg(F.sum("len").alias("deg"))
    occ = (
        members.join(deg, "tok")
        .groupBy("doc_id", "rid", "phrase")
        .agg(F.sum("deg").alias("score"))
    )
    return (
        occ.groupBy("phrase")
        .agg(F.count("*").alias("n_occurrences"), F.min("score").alias("score"))
        .select("phrase", "n_occurrences", "score")
        .orderBy(F.desc("score"), F.desc("n_occurrences"), "phrase")
        .limit(20)
    )
