"""corpus LM statistics, evaluation harnesses, incremental/semantic dedup, r05 panels.

Split out of the monolithic catalog.py (r06, VERDICT r05 #6) —
importing this module REGISTERS its queries into the shared
QUERIES/ORACLE registries (openetl_spark.queries.base). Query names,
oracles, and iteration order are byte-identical to the pre-split
catalog; openetl_spark.catalog re-exports the full public surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from openetl_spark.operators import curation as C
from openetl_spark.operators import dedup as D
from openetl_spark.operators import joins as J
from openetl_spark.operators import similarity as S
from openetl_spark.operators import text as X
from openetl_spark.operators import timeseries as TS
from openetl_spark.plans.compiler import compile_connector
from openetl_spark.queries.base import ORACLE, QUERIES, _repo_root, load, query
from openetl_spark.queries.relational_extra import IVF_ORACLE_CENTROIDS, IVF_SIG_SQL, _corpus_sig, _ivf_layout
from openetl_spark.queries.warehouse_ann import PQ_ORACLE_CODEBOOKS, _pq_codebooks, _ivf_pq_layout
from openetl_spark.queries.dedup_text import shingle_cte, jaccard_ctes
from openetl_spark.spec import Connector, Filter, FilterGroup, Sort, Transformation

# =====================================================================
# r08 — corpus LM statistics + incremental / semantic dedup
# =====================================================================

_LM_VERIFIED: set[str] = set()


def _lm_scores_layout(spark, sf_dir: str) -> str:
    """Get-or-build the persisted corpus bigram-LM SCORE relation
    (doc_id, lang, n_bigrams, nll) for one testdata corpus (VERDICT
    r10 #3): the add-one-smoothed bigram LM and every document's mean
    NLL under it are pure functions of the corpus, yet ngram_lm_score,
    perplexity_buckets, and llm_data_pipeline each re-ran the full
    train+score pass per invocation — the exploded bigram relation is
    the widest thing in the whole catalog (one row per corpus token),
    and its two count joins dominated the composed pipeline's ~5.6 s
    warm cost (the r10 verdict's one REAL regression). The
    _walks_layout / dsir_scores offline-fit/online-gate posture
    applied to the CCNet LM: score once per corpus, every consumer
    (the score report, the tercile split, the composed pipeline's
    gate) reads the artifact. All three consumers' oracles still
    re-derive LM counts and scores from raw text, so a stale artifact
    reds out as a hash mismatch, never a silent wrong-green.

    Staleness: the md5-XOR corpus digest (DOC_SIG_SQL — order
    independent, content sensitive) recorded in lm_meta.json; digest
    mismatch or absent meta (the crashed rename→meta window, ADVICE
    r10) rebuilds. Verified once per (process, corpus)."""
    import json
    import os
    import shutil

    from openetl_spark.queries.analytics_r07 import _get_or_build_layout

    key = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(_repo_root(), "spark-warehouse", "lm_cache", key)
    scores_path = os.path.join(root, "lm_scores")
    meta_path = os.path.join(root, "lm_meta.json")
    if key in _LM_VERIFIED:
        return scores_path

    from openetl_spark.queries.analytics_r09 import _doc_sig

    sig = None
    if os.path.exists(meta_path):
        meta = json.load(open(meta_path))
        sig = _doc_sig(spark, sf_dir)
        if meta.get("doc_sig") != sig:
            shutil.rmtree(scores_path, ignore_errors=True)
            os.remove(meta_path)
    if not (os.path.exists(meta_path) and os.path.exists(scores_path)):
        # An artifact without meta is stale by definition — rebuild,
        # never adopt (the _node2vec_layout ADVICE-r10 discipline).
        # Symmetrically, meta without DATA (a manually-deleted or
        # externally-cleaned scores dir, ADVICE r11) is a dangling
        # pointer — treat missing data like missing meta and rebuild
        # rather than hand every consumer an unreadable path.
        shutil.rmtree(scores_path, ignore_errors=True)

        def build():
            d = load(spark, sf_dir, "documents", spread=True)
            return C.ngram_lm_score(
                d, "doc_id", "text", round_dp=None
            ).join(d.select("doc_id", "lang"), "doc_id")

        os.makedirs(root, exist_ok=True)
        _get_or_build_layout(spark, root, "lm_scores", build)
        if sig is None:
            sig = _doc_sig(spark, sf_dir)
        tmp = f"{meta_path}.tmp.{os.getpid()}"
        json.dump({"doc_sig": sig}, open(tmp, "w"))
        os.replace(tmp, meta_path)
    _LM_VERIFIED.add(key)
    return scores_path


@query(
    "ngram_lm_score",
    """
    WITH tk AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
               x -> lower(x)) AS w
      FROM documents),
    big AS (
      SELECT doc_id, w[i] AS pre, w[i] || ' ' || w[i + 1] AS bg
      FROM tk, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
    c2 AS (SELECT bg, count(*) AS c FROM big GROUP BY bg),
    c1 AS (SELECT pre, count(*) AS c FROM big GROUP BY pre),
    v AS (SELECT count(DISTINCT tok) AS vs
          FROM (SELECT UNNEST(w) AS tok FROM tk) u)
    SELECT big.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln((c2.c + 1.0) / (c1.c + v.vs))), 4) AS nll
    FROM big JOIN c2 USING (bg) JOIN c1 USING (pre), v
    GROUP BY big.doc_id
    """,
)
def q_ngram_lm_score(spark, sf_dir):
    """Curation (r08): add-one-smoothed bigram LM trained on the corpus
    in one pass, every document scored by mean negative log-likelihood
    — the CCNet-style perplexity filter, one model grade above
    rarity_score's unigram surprise. r11: reads the persisted score
    layout (_lm_scores_layout — train/score once per corpus); the
    oracle re-derives LM counts and scores from raw text."""
    return (
        spark.read.parquet(_lm_scores_layout(spark, sf_dir))
        .select("doc_id", "n_bigrams", F.round("nll", 4).alias("nll"))
    )


@query(
    "kl_domain_shift",
    """
    WITH ex AS (
      SELECT source AS g,
             UNNEST(list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
               x -> lower(x))) AS token
      FROM documents),
    corpus AS (SELECT token, count(*) AS c FROM ex GROUP BY token),
    per_group AS (SELECT g, token, count(*) AS cg FROM ex GROUP BY g, token),
    totals AS (SELECT g, count(*) AS ng FROM ex GROUP BY g),
    stats AS (SELECT count(*) AS v, sum(c) AS n FROM corpus),
    grid AS (
      SELECT t.g, t.ng,
             (COALESCE(pg.cg, 0) + 1.0) / (t.ng + s.v) AS p,
             (c.c + 1.0) / (s.n + s.v) AS q
      FROM corpus c CROSS JOIN totals t
      LEFT JOIN per_group pg ON pg.g = t.g AND pg.token = c.token,
      stats s)
    SELECT g AS source,
           CAST(any_value(ng) AS BIGINT) AS n_tokens,
           round(sum(p * ln(p / q)), 4) AS kl
    FROM grid GROUP BY g
    """,
)
def q_kl_domain_shift(spark, sf_dir):
    """Curation (r08): KL(source ‖ corpus) over smoothed unigram
    distributions — the domain-shift audit for a training mix. The
    token-grid join is vocab-sized; groups ride a broadcast."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.kl_domain_shift(d, "source", "text")


@query(
    "zipf_fit",
    """
    WITH freq AS (
      SELECT token, count(*) AS c
      FROM (SELECT UNNEST(list_transform(
              list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
              x -> lower(x))) AS token
            FROM documents) u
      GROUP BY token),
    ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, token) AS DOUBLE)) AS lr,
             ln(CAST(c AS DOUBLE)) AS lc
      FROM freq)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(regr_slope(lc, lr), 4) AS zipf_slope,
           round(regr_intercept(lc, lr), 4) AS zipf_intercept,
           round(regr_r2(lc, lr), 4) AS r2
    FROM ranked
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Curation (r08): log-log rank-frequency regression — slope ≈ −1
    is Zipfian natural text; a one-row corpus-health probe. The window
    sorts the post-agg vocabulary relation, never the corpus."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.zipf_fit(d, "text")


def semantic_dedup_oracle(thr: float = 0.4) -> str:
    """semantic_dedup's oracle, parameterized over the cosine
    threshold — shared by the catalog query and the randomized
    sweep."""
    return f"""
    WITH cents AS (
      SELECT list_id, centroid
      FROM read_parquet('{IVF_ORACLE_CENTROIDS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND n_lists = 16 AND seed = 42),
    assign AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             (SELECT c.list_id FROM cents c
              ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) ASC,
                       c.list_id ASC
              LIMIT 1) AS list_id
      FROM embeddings e),
    pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_cosine_similarity(a.v, b.v), 4) AS cs
      FROM assign a JOIN assign b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {thr}),
    best AS (SELECT b, min(a) AS dup_of FROM pairs GROUP BY b)
    SELECT CAST(best.b AS BIGINT) AS vec_id,
           CAST(best.dup_of AS BIGINT) AS dup_of,
           p.cs AS cosine_sim
    FROM best JOIN pairs p ON p.b = best.b AND p.a = best.dup_of
    """


@query("semantic_dedup", semantic_dedup_oracle(0.4))
def q_semantic_dedup(spark, sf_dir):
    """C27/C28 (r08): SemDeDup — cluster-scoped semantic near-dup
    removal. Reuses the SAME persisted IVF quantizer as ivf_knn (one
    trained artifact serves search and dedup), pairwise cosine runs as
    one numpy matmul per cluster, and the min-id survivor rule makes
    the whole operator re-derivable by the oracle from the centroid
    parquet. Threshold 0.4 sits under this synthetic corpus's ~0.51
    cosine ceiling so the gate is non-vacuous. r11 (VERDICT r10 #4):
    reads the IVF-PARTITIONED corpus — the assignment is already
    materialized in the layout's directory structure, so the per-
    invocation Arrow matmul assignment pass disappears AND the
    cluster-keyed shuffle shrinks (rows arrive pre-bucketed)."""
    cents, data_path = _ivf_layout(spark, sf_dir, n_lists=16, seed=42)
    corpus = spark.read.parquet(data_path)
    return S.semantic_dedup(corpus, cents, list_col="ivf_list", threshold=0.4)


@query(
    "document_chunks",
    """
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents)
    SELECT doc_id,
           CAST((s - 1) // 32 AS BIGINT) AS chunk_id,
           array_to_string(w[s:s+63], ' ') AS chunk_text,
           CAST(len(w[s:s+63]) AS INT) AS n_tokens
    FROM tk, UNNEST(generate_series(1, greatest(len(w), 1), 32)) AS t(s)
    WHERE len(w) >= 1
    """,
)
def q_document_chunks(spark, sf_dir):
    """Retrieval breadth (r08): overlapping 64-token chunks every 32
    tokens — the chunk→embed→index preprocessing step. Scan-side
    sequence+slice, zero shuffles, deterministic chunk ids across
    engines and runs."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.chunk_documents(d, "doc_id", "text", chunk_tokens=64, stride=32)


@query(
    "chunk_bm25_topk",
    """
    WITH tk0 AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    ch AS (
      SELECT doc_id || ':' || CAST((s - 1) // 32 AS BIGINT) AS chunk_key,
             string_split(array_to_string(w[s:s+63], ' '), ' ') AS toks
      FROM tk0, UNNEST(generate_series(1, greatest(len(w), 1), 32)) AS t(s)
      WHERE len(w) >= 1),
    st AS (
      SELECT count(*) AS n_docs, avg(CAST(len(toks) AS DOUBLE)) AS avgdl,
             count(*) FILTER (len(list_filter(toks, x -> x = 'spark')) > 0) AS df0,
             count(*) FILTER (len(list_filter(toks, x -> x = 'vector')) > 0) AS df1
      FROM ch),
    pc AS (
      SELECT chunk_key, CAST(len(toks) AS DOUBLE) AS dl,
             CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf0,
             CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE) AS tf1
      FROM ch),
    scored AS (
      SELECT chunk_key,
             round(
               ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5))
                 * (tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             + ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5))
                 * (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
      FROM pc, st)
    SELECT chunk_key, bm25 FROM scored
    WHERE bm25 > 0.0
    ORDER BY bm25 DESC, chunk_key ASC
    LIMIT 25
    """,
)
def q_chunk_bm25_topk(spark, sf_dir):
    """Retrieval composition (r08): BM25 at CHUNK granularity — the
    passage-retrieval grain a RAG pipeline actually serves. Chunking
    is scan-side (document_chunks), scoring reuses bm25_topk's
    one-pass broadcast-stats shape; corpus statistics here are
    per-chunk (N = chunk count, avgdl = avg chunk length), which is
    the correct normalization for passage scoring. The only shuffle in
    the whole plan remains the final TakeOrdered."""
    d = load(spark, sf_dir, "documents", spread=True)
    chunks = X.chunk_documents(d, "doc_id", "text", chunk_tokens=64, stride=32)
    keyed = chunks.select(
        F.concat_ws(":", "doc_id", "chunk_id").alias("chunk_key"),
        "chunk_text",
    )
    return X.bm25_topk(
        keyed, ["spark", "vector"], k=25, id_col="chunk_key", text_col="chunk_text"
    )


@query(
    "contrastive_negatives",
    f"""
    WITH a AS (
      SELECT vec_id AS anchor, label AS al,
             ({C.hash_bucket_sql("CAST(vec_id AS VARCHAR) || 'p'", 16)}) AS pb
      FROM embeddings),
    c AS (
      SELECT vec_id AS negative, label AS cl,
             ({C.hash_bucket_sql("vec_id", 16)}) AS cb
      FROM embeddings),
    pairs AS (
      SELECT a.anchor, c.negative,
             md5(CAST(a.anchor AS VARCHAR) || ':' || CAST(c.negative AS VARCHAR)) AS rk
      FROM a JOIN c ON a.pb = c.cb AND a.al <> c.cl),
    ranked AS (
      SELECT anchor, negative,
             CAST(row_number() OVER (PARTITION BY anchor ORDER BY rk, negative)
                  AS INT) AS rank
      FROM pairs)
    SELECT anchor, negative, rank FROM ranked WHERE rank <= 4
    """,
)
def q_contrastive_negatives(spark, sf_dir):
    """Curation (r08): deterministic contrastive negative sampling —
    each anchor probes one md5 bucket of candidates (volume
    |corpus|/n_buckets; n_buckets scales with the corpus), negatives
    ranked by a portable md5 pair key. No RNG state anywhere, so every
    epoch, engine, and partitioning sees the same pairs."""
    e = load(spark, sf_dir, "embeddings", spread=True)
    return C.contrastive_negatives(e, "vec_id", "label", k=4, n_buckets=16)


@query(
    "llm_data_pipeline",
    f"""
    WITH tk AS (
      SELECT doc_id, lang,
             list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
               x -> lower(x)) AS w
      FROM documents),
    big AS (
      SELECT doc_id, w[i] AS pre, w[i] || ' ' || w[i + 1] AS bg
      FROM tk, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
    c2 AS (SELECT bg, count(*) AS c FROM big GROUP BY bg),
    c1 AS (SELECT pre, count(*) AS c FROM big GROUP BY pre),
    v AS (SELECT count(DISTINCT tok) AS vs
          FROM (SELECT UNNEST(w) AS tok FROM tk) u),
    scored AS (
      SELECT big.doc_id, avg(-ln((c2.c + 1.0) / (c1.c + v.vs))) AS nll
      FROM big JOIN c2 USING (bg) JOIN c1 USING (pre), v
      GROUP BY big.doc_id),
    binned AS (
      SELECT tk.doc_id, tk.lang,
             CAST(floor(s.nll / 0.002) AS BIGINT) AS bin
      FROM scored s JOIN tk ON tk.doc_id = s.doc_id),
    hist AS (SELECT lang, bin, count(*) AS c FROM binned GROUP BY 1, 2),
    cum AS (
      SELECT lang, bin, c,
             sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM hist),
    thr AS (
      SELECT lang, min(CASE WHEN cum >= 2.0 * n / 3.0 THEN bin END) AS t67
      FROM cum GROUP BY lang),
    survivors AS (
      SELECT b.doc_id, b.lang
      FROM binned b JOIN thr t USING (lang)
      WHERE b.bin <= t.t67),
    tgt(lang, tw) AS (
      VALUES ('en', CAST(0.5  AS DOUBLE)),
             ('de', CAST(0.2  AS DOUBLE)),
             ('es', CAST(0.15 AS DOUBLE)),
             ('fr', CAST(0.15 AS DOUBLE))),
    sw AS (SELECT sum(tw) AS sw FROM tgt),
    counts AS (SELECT lang, count(*) AS n FROM survivors GROUP BY lang),
    j AS (SELECT c.lang, c.n, t.tw / sw.sw AS wn
          FROM counts c JOIN tgt t USING (lang), sw),
    tt AS (SELECT min(n / wn) AS t FROM j),
    rates AS (
      SELECT lang,
             least(10000, CAST(floor(10000.0 * wn * tt.t / n + 1e-9) AS BIGINT)) AS bp
      FROM j, tt),
    sampled AS (
      SELECT s.doc_id, s.lang
      FROM survivors s JOIN rates r USING (lang)
      WHERE ({C.hash_bucket_sql('s.doc_id', 10000)}) < r.bp)
    SELECT m.doc_id,
           CAST((s - 1) // 32 AS BIGINT) AS chunk_id,
           m.lang,
           CAST(len(w[s:s+63]) AS INT) AS n_tokens
    FROM sampled m JOIN tk USING (doc_id),
         UNNEST(generate_series(1, greatest(len(w), 1), 32)) AS t(s)
    WHERE len(w) >= 1
    """,
)
def q_llm_data_pipeline(spark, sf_dir):
    """The r08 composed flagship: bigram-LM scoring → CCNet bucket gate
    (drop the worst tercile per language) → target-mix domain
    reweighting on the SURVIVOR counts → token-window chunking, ONE
    lazy plan over one corpus scan lineage, the whole thing rendered as
    ONE oracle query. Every stage is the scale-safe shape its
    standalone query uses: histogram terciles (no raw-doc windows),
    in-plan mix rates (broadcast scalars), scan-side chunking. Output
    grain is training chunks (doc, chunk, lang, n_tokens). r11: the
    LM gate reads the persisted score layout — stage 1 (the corpus LM
    train+score, the pipeline's dominant cost and the r10 verdict's
    one real regression) runs once per corpus, not per invocation."""
    d = load(spark, sf_dir, "documents", spread=True)
    scored = spark.read.parquet(_lm_scores_layout(spark, sf_dir)).select(
        "doc_id", "lang", "nll"
    )
    keep = (
        C.with_perplexity_bucket(d, "doc_id", "text", "lang", scored=scored)
        .filter(F.col("bucket") != "tail")
        .select("doc_id")
    )
    # persist: the mix-rate counts, the chunker, and the final lang
    # join all re-derive the survivor relation — left lazy, the
    # documents⋈bucket-gate lineage (scores read + tercile histogram +
    # corpus join) executed three times per invocation (r12
    # optimization pass; lazy persist keeps Catalyst's size stats for
    # the downstream broadcast decisions).
    survivors = d.join(keep, "doc_id").persist()
    mixed = C.mix_to_target(
        survivors, {"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.15}, "lang", "doc_id"
    )
    chunks = X.chunk_documents(mixed, "doc_id", "text", chunk_tokens=64, stride=32)
    return chunks.join(mixed.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "chunk_id", "lang", "n_tokens"
    )


@query(
    "keyword_extraction",
    """
    WITH ex AS (
      SELECT doc_id,
             UNNEST(list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
               x -> lower(x))) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(n.n_docs * 1.0 / dfreq.df) AS s
      FROM tf JOIN dfreq USING (term), n),
    ranked AS (
      SELECT doc_id, term, s,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY s DESC, term ASC) AS INT) AS rank
      FROM scored)
    SELECT doc_id, rank, term, round(s, 4) AS tfidf
    FROM ranked WHERE rank <= 3
    """,
)
def q_keyword_extraction(spark, sf_dir):
    """Retrieval breadth (r08): per-document top-3 characteristic terms
    by TF-IDF — the labeling primitive for corpus exploration. Document
    frequency re-aggregates the (doc, term) relation, N broadcasts as a
    scalar, and the top-k window partitions on the doc key (never more
    than one document's vocabulary per partition)."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.top_terms_tfidf(d, "doc_id", "text", k=3)


@query(
    "ngram_novelty",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
            FROM documents),
           UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)),
    first_seen AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           round(avg(CASE WHEN f.first_doc = sh.doc_id THEN 1.0 ELSE 0.0 END), 4)
             AS novelty
    FROM sh JOIN first_seen f USING (g)
    GROUP BY sh.doc_id
    """,
)
def q_ngram_novelty(spark, sf_dir):
    """Curation (r08): per-document n-gram novelty — the fraction of a
    doc's distinct 3-gram shingles whose FIRST occurrence (by doc id,
    i.e. arrival order) is this document. Novelty ≈ 0 marks documents
    whose content already exists earlier in the corpus — the cheap
    streaming-dedup-lite signal between exact dedup and MinHash.

    Shape (r06 rework, VERDICT #7): the r05 form re-joined the full
    exploded gram relation against first-seen on the gram key — a
    second corpus-scale pass through the shuffle. Now the exploded
    relation is aggregated exactly twice and never revisited: per-doc
    gram totals (doc-keyed partial agg) and per-gram first-seen
    (gram-keyed partial agg, map-side combine absorbs the Zipf head);
    novel-gram counts per doc then come from RE-AGGREGATING the
    vocabulary-sized first-seen relation by its min-doc, and the final
    join is doc-keyed between two doc-count-sized aggregates. (The
    window form min(doc_id) OVER (PARTITION BY g) fuses shuffles but
    materializes df(g)-sized window partitions — hot grams make that
    the skew bottleneck at corpus scale; this shape has no
    corpus-sized structure past the two partial aggs.)

    r06-s2 plan hygiene, measured 4.1 s → 0.4 s at sf0.1: per-doc gram
    totals are size(shingles) in the scan projection (the shingle
    array is already distinct — no second explode+agg pass), and the
    one remaining explode is explode_outer + isNotNull so Catalyst's
    InferFiltersFromGenerate can't push a size()>0 predicate into the
    scan and re-inline the whole shingling transform into the filter
    (the minhash_error_report lesson; plan-pinned: the shingle
    transform appears ≤2× in the executed plan, not 4×)."""
    d = load(spark, sf_dir, "documents", spread=True)
    sh_arr = D.with_shingles(d, "text", n=3)
    sh = sh_arr.select(
        "doc_id", F.explode_outer("shingles").alias("g")
    ).filter(F.col("g").isNotNull())
    totals = sh_arr.select(
        "doc_id", F.size("shingles").cast("bigint").alias("n_grams")
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("_first"))
    novel = first.groupBy(F.col("_first").alias("doc_id")).agg(
        F.count("*").alias("_novel")
    )
    return totals.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.round(
            F.coalesce(F.col("_novel"), F.lit(0)).cast("double")
            / F.col("n_grams"),
            4,
        ).alias("novelty"),
    )


def domain_mix_oracle(target: dict[str, float], group_col: str = "lang") -> str:
    """mix_to_target's oracle, parameterized over the target mix —
    shared by the catalog query and the randomized sweep."""
    vals = ", ".join(
        f"('{g}', CAST({float(w)!r} AS DOUBLE))" for g, w in target.items()
    )
    return f"""
    WITH tgt({group_col}, w) AS (VALUES {vals}),
    sw AS (SELECT sum(w) AS sw FROM tgt),
    counts AS (SELECT {group_col}, count(*) AS n FROM documents GROUP BY {group_col}),
    j AS (SELECT c.{group_col}, c.n, t.w / sw.sw AS wn
          FROM counts c JOIN tgt t USING ({group_col}), sw),
    tt AS (SELECT min(n / wn) AS t FROM j),
    rates AS (
      SELECT {group_col},
             least(10000, CAST(floor(10000.0 * wn * tt.t / n + 1e-9) AS BIGINT)) AS bp
      FROM j, tt)
    SELECT d.doc_id, d.{group_col}, d.source
    FROM documents d JOIN rates r USING ({group_col})
    WHERE ({C.hash_bucket_sql('doc_id', 10000)}) < r.bp
    """


@query(
    "domain_mix_sample",
    domain_mix_oracle({"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.15}),
)
def q_domain_mix_sample(spark, sf_dir):
    """Curation (r08): domain reweighting — downsample so the language
    mix hits {{en:.5, de:.2, es:.15, fr:.15}} (zh dropped, weight 0) at
    the largest size the binding group allows, membership via the
    engine-portable md5 basis-point bucket. Rates are computed inside
    the plan (post-agg group counts + two broadcast scalars); the
    corpus itself sees one broadcast join and a scan-local predicate —
    zero corpus shuffles, no driver collect."""
    d = load(spark, sf_dir, "documents", spread=True)
    return C.mix_to_target(
        d, {"en": 0.5, "de": 0.2, "es": 0.15, "fr": 0.15}, "lang", "doc_id"
    ).select("doc_id", "lang", "source")


@query(
    "seasonal_anomalies",
    """
    WITH cells AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
             CAST(count(*) AS BIGINT) AS n_events, sum(value) AS s
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type, CAST(hour(bucket_start) AS INT) AS hod,
             sum(s) / count(*) AS mean,
             sqrt(greatest(round(sum(s*s) / count(*)
                  - (sum(s)/count(*)) * (sum(s)/count(*)), 6), 0.0)) AS std,
             count(*) AS n
      FROM cells GROUP BY 1, 2)
    SELECT c.event_type, c.bucket_start,
           CAST(hour(c.bucket_start) AS INT) AS hour_of_day,
           c.n_events, round(c.s, 2) AS sum_value,
           round((c.s - st.mean) / st.std, 2) AS z_score
    FROM cells c
    JOIN st ON st.event_type = c.event_type AND st.hod = hour(c.bucket_start)
    WHERE st.std > 0 AND st.n >= 3
      AND abs(round((c.s - st.mean) / st.std, 2)) > 2.0
    """,
)
def q_seasonal_anomalies(spark, sf_dir):
    """Hypertable monitoring #2 (r05): seasonal-baseline z-scores — the
    per-(type, hour-of-day) mean/std instead of rollup_anomalies'
    global per-type baseline, so a 3am spike flags even when the same
    volume is routine at noon. Runs on the CELL relation with a
    (type × 24)-row broadcast stats join; moments are explicit
    expressions and the flag tests the ROUNDED z (formula-identical
    oracle)."""
    e = load(spark, sf_dir, "events")
    return TS.seasonal_anomalies(e, "1 hour", keys=("event_type",), threshold=2.0)


def winnow_oracle(
    k: int = 8, window: int = 4, max_fp_df: int = 10, min_shared: int = 5
) -> str:
    """winnow_overlap's oracle parameterized over (k, window, df-cap,
    min_shared) — shared by the catalog query and the randomized
    parameter sweep (the winnowing selection rule must agree between
    engines at EVERY parameter point, not just the shipped one)."""
    w1 = window - 1
    return f"""
    WITH t AS (SELECT doc_id, text FROM documents WHERE len(text) >= {k + w1}),
    g AS (
      SELECT doc_id, i,
             CAST('0x' || substr(md5(substr(text, i, {k})), 1, 15) AS BIGINT) AS h
      FROM t, UNNEST(generate_series(1, len(text) - {k} + 1)) AS u(i)),
    win AS (
      SELECT doc_id, i,
             min(struct_pack(h := h, p := i)) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {w1} FOLLOWING) AS m,
             max(i) OVER (PARTITION BY doc_id) AS mi
      FROM g),
    sel AS (SELECT DISTINCT doc_id, m.h AS h FROM win WHERE i <= mi - {w1}),
    rare AS (SELECT h FROM sel GROUP BY h HAVING count(*) <= {max_fp_df}),
    fp AS (SELECT s.doc_id, s.h FROM sel s JOIN rare USING (h))
    SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS shared_fps
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {min_shared}
    """


@query("winnow_overlap", winnow_oracle(k=8, window=4, max_fp_df=10, min_shared=5))
def q_winnow_overlap(spark, sf_dir):
    """C26/C27 extension (r05): exact-substring overlap mining via
    winnowing fingerprints (MOSS, Schleimer et al. 2003) — character
    8-grams, window 4 (any shared ≥11-char span fingerprints in both
    docs regardless of alignment), boilerplate fingerprints capped at
    df ≤ 10, pairs sharing ≥ 5 rare fingerprints. The character-level
    half of the dedup family (word-shingle jaccard/MinHash catch
    near-dup DOCS; this catches copied SPANS). The oracle re-derives
    selection through window functions while Spark uses scan-side
    array HOFs — two independent physical shapes, one answer."""
    d = load(spark, sf_dir, "documents", spread=True)
    return D.winnow_overlap_pairs(
        d, "doc_id", "text", k=8, window=4, min_shared=5, max_fp_df=10
    )


@query(
    "gap_fill_interpolate",
    """
    WITH cells AS (
      SELECT event_type, time_bucket(INTERVAL '15 minutes', ts) AS b,
             CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS s
      FROM events GROUP BY 1, 2),
    spans AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM cells GROUP BY 1),
    grid AS (
      SELECT event_type, g AS b
      FROM spans, UNNEST(generate_series(lo, hi, INTERVAL '15 minutes')) AS t(g)),
    j AS (
      SELECT g.event_type, g.b, c.n, c.s
      FROM grid g LEFT JOIN cells c ON c.event_type = g.event_type AND c.b = g.b),
    w AS (
      SELECT *,
        last_value(CASE WHEN s IS NOT NULL
                        THEN struct_pack(t := epoch(b), v := s) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        first_value(CASE WHEN s IS NOT NULL
                         THEN struct_pack(t := epoch(b), v := s) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY b
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv
      FROM j)
    SELECT event_type, b AS bucket_start,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           floor((CASE WHEN s IS NOT NULL THEN s
                       WHEN pv IS NOT NULL AND nv IS NOT NULL
                       THEN pv.v + (nv.v - pv.v) * (epoch(b) - pv.t) / (nv.t - pv.t)
                  END) * 10000.0 + 0.5) / 10000.0 AS sum_value,
           (s IS NULL) AS filled
    FROM w
    """,
)
def q_gap_fill_interpolate(spark, sf_dir):
    """Hypertable verb (r05): gap-filled 15-min rollup with linear
    interpolation (TimescaleDB time_bucket_gapfill + interpolate). The
    grid derives from the CELL relation (per-key span + sequence
    explode), neighbors come from two ignore-nulls window passes, and
    interpolation is the identical (t−t₀)/(t₁−t₀) epoch-seconds
    expression in both engines; the flag marks synthesized rows.
    ~48% of this grid is gaps at sf0.01 — the interpolation path is
    heavily exercised, not incidental."""
    e = load(spark, sf_dir, "events")
    return TS.gap_fill(e, "15 minutes", keys=("event_type",))


@query(
    "temperature_sampling",
    f"""
    WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n, round(power(CAST(n AS DOUBLE), 0.3), 9) AS wn FROM counts),
    sw AS (SELECT sum(wn) AS sw FROM w),
    j AS (SELECT lang, n, wn / sw.sw AS p FROM w, sw),
    tt AS (SELECT min(n / p) AS t FROM j),
    rates AS (
      SELECT lang,
             least(10000, CAST(floor(10000.0 * p * tt.t / n + 1e-9) AS BIGINT)) AS bp
      FROM j, tt)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates r USING (lang)
    WHERE ({C.hash_bucket_sql('doc_id', 10000)}) < r.bp
    """,
)
def q_temperature_sampling(spark, sf_dir):
    """Curation (r05): XLM-R alpha-sampling — per-language keep rates
    from p_g ∝ n_g^0.3 (flattens the natural mix, upweighting
    low-resource languages) with mix_to_target's binding-group rule and
    md5 basis-point membership. pow() rounds to 9 dp on both sides
    before the rate arithmetic so the basis-point floor can't diverge.
    Zero corpus shuffles; rates are a post-agg broadcast relation."""
    d = load(spark, sf_dir, "documents", spread=True)
    return C.temperature_sampling(d, alpha=0.3, group_col="lang").select(
        "doc_id", "lang", "source"
    )


@query(
    "salted_join_segments",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_salted_join_segments(spark, sf_dir):
    """Scale helper as a first-class query: the salted fact⋈dim join
    (operators/skew.py) — fact rows scatter across 16 salt buckets,
    the dim replicates into each, so no single reducer ever receives a
    hot key's full volume when the dim is broadcast-ineligible and AQE
    skew-split can't apply (pathological single-tenant keys). Salting
    must be invisible in the result: the oracle is the PLAIN join."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    from openetl_spark.operators.skew import salted_join

    return (
        salted_join(o, c, "o_custkey", salt=16)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "cluster_profile",
    f"""
    WITH cents AS (
      SELECT list_id, centroid
      FROM read_parquet('{IVF_ORACLE_CENTROIDS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND n_lists = 16 AND seed = 42),
    assign AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             (SELECT c.list_id FROM cents c
              ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) ASC,
                       c.list_id ASC
              LIMIT 1) AS list_id
      FROM embeddings e),
    d AS (
      SELECT a.list_id,
             list_dot_product(a.v, a.v) + list_dot_product(c.centroid, c.centroid)
               - 2 * list_dot_product(a.v, c.centroid) AS d2
      FROM assign a JOIN cents c USING (list_id))
    SELECT CAST(list_id AS INT) AS list_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(d2), 4) AS avg_sq_dist,
           round(max(d2), 4) AS max_sq_dist
    FROM d GROUP BY list_id
    """,
)
def q_cluster_profile(spark, sf_dir):
    """C28 monitoring (r08): embedding-space health off the SAME
    persisted IVF quantizer as ivf_knn/semantic_dedup — per-cluster
    occupancy and squared-distance spread (the inertia decomposition
    one watches for cluster collapse or drift as a corpus grows). One
    scan + one broadcast join + a 16-group aggregate; the oracle
    re-derives assignment and distances from the centroid parquet.
    r11 (VERDICT r10 #4): the assignment comes from the
    IVF-partitioned corpus layout (a partition-column read — zero
    compute), not a per-invocation Arrow matmul; only the distance
    arithmetic stays in-plan."""
    cents, data_path = _ivf_layout(spark, sf_dir, n_lists=16, seed=42)
    corpus = spark.read.parquet(data_path).select(
        F.col("ivf_list").cast("int").alias("list_id"), "embedding"
    )
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "list_id int, centroid array<double>",
    )
    v = F.col("embedding").cast("array<double>")
    d2 = (
        S.dot(v, v)
        + S.dot(F.col("centroid"), F.col("centroid"))
        - 2 * S.dot(v, F.col("centroid"))
    )
    return (
        corpus.join(F.broadcast(cdf), "list_id")
        .select("list_id", d2.alias("_d2"))
        .groupBy("list_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("_d2"), 4).alias("avg_sq_dist"),
            F.round(F.max("_d2"), 4).alias("max_sq_dist"),
        )
    )


@query(
    "perplexity_buckets",
    """
    WITH tk AS (
      SELECT doc_id, lang,
             list_transform(
               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
               x -> lower(x)) AS w
      FROM documents),
    big AS (
      SELECT doc_id, w[i] AS pre, w[i] || ' ' || w[i + 1] AS bg
      FROM tk, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
    c2 AS (SELECT bg, count(*) AS c FROM big GROUP BY bg),
    c1 AS (SELECT pre, count(*) AS c FROM big GROUP BY pre),
    v AS (SELECT count(DISTINCT tok) AS vs
          FROM (SELECT UNNEST(w) AS tok FROM tk) u),
    scored AS (
      SELECT big.doc_id, avg(-ln((c2.c + 1.0) / (c1.c + v.vs))) AS nll
      FROM big JOIN c2 USING (bg) JOIN c1 USING (pre), v
      GROUP BY big.doc_id),
    binned AS (
      SELECT tk.lang, s.nll,
             CAST(floor(s.nll / 0.002) AS BIGINT) AS bin
      FROM scored s JOIN tk ON tk.doc_id = s.doc_id),
    hist AS (SELECT lang, bin, count(*) AS c FROM binned GROUP BY 1, 2),
    cum AS (
      SELECT lang, bin, c,
             sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM hist),
    thr AS (
      SELECT lang,
             min(CASE WHEN cum >= n / 3.0 THEN bin END) AS t33,
             min(CASE WHEN cum >= 2.0 * n / 3.0 THEN bin END) AS t67
      FROM cum GROUP BY lang)
    SELECT b.lang,
           CASE WHEN b.bin <= t.t33 THEN 'head'
                WHEN b.bin <= t.t67 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(b.nll), 4) AS avg_nll
    FROM binned b JOIN thr t USING (lang)
    GROUP BY 1, 2
    """,
)
def q_perplexity_buckets(spark, sf_dir):
    """Curation (r08): CCNet's head/middle/tail perplexity split per
    language — bigram-LM NLL scores binned into a fixed-width
    histogram, tercile thresholds from the per-group cumulative pass
    over BIN rows (never a percent_rank window over raw docs), bucket
    membership by integer bin compare. The whole pipeline — LM
    training, scoring, sketched terciles, bucketing — renders in one
    oracle query. r11: scores come from the persisted layout (the
    tercile machinery itself runs over bin-count rows, already
    cheap); the oracle re-derives everything from raw text."""
    d = load(spark, sf_dir, "documents", spread=True)
    scored = spark.read.parquet(_lm_scores_layout(spark, sf_dir)).select(
        "doc_id", "lang", "nll"
    )
    return C.perplexity_buckets(d, "doc_id", "text", "lang", scored=scored)


from openetl_spark.functions.spec_sql import render_query as _render_spec_sql  # noqa: E402

_DECL_SETOP_SPEC = {
    "set_op": "intersect",
    "inputs": [
        {
            "table": "orders",
            "group_by": ["o_custkey"],
            "aggregates": [{"fn": "count", "expr": None, "alias": "n"}],
            "having": [{"field": "n", "operator": ">=", "value": 5}],
            "select": ["o_custkey"],
        },
        {
            "table": "orders",
            "filters": [
                {"field": "o_totalprice", "operator": ">", "value": 300000}
            ],
            "select": ["o_custkey"],
            "distinct": True,
        },
    ],
    "sort": [{"field": "o_custkey"}],
}


@query("declarative_setops", _render_spec_sql(_DECL_SETOP_SPEC))
def q_declarative_setops(spark, sf_dir):
    """QuerySpec's set-operation surface (r08): frequent customers
    INTERSECT big-ticket customers, each leg a declarative spec (one
    grouped+HAVING, one filtered DISTINCT projection). The oracle IS
    the spec's own ANSI rendering (functions/spec_sql.render_query), so
    the driver gate pins compiler and renderer against each other —
    the same both-ways contract the randomized QuerySpec fuzzers
    enforce per-run."""
    from openetl_spark.plans.compiler import compile_query

    return compile_query(_DECL_SETOP_SPEC, lambda t: load(spark, sf_dir, t))


@query(
    "scd2_history",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    changes AS (
      SELECT user_id, ts, event_id, event_type
      FROM seq WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM changes
    """,
)
def q_scd2_history(spark, sf_dir):
    """Warehouse breadth (r08): type-2 SCD history built from the
    event stream — one row per (user, event_type run) with a
    [valid_from, valid_to) interval and is_current flag; pair with the
    as-of join for point-in-time attribute lookups. Two windows on the
    maximally-high-cardinality user key, event_id tiebreak for
    same-instant determinism."""
    e = load(spark, sf_dir, "events")
    return TS.scd2_history(e, "user_id", "event_type", "ts", "event_id")


@query(
    "hot_keys_report",
    """
    WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n
               FROM lineitem GROUP BY 1),
    t AS (SELECT count(*) AS total FROM lineitem)
    SELECT c.key, c.n, round(c.n * 1.0 / t.total, 6) AS share
    FROM c, t
    ORDER BY c.n DESC, c.key ASC
    LIMIT 20
    """,
)
def q_hot_keys_report(spark, sf_dir):
    """Skew diagnostics (r08): the 20 hottest supplier keys in the
    fact table with their row share — the measurement that picks
    between AQE skew-split, salting (salted_join_segments), and
    broadcast. Partial-agg per key + TakeOrdered; never a global
    sort."""
    from openetl_spark.operators.skew import hot_keys

    l = load(spark, sf_dir, "lineitem")
    return hot_keys(l, "l_suppkey", k=20)


_INCR_BUCKET = C.hash_bucket_sql("doc_id", 100)


def incremental_dedup_oracle(cut: int = 50, thr: float = 0.5) -> str:
    """The incremental-dedup oracle, parameterized over the index/new
    split point (md5 bucket < cut) and the jaccard threshold — shared
    by the catalog query and the randomized differential sweep."""
    return f"""
    WITH {shingle_cte(5)},
    side AS (SELECT doc_id, ({_INCR_BUCKET}) < {cut} AS is_index FROM documents),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS p, y.doc_id AS q, count(*) AS c
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id <> y.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT inter.p AS a, inter.q AS b,
             round(c / (sp.n + sq.n - c), 6) AS jaccard
      FROM inter
      JOIN sizes sp ON sp.doc_id = inter.p
      JOIN sizes sq ON sq.doc_id = inter.q
      JOIN side bp ON bp.doc_id = inter.p
      JOIN side bq ON bq.doc_id = inter.q
      WHERE NOT bq.is_index
        AND (bp.is_index OR inter.p < inter.q)
        AND round(c / (sp.n + sq.n - c), 6) >= {thr}),
    agg AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n_dups, min(a) AS dup_of
      FROM pairs GROUP BY b)
    SELECT CAST(agg.b AS BIGINT) AS doc_id, agg.n_dups,
           CAST(agg.dup_of AS BIGINT) AS dup_of, p.jaccard
    FROM agg JOIN pairs p ON p.b = agg.b AND p.a = agg.dup_of
    """


@query("incremental_dedup", incremental_dedup_oracle(50, 0.5))
def q_incremental_dedup(spark, sf_dir):
    """C26/C27 (r08): incremental MinHash dedup — the md5-bucket lower
    half of the corpus plays the persisted index, the upper half is the
    incoming batch; index×index pairs are never enumerated. Same
    128-hash / 64-band / jaccard ≥ 0.5 regime as minhash_near_dups, so
    LSH recall is ≈ 1 and the exact-jaccard oracle (restricted to
    new-batch pairs with the min-partner survivor rule) is the full
    answer."""
    d = load(spark, sf_dir, "documents", spread=True)
    bucket = C.hash_bucket(F.col("doc_id"), 100)
    idx = d.filter(bucket < 50)
    new = d.filter(bucket >= 50)
    return D.incremental_near_duplicates(
        new, idx, "doc_id", "text", n=5, num_hashes=128, bands=64, threshold=0.5
    )


@query(
    "gopher_repetition",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    norm AS (
      SELECT doc_id, w, len(array_to_string(w, ' ')) AS nch
      FROM toks WHERE len(w) >= 2),
    grams AS (
      SELECT doc_id, nch, n, array_to_string(w[i:i+n-1], ' ') AS g
      FROM norm, UNNEST([2,3,4,5]) AS ns(n),
           UNNEST(generate_series(1, len(w) - n + 1)) AS t(i)),
    cnt AS (
      SELECT doc_id, n, g, count(*) AS c, any_value(nch) AS nch
      FROM grams GROUP BY 1, 2, 3),
    per_n AS (
      SELECT doc_id, n, max(c * len(g)) AS top_mass,
             sum(CASE WHEN c > 1 THEN (c-1) * len(g) ELSE 0 END) AS dup_mass,
             any_value(nch) AS nch
      FROM cnt GROUP BY 1, 2),
    f AS (
      SELECT doc_id,
        floor(coalesce(max(CASE WHEN n=2 THEN top_mass END), 0) / any_value(nch) * 10000.0 + 0.5) / 10000.0 AS top2_char_frac,
        floor(coalesce(max(CASE WHEN n=3 THEN top_mass END), 0) / any_value(nch) * 10000.0 + 0.5) / 10000.0 AS top3_char_frac,
        floor(coalesce(max(CASE WHEN n=4 THEN top_mass END), 0) / any_value(nch) * 10000.0 + 0.5) / 10000.0 AS top4_char_frac,
        floor(coalesce(max(CASE WHEN n=5 THEN dup_mass END), 0) / any_value(nch) * 10000.0 + 0.5) / 10000.0 AS dup5_char_frac
      FROM per_n GROUP BY 1)
    SELECT *,
           (top2_char_frac <= 0.20 AND top3_char_frac <= 0.18
            AND top4_char_frac <= 0.16 AND dup5_char_frac <= 0.15) AS keep
    FROM f
    """,
)
def q_gopher_repetition(spark, sf_dir):
    """C29 extension (r05): Gopher's full repetition-rule panel (Rae et
    al. 2021 §A1.1) — per-doc character mass of the top 2/3/4-gram,
    duplicated-5-gram mass, and the round-then-compare keep flag with
    the paper's thresholds (0.20/0.18/0.16/0.15). Complements r03's
    repetition_stats (single-n count-mass): this is the
    multi-resolution CHARACTER-mass panel production filters use. One
    explode covers all four n values; shuffles carry gram keys."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.gopher_repetition_flags(d, "doc_id", "text")


@query(
    "gopher_quality",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    f AS (
      SELECT doc_id,
             CAST(len(w) AS INT) AS n_words,
             floor(len(array_to_string(w, '')) / CAST(greatest(len(w), 1) AS DOUBLE)
                   * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
             CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                  ['the','and','of','to','a','in','is','it','that','for'])) AS INT) AS stopword_hits,
             floor(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   / CAST(greatest(len(w), 1) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS alpha_word_frac
      FROM toks)
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND stopword_hits >= 2 AND alpha_word_frac >= 0.80) AS keep
    FROM f
    """,
)
def q_gopher_quality(spark, sf_dir):
    """C29 extension (r05): Gopher's document-quality rule panel —
    word-count bounds, mean-word-length bounds, distinct-stopword
    minimum, alphabetic-word fraction, and the keep flag at the paper's
    thresholds (min_words=50 and stopword_hits>=2 split this corpus;
    verified non-constant at sf0.001/0.01). Zero shuffles — the whole
    panel is whole-stage-codegen Column expressions, a pure scan."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.gopher_quality_flags(d, "doc_id", "text")


@query(
    "pmi_collocations",
    """
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    uni AS (
      SELECT u.w1, count(*) AS cw
      FROM toks, UNNEST(w) AS u(w1) GROUP BY 1),
    n1 AS (SELECT sum(cw) AS n_tokens FROM uni),
    bi_all AS (
      SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS c12
      FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 2
      GROUP BY 1, 2),
    -- n_bigrams over ALL adjacent pairs, BEFORE the min-count guard
    -- (r06, ADVICE): true PMI normalizes by total bigram mass
    n2 AS (SELECT sum(c12) AS n_bigrams FROM bi_all),
    bi AS (SELECT * FROM bi_all WHERE c12 >= 20)
    SELECT bi.w1 || ' ' || bi.w2 AS bigram,
           CAST(c12 AS BIGINT) AS pair_count,
           round(log2((c12 / n_bigrams) /
                 ((u1.cw / n_tokens) * (u2.cw / n_tokens))), 4) AS pmi
    FROM bi
    JOIN uni u1 ON u1.w1 = bi.w1
    JOIN uni u2 ON u2.w1 = bi.w2
    CROSS JOIN n1 CROSS JOIN n2
    ORDER BY pmi DESC, bigram ASC
    LIMIT 20
    """,
)
def q_pmi_collocations(spark, sf_dir):
    """C29 extension (r05): top-20 collocations by pointwise mutual
    information (Church & Hanks 1990) with the standard min-count guard
    against the rare-pair PMI explosion. Everything after the two
    corpus passes (unigram + bigram counts) is vocabulary-scale; AQE
    broadcasts the aggregated unigram relation into the joins."""
    d = load(spark, sf_dir, "documents", spread=True)
    return X.pmi_collocations(d, "text", min_count=20, k=20)


@query(
    "ann_recall_report",
    f"""
    WITH cents AS (
      SELECT list_id, centroid
      FROM read_parquet('{IVF_ORACLE_CENTROIDS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND n_lists = 16 AND seed = 42),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 25 = 0),
    assign AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             (SELECT c.list_id FROM cents c
              ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.centroid) ASC,
                       c.list_id ASC
              LIMIT 1) AS list_id
      FROM embeddings e),
    probe AS (
      SELECT q.qid, c.list_id,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                        - 2 * list_dot_product(q.qv, c.centroid), 6) ASC,
                        c.list_id ASC) AS rn
      FROM q, cents c),
    pr AS (SELECT qid, list_id FROM probe WHERE rn <= 4),
    exact AS (
      SELECT q.qid, a.vec_id,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(a.v, q.qv), 4) DESC,
                        a.vec_id ASC) AS rn
      FROM q JOIN assign a ON a.vec_id <> q.qid),
    ex AS (SELECT qid, vec_id FROM exact WHERE rn <= 10),
    appr AS (
      SELECT q.qid, a.vec_id,
             row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(a.v, q.qv), 4) DESC,
                        a.vec_id ASC) AS rn
      FROM q
      JOIN pr ON pr.qid = q.qid
      JOIN assign a ON a.list_id = pr.list_id AND a.vec_id <> q.qid),
    ap AS (SELECT qid, vec_id FROM appr WHERE rn <= 10),
    hits AS (
      SELECT ex.qid, count(*) AS h
      FROM ex JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
      GROUP BY 1)
    SELECT q.qid, round(coalesce(h, 0) / 10.0, 4) AS recall_at_k
    FROM q LEFT JOIN hits ON hits.qid = q.qid
    """,
)
def q_ann_recall_report(spark, sf_dir):
    """C28 evaluation harness (r05): recall@10 of the IVF index
    (n_probe=4 of 16 lists) against exact brute-force cosine, per query
    of a 20-vector panel — the quality-vs-cost curve point you measure
    BEFORE settling an ANN configuration (Jégou et al. 2011). The panel
    collect is 20 rows (an eval panel is kilobytes by definition —
    same closure posture as the centroids); the corpus side is
    broadcast-hash equi-joined and two-phase top-k'd, never collected,
    never nested-looped. Oracle: DuckDB re-derives assignment, probe
    ranking, both top-k arms, and the overlap from the persisted
    centroid parquet."""
    cents, data_path = _ivf_layout(spark, sf_dir, n_lists=16, seed=42)
    corpus = spark.read.parquet(data_path)
    panel_rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 25 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    panel = [(int(r["vec_id"]), list(r["embedding"])) for r in panel_rows]
    return S.ann_recall_report(corpus, panel, cents, k=10, n_probe=4)


@query(
    "pq_recall_report",
    f"""
    WITH cb AS (
      SELECT subspace, code, centroid
      FROM read_parquet('{PQ_ORACLE_CODEBOOKS}')
      WHERE corpus_sig = ({IVF_SIG_SQL})
        AND m = 4 AND n_codes = 16 AND seed = 42),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 25 = 0),
    enc AS (
      SELECT e.vec_id, s.subspace,
             (SELECT c.code FROM cb c WHERE c.subspace = s.subspace
              ORDER BY list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
                       - 2 * list_dot_product(
                           CAST(e.embedding AS DOUBLE[])[s.subspace*16+1 : s.subspace*16+16],
                           c.centroid) ASC,
                       c.code ASC
              LIMIT 1) AS code
      FROM embeddings e, (SELECT DISTINCT subspace FROM cb) s),
    tab AS (
      SELECT q.qid, c.subspace, c.code,
             list_aggregate(list_transform(c.centroid, x -> x*x), 'sum')
             - 2 * list_dot_product(q.qv[c.subspace*16+1 : c.subspace*16+16], c.centroid)
             + list_aggregate(
                 list_transform(q.qv[c.subspace*16+1 : c.subspace*16+16], x -> x*x),
                 'sum') AS d
      FROM cb c, q),
    adc AS (
      SELECT t.qid, e.vec_id, round(sum(t.d), 4) AS dist
      FROM enc e JOIN tab t ON t.subspace = e.subspace AND t.code = e.code
      WHERE e.vec_id <> t.qid
      GROUP BY 1, 2),
    ap AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn
        FROM adc) WHERE rn <= 10),
    exact AS (
      SELECT q.qid, e.vec_id,
             round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                   - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   + list_dot_product(q.qv, q.qv), 4) AS dist
      FROM q JOIN embeddings e ON e.vec_id <> q.qid),
    ex AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn
        FROM exact) WHERE rn <= 10),
    hits AS (
      SELECT ex.qid, count(*) AS h
      FROM ex JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
      GROUP BY 1)
    SELECT q.qid, round(coalesce(h, 0) / 10.0, 4) AS recall_at_k
    FROM q LEFT JOIN hits ON hits.qid = q.qid
    """,
)
def q_pq_recall_report(spark, sf_dir):
    """C28 evaluation harness #2 (r05): recall@10 of PQ asymmetric
    distance (m=4, 16 codes) against exact squared-L2 per panel query —
    the compression-loss measurement next to ann_recall_report's
    pruning-loss one (together they separate the two error sources an
    IVF×PQ deployment composes). The oracle re-derives encoding,
    per-query distance tables, both top-k arms, and the overlap from
    the persisted codebook parquet."""
    books = _pq_codebooks(spark, sf_dir, m=4, n_codes=16, seed=42)
    corpus = load(spark, sf_dir, "embeddings", spread=True)
    panel_rows = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 25 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    panel = [(int(r["vec_id"]), list(r["embedding"])) for r in panel_rows]
    return S.pq_recall_report(corpus, panel, books, k=10)


@query(
    "minhash_error_report",
    f"""
    WITH {jaccard_ctes(0.2)},
    sig AS (
      SELECT s.doc_id, h.h,
             min(CAST('0x' || substr(md5(CAST(h.h AS VARCHAR) || ':' || s.s), 1, 15)
                      AS BIGINT)) AS mh
      FROM sh s, UNNEST(generate_series(0, 31)) AS h(h)
      GROUP BY 1, 2),
    est AS (
      SELECT p.a, p.b, p.jaccard,
             sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS minhash_est
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.a
      JOIN sig sb ON sb.doc_id = p.b AND sb.h = sa.h
      GROUP BY 1, 2, 3)
    SELECT a, b, jaccard, minhash_est,
           round(abs(minhash_est - jaccard), 6) AS abs_err
    FROM est
    """,
)
def q_minhash_error_report(spark, sf_dir):
    """C26/C27 evaluation harness (r05): MinHash estimator calibration —
    for every exact-jaccard ≥ 0.2 pair, the 32-component
    portable-minhash estimate, the exact value, and |error| (estimator
    std = √(j(1−j)/H), Broder 1997 — the measurement behind choosing
    num_hashes). Signatures hash (seed:shingle) with the
    engine-portable 60-bit md5 prefix, so the oracle re-derives the
    ESTIMATOR itself bit-exactly — the production xxhash64 path can
    only have its candidate recall checked. Signature relation is
    docs × 32 rows; estimates join it against the collision-sized
    exact-pair relation, never corpus × corpus."""
    d = load(spark, sf_dir, "documents", spread=True)
    return D.minhash_error_report(
        d, "doc_id", "text", n=5, num_hashes=32, threshold=0.2
    )


@query(
    "length_bias_audit",
    """
    WITH toks AS (
      SELECT lang,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    s AS (
      SELECT lang,
             CAST(len(w) AS DOUBLE) AS x,
             len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS y
      FROM toks WHERE len(w) > 0),
    m AS (
      SELECT lang, count(*) AS n,
             sum(x) / count(*) AS mx, sum(y) / count(*) AS my,
             sum(x*y) / count(*) AS mxy,
             sum(x*x) / count(*) AS mxx, sum(y*y) / count(*) AS myy
      FROM s GROUP BY 1)
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           round((mxy - mx*my) /
                 (sqrt(mxx - mx*mx) * sqrt(myy - my*my)), 4) AS corr_len_distinct
    FROM m
    WHERE (mxx - mx*mx) > 0 AND (myy - my*my) > 0
    """,
)
def q_length_bias_audit(spark, sf_dir):
    """Curation audit (r05): per-language Pearson correlation between
    document length and the distinct-token ratio — the bias a naive
    'low distinct ratio = low quality' gate inherits (longer docs
    repeat vocabulary naturally, so the correlation is strongly
    negative; a gate must band by length first — exactly what
    length_band_filter does). Moments are explicit expressions
    (formula-identical oracle); one scan, a per-lang aggregate."""
    d = load(spark, sf_dir, "documents", spread=True)
    w = X.tokens(F.col("text"))
    s = d.select(
        "lang",
        F.size(w).cast("double").alias("x"),
        (F.size(F.array_distinct(w)) / F.size(w).cast("double")).alias("y"),
    ).filter(F.col("x") > 0)
    n = F.count("*")
    mx, my = F.sum("x") / n, F.sum("y") / n
    mxy = F.sum(F.col("x") * F.col("y")) / n
    mxx = F.sum(F.col("x") * F.col("x")) / n
    myy = F.sum(F.col("y") * F.col("y")) / n
    m = s.groupBy("lang").agg(
        n.alias("n_docs"), mx.alias("_mx"), my.alias("_my"),
        mxy.alias("_mxy"), mxx.alias("_mxx"), myy.alias("_myy"),
    )
    vx = F.col("_mxx") - F.col("_mx") * F.col("_mx")
    vy = F.col("_myy") - F.col("_my") * F.col("_my")
    corr = F.round(
        (F.col("_mxy") - F.col("_mx") * F.col("_my"))
        / (F.sqrt(vx) * F.sqrt(vy)),
        4,
    )
    return (
        m.filter((vx > 0) & (vy > 0))
        .select("lang", "n_docs", corr.alias("corr_len_distinct"))
    )


@query(
    "embedding_winsorize",
    """
    WITH ex AS (
      SELECT i - 1 AS pos, CAST(embedding AS DOUBLE[])[i] AS val
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)),
    b AS (
      SELECT pos, quantile_cont(val, 0.05) AS lo, quantile_cont(val, 0.95) AS hi
      FROM ex GROUP BY 1),
    packed AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM b)
    SELECT e.vec_id,
           array_to_string(
             list_transform(generate_series(1, 64),
               i -> CAST(CAST(round(least(greatest(CAST(e.embedding[i] AS DOUBLE),
                                          p.los[i]), p.his[i]) * 10000.0) AS BIGINT)
                        AS VARCHAR)),
             ',') AS winsorized
    FROM embeddings e, packed p
    """,
)
def q_embedding_winsorize(spark, sf_dir):
    """Curation (r05): per-dimension winsorization at the corpus
    [p05, p95] — robust scaling before indexing/clustering so a few
    exploded activations can't dominate the geometry. Bounds from ONE
    explode + per-dim exact percentile (kilobytes, broadcast as two
    position-indexed arrays on one row); clipping is a scan-side zip —
    the corpus is never re-assembled from exploded rows. Values
    serialize as fixed-point ints (Spark's double→string uses
    scientific notation below 1e-3; DuckDB's doesn't). At 100 TB the
    exact percentile swaps for approx_percentile, same plan shape."""
    e = load(spark, sf_dir, "embeddings", spread=True)
    return C.winsorize_embeddings(e, 0.05, 0.95)


@query(
    "langid_confusion",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS tk
      FROM documents),
    hits AS (
      SELECT doc_id, lang,
        len(list_filter(tk, x -> x IN ('the','and','of','to','a','in','is','it','that','for')))
          / greatest(len(tk), 1) AS s_en,
        len(list_filter(tk, x -> x IN ('el','la','de','que','y','en','un','por','con','los')))
          / greatest(len(tk), 1) AS s_es,
        len(list_filter(tk, x -> x IN ('le','la','de','et','les','des','un','une','dans','est')))
          / greatest(len(tk), 1) AS s_fr,
        len(list_filter(tk, x -> x IN ('der','die','das','und','in','den','von','zu','mit','ist')))
          / greatest(len(tk), 1) AS s_de,
        len(list_filter(tk, x -> x IN ('的','了','在','是','我','有','和','就','不','人')))
          / greatest(len(tk), 1) AS s_zh
      FROM scored),
    pred AS (
      SELECT doc_id, lang,
             CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
                  WHEN s_zh = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'zh'
                  WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'fr'
                  WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'es'
                  WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_zh) THEN 'en'
                  ELSE 'de' END AS lang_pred
      FROM hits),
    tot AS (SELECT lang, count(*) AS n_lang FROM pred GROUP BY 1)
    SELECT p.lang, p.lang_pred,
           CAST(count(*) AS BIGINT) AS n,
           floor(count(*) / CAST(any_value(t.n_lang) AS DOUBLE) * 10000 + 0.5) / 10000
             AS frac_of_lang
    FROM pred p JOIN tot t ON t.lang = p.lang
    GROUP BY 1, 2
    """,
)
def q_langid_confusion(spark, sf_dir):
    """C29 evaluation harness (r05): the language-ID confusion matrix —
    per (labeled lang, predicted lang) counts and the row-normalized
    fraction, the standard classifier-quality read a pipeline runs
    before trusting a lang gate (diagonal = per-language recall). One
    scan for the stopword-evidence argmax (lang_id_oracle's exact
    cascade), a 5×~6-cell aggregate, and a broadcast per-lang total
    join — corpus-linear, output label-space-sized."""
    d = X.detect_language(load(spark, sf_dir, "documents", spread=True))
    pred = d.select("doc_id", "lang", "lang_pred")
    tot = pred.groupBy(F.col("lang").alias("_l")).agg(
        F.count("*").alias("_n_lang")
    )
    return (
        pred.join(F.broadcast(tot), pred.lang == F.col("_l"))
        .groupBy("lang", "lang_pred")
        .agg(
            F.count("*").alias("n"),
            # floor-fixed rounding (r06, ADVICE): count/n_lang is a
            # ratio of integers — 1/160-style values land exactly on
            # .5 decimal boundaries where Spark round() (HALF_UP on
            # the decimal rendering) and DuckDB round() (nearest
            # binary double) diverge. Same fix as gopher_*/gap_fill.
            (
                F.floor(
                    F.count("*") / F.first("_n_lang").cast("double") * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("frac_of_lang"),
        )
    )




# =====================================================================
# r06 second session — ExactSubstr dedup (Lee et al., ACL 2022)
# =====================================================================

def _exactsubstr_ctes(window: int, min_occ: int) -> str:
    """Shared CTE prefix for the ExactSubstr family: token positions,
    sliding md5 window hashes, duplicated contents with their canonical
    (min (doc, pos)) occurrence, and the verdict fanned back to
    occurrences — the DuckDB rendering of
    operators/dedup.py::duplicate_window_occurrences. One parameterized
    fragment feeds both oracles and the randomized sweep (the jaccard
    consolidation lesson, VERDICT r05 #4)."""
    k = window - 1
    return f"""wt AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    toks AS (
      SELECT doc_id, i - 1 AS pos, w[i] AS tok
      FROM wt, UNNEST(generate_series(1, len(w))) AS t(i)),
    win AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+{k}], ' ')) AS wh
      FROM wt, UNNEST(generate_series(1, len(w) - {k})) AS t(i)),
    dup AS (
      SELECT wh, count(*) AS n_occ,
             min(struct_pack(d := doc_id, p := pos)) AS c
      FROM win GROUP BY wh HAVING count(*) >= {min_occ}),
    occ AS (
      SELECT w.doc_id, w.pos, d.n_occ,
             (w.doc_id = d.c.d AND w.pos = d.c.p) AS is_canonical
      FROM win w JOIN dup d USING (wh))"""


def exactsubstr_spans_oracle(window: int = 8, min_occ: int = 2) -> str:
    return f"""
    WITH {_exactsubstr_ctes(window, min_occ)},
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM occ),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > {window} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {window - 1} AS BIGINT) AS span_end,
           CAST(max(pos) - min(pos) + {window} AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """


def exactsubstr_dedup_oracle(window: int = 8, min_occ: int = 2) -> str:
    return f"""
    WITH {_exactsubstr_ctes(window, min_occ)},
    cov AS (
      SELECT DISTINCT o.doc_id, o.pos + g.off AS pos
      FROM occ o, UNNEST(generate_series(0, {window - 1})) AS g(off)
      WHERE NOT o.is_canonical),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
      WHERE c.doc_id IS NULL),
    ka AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id),
    st AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
    SELECT CAST(st.doc_id AS BIGINT) AS doc_id,
           CAST(st.n_tokens AS BIGINT) AS n_tokens,
           CAST(st.n_tokens - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(ka.clean_text, '') AS clean_text
    FROM st LEFT JOIN ka USING (doc_id)
    ORDER BY st.doc_id
    """


@query("exact_substring_spans", exactsubstr_spans_oracle(window=8, min_occ=2))
def q_exact_substring_spans(spark, sf_dir):
    """C26 extension (r06): ExactSubstr span mining (Lee et al., ACL
    2022) — every maximal corpus-duplicated span per document, as
    (doc, token-start, token-end, length, window count). Lee et al.'s
    suffix array is single-machine; the distributed shape is sliding
    8-token windows keyed by md5, duplicated-window islands merged
    per document. Windows hash scan-side (zero shuffles to build),
    shuffles carry 16-byte keys, island merging is a per-document
    window pass. Complements winnow_overlap (which FINDS overlapping
    pairs); this localizes the duplicated SPANS and feeds removal."""
    d = load(spark, sf_dir, "documents", spread=True)
    s = D.duplicate_spans(d, id_col="doc_id", text_col="text", window=8)
    return s.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"),
        F.col("n_windows").cast("bigint").alias("n_windows"),
    )


@query("exact_substring_dedup", exactsubstr_dedup_oracle(window=8, min_occ=2))
def q_exact_substring_dedup(spark, sf_dir):
    """C26 extension (r06): ExactSubstr REMOVAL — drop every token
    covered by a non-canonical duplicated 8-token window (one copy of
    each duplicated substring survives, at the smallest (doc, pos) so
    both engines pick the same survivor) and re-assemble the cleaned
    text. The per-document re-assembly is array_sort(collect_list)
    over single-document groups — bounded by document length."""
    d = load(spark, sf_dir, "documents", spread=True)
    r = D.remove_duplicate_spans(d, id_col="doc_id", text_col="text", window=8)
    return r.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_removed").cast("bigint").alias("n_removed"),
        F.col("clean_text"),
    )


def duplication_report_oracle(window: int = 8, min_occ: int = 2) -> str:
    return f"""
    WITH {_exactsubstr_ctes(window, min_occ)},
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM occ),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > {window} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged),
    spans AS (
      SELECT doc_id, max(pos) - min(pos) + {window} AS span_tokens
      FROM isl GROUP BY doc_id, island),
    per_doc AS (SELECT doc_id, sum(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id),
    base AS (
      SELECT d.doc_id, d.lang, len(w.w) AS n_tokens
      FROM documents d JOIN wt w USING (doc_id))
    SELECT b.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE coalesce(p.dup_tokens, 0) > 0) AS BIGINT) AS dup_docs,
           CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
           floor(sum(coalesce(p.dup_tokens, 0)) * 1000000.0 / sum(b.n_tokens) + 0.5) / 1000000.0
             AS dup_ratio
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    GROUP BY b.lang ORDER BY b.lang
    """


@query("duplication_report", duplication_report_oracle(window=8, min_occ=2))
def q_duplication_report(spark, sf_dir):
    """C97 companion (r06-s2): the corpus duplication AUDIT — per
    language: document count, documents carrying any duplicated span,
    token mass, duplicated-token mass (islands are disjoint per doc so
    span lengths sum exactly), and the duplication ratio (portable
    floor-fixed rounding — integer-ratio .5 boundaries diverge between
    engines otherwise). The go/no-go read BEFORE running ExactSubstr
    removal at 100 TB: output is language-cardinality-sized, cost is
    the span mining itself."""
    d = load(spark, sf_dir, "documents", spread=True)
    spans = D.duplicate_spans(d, id_col="doc_id", text_col="text", window=8)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_tokens").alias("dup_tokens"))
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    base = d.select("doc_id", "lang", F.size(words).alias("n_tokens"))
    j = base.join(per_doc, "doc_id", "left").withColumn(
        "dup_tokens", F.coalesce(F.col("dup_tokens"), F.lit(0))
    )
    ratio = F.col("dup_tokens_sum") * F.lit(1000000.0) / F.col("total_tokens")
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("dup_tokens") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("dup_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("dup_tokens").cast("bigint").alias("dup_tokens_sum"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "dup_docs",
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.col("dup_tokens_sum").alias("dup_tokens"),
            (F.floor(ratio + F.lit(0.5)) / F.lit(1000000.0)).alias("dup_ratio"),
        )
    )


def lsh_recall_oracle(
    num_hashes: int = 32, rows_per_band: int = 2, thr: float = 0.2, n: int = 5
) -> str:
    """lsh_recall_report's oracle parameterized over (H, r, threshold,
    shingle n) — shared by the catalog query and the randomized sweep
    (band equality must agree between engines at EVERY (b, r) point,
    not just the shipped one)."""
    return f"""
    WITH {jaccard_ctes(thr, n)},
    sig AS (
      SELECT s.doc_id, h.h,
             min(CAST('0x' || substr(md5(CAST(h.h AS VARCHAR) || ':' || s.s), 1, 15)
                      AS BIGINT)) AS mh
      FROM sh s, UNNEST(generate_series(0, {num_hashes - 1})) AS h(h)
      GROUP BY 1, 2),
    band_hits AS (
      SELECT p.a, p.b, p.jaccard, CAST(floor(sa.h / {rows_per_band}) AS BIGINT) AS band,
             min(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS beq
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.a
      JOIN sig sb ON sb.doc_id = p.b AND sb.h = sa.h
      GROUP BY 1, 2, 3, 4),
    pair_hits AS (
      SELECT a, b, jaccard, max(beq) AS hit
      FROM band_hits GROUP BY 1, 2, 3)
    SELECT floor(jaccard * 10 + 1e-9) / 10.0 AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           floor(sum(hit) * 10000.0 / count(*) + 0.5) / 10000.0 AS recall
    FROM pair_hits
    GROUP BY 1 ORDER BY 1
    """


@query("lsh_recall_report", lsh_recall_oracle(32, 2, 0.2, 5))
def q_lsh_recall_report(spark, sf_dir):
    """C94 companion (r06-s2): the FIFTH eval harness — MinHash BANDING
    recall per jaccard bucket (32 hashes, 16 bands × 2 rows), i.e.
    where the 1−(1−j^r)^b candidate-probability cliff actually sits on
    this corpus. minhash_error_report checks the ESTIMATOR; this
    checks the CANDIDATE GENERATION policy built on it. Portable md5
    signatures → the oracle re-derives signatures, band equality, and
    bucketed recall bit-exactly; a pair's candidacy needs only its own
    two signature vectors, so the whole report runs on the
    collision-sized pair relation."""
    d = load(spark, sf_dir, "documents", spread=True)
    return D.lsh_banding_recall_report(
        d, "doc_id", "text", n=5, num_hashes=32, rows_per_band=2, threshold=0.2
    )


def exactsubstr_incremental_oracle(window: int = 8, split_mod: int = 2) -> str:
    k = window - 1
    return f"""
    WITH wt AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents),
    win AS (
      SELECT doc_id, i - 1 AS pos, md5(array_to_string(w[i:i+{k}], ' ')) AS wh
      FROM wt, UNNEST(generate_series(1, len(w) - {k})) AS t(i)),
    idx AS (SELECT DISTINCT wh FROM win WHERE doc_id % {split_mod} = 0),
    new_occ AS (SELECT doc_id, pos, wh FROM win WHERE doc_id % {split_mod} <> 0),
    within AS (SELECT wh FROM new_occ GROUP BY wh HAVING count(*) >= 2),
    dup AS (
      SELECT DISTINCT o.doc_id, o.pos
      FROM new_occ o
      WHERE o.wh IN (SELECT wh FROM idx) OR o.wh IN (SELECT wh FROM within)),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM dup),
    isl AS (
      SELECT doc_id, pos,
             sum(CASE WHEN prev IS NULL OR pos - prev > {window} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {window - 1} AS BIGINT) AS span_end,
           CAST(max(pos) - min(pos) + {window} AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """


@query("exact_substring_incremental", exactsubstr_incremental_oracle(8, 2))
def q_exact_substring_incremental(spark, sf_dir):
    """C97 companion (r06-s2): the INCREMENTAL ExactSubstr path under a
    driver oracle — even-id documents stand in for the already-indexed
    corpus (their DISTINCT window hashes are the persisted index),
    odd-id documents are the arriving batch, and the reported spans
    are (in-index OR repeated-within-batch) positions island-merged
    exactly like the batch operator. The batch-equality property is
    pytest-pinned; this puts the probe join + union + merge PLAN under
    the same hash-checked differential gate as everything else."""
    d = load(spark, sf_dir, "documents", spread=True)
    idx = D.prepare_window_index(d.where(F.col("doc_id") % 2 == 0), window=8)
    arriving = d.where(F.col("doc_id") % 2 != 0)
    s = D.duplicate_spans_incremental(idx, arriving, window=8)
    return s.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"),
        F.col("n_windows").cast("bigint").alias("n_windows"),
    )
