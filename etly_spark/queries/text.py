"""Text-analysis queries over the documents table.

North-star surface (absent in the reference — SURVEY §2.2 scalar-library
row): language-ID (marker-token heuristic), quality scoring, token
counting (whitespace + BPE-ish chunking), document fingerprinting.

Every query is a scan-project (+ one small aggregation) — no joins, no
per-row Python — so at 100 TB each runs embarrassingly parallel with
column pruning to exactly (doc_id, text[, lang, source]).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etly_spark.functions import text as T
from etly_spark.io.tables import load_table
from etly_spark.operators.quality import LR_SOLVE_SQL as _LR_SOLVE_SQL
from etly_spark.operators.quality import LR_STATS_SQL as _LR_STATS_SQL
from etly_spark.queries.catalog import query

# DuckDB twin of functions.text.tokens(...)
_SQL_TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"


def _sql_marker_hits(markers: list[str]) -> str:
    arr = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter(toks, t -> list_contains({arr}, t)))"


@query(
    "text_token_stats",
    oracle=f"""
    WITH tok AS (
      SELECT lang, {_SQL_TOKS} AS toks FROM documents
    ), ex AS (
      SELECT lang, unnest(toks) AS tok, len(toks) AS n FROM tok
    )
    SELECT lang,
           COUNT(DISTINCT tok) AS distinct_tokens,
           CAST(SUM(length(tok)) AS BIGINT) AS total_token_chars,
           COUNT(*) AS total_tokens
    FROM ex
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Whitespace tokenization + per-language token statistics "
    "(explode → partial agg; one shuffle on the 5-value lang key).",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ex = d.select("lang", F.explode(T.tokens("text")).alias("tok"))
    return (
        ex.groupBy("lang")
        .agg(
            F.countDistinct("tok").alias("distinct_tokens"),
            F.sum(F.length("tok")).alias("total_token_chars"),
            F.count(F.lit(1)).alias("total_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "text_token_count",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, n_chars, {_SQL_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           CAST(list_sum(list_transform(toks, t -> (length(t)+3)//4)) AS BIGINT) AS n_bpe_tokens,
           n_chars
    FROM tok
    ORDER BY doc_id
    """,
    doc="Per-document token counting: whitespace tokens + BPE-ish "
    "ceil(len/4) subword chunks. Pure scan-project, zero shuffles.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
        "n_chars",
    ).orderBy("doc_id")


_SQL_STOP = _sql_marker_hits(T.STOPWORDS)


@query(
    "text_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), c AS (
      SELECT doc_id,
             least(len(toks) / 100.0, 1.0) AS length_c,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS diversity,
             1.0 - (CASE WHEN len(toks) > 0
                         THEN {_SQL_STOP} / CAST(len(toks) AS DOUBLE)
                         ELSE 0.0 END) AS stop_c
      FROM tok
    )
    , tmodal AS (
      SELECT doc_id, max(cnt) AS m FROM (
        SELECT doc_id, t, count(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY 1, 2
      ) GROUP BY 1
    ), bmodal AS (
      SELECT doc_id, max(cnt) AS m FROM (
        SELECT doc_id, g, count(*) AS cnt
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                            i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
              FROM tok WHERE len(toks) >= 2) GROUP BY 1, 2
      ) GROUP BY 1
    ), rep AS (
      SELECT tok.doc_id,
             CASE WHEN len(toks) > 0
                  THEN tmodal.m / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS top_token_frac,
             CASE WHEN len(toks) > 1
                  THEN bmodal.m / CAST(len(toks) - 1 AS DOUBLE) ELSE 0.0 END AS top_bigram_frac
      FROM tok
      LEFT JOIN tmodal ON tok.doc_id = tmodal.doc_id
      LEFT JOIN bmodal ON tok.doc_id = bmodal.doc_id
    )
    , feat AS (
      SELECT c.doc_id, round(diversity, 6) AS r1, round(stop_c, 6) AS r2,
             CASE WHEN top_token_frac > 0.2 THEN 1 ELSE 0 END AS y
      FROM c JOIN rep ON c.doc_id = rep.doc_id
    ), st AS (
      {_LR_STATS_SQL} FROM feat
    ), w AS (
      {_LR_SOLVE_SQL} FROM st
    )
    SELECT c.doc_id,
           round(length_c * 0.3 + diversity * 0.4 + stop_c * 0.3, 6) AS quality,
           CASE WHEN length_c * 0.3 + diversity * 0.4 + stop_c * 0.3 >= 0.75 THEN 'high'
                WHEN length_c * 0.3 + diversity * 0.4 + stop_c * 0.3 >= 0.55 THEN 'medium'
                ELSE 'low' END AS bucket,
           round(top_token_frac, 6) AS top_token_frac,
           round(top_bigram_frac, 6) AS top_bigram_frac,
           top_token_frac > 0.2 OR top_bigram_frac > 0.18 AS repetitive,
           round(w.w0 + w.w1 * round(diversity, 6) + w.w2 * round(stop_c, 6), 6) AS clf_score,
           (w.w0 + w.w1 * round(diversity, 6) + w.w2 * round(stop_c, 6)) * st.n
             >= 2.0 * st.sy AND st.sy > 0 AS clf_flag
    FROM c JOIN rep ON c.doc_id = rep.doc_id CROSS JOIN w CROSS JOIN st
    ORDER BY c.doc_id
    """,
    doc="Quality scoring: length + lexical-diversity + stopword-density "
    "composite, bucketed for filtering a training corpus; plus "
    "Gopher-style repetition signals (modal-token fraction, modal-bigram "
    "fraction, and a repetitive flag at the 0.2/0.18 thresholds). "
    "clf_score/clf_flag (r9) — a TRAINED linear classifier "
    "(operators/quality.py, config-addressable as etly.QualityScore): "
    "closed-form least squares predicting the expensive modal-token "
    "repetition label from two cheap ratio features; exact DECIMAL "
    "sufficient statistics (one 9-number corpus-size-independent "
    "collect), Cramer solve in a canonical operation order the oracle "
    "replicates VERBATIM in SQL — the per-doc score doubles match "
    "bit-for-bit; flag at 2x corpus prior, division-free. "
    "Repetition is computed INSIDE the row — sort + one fold tracking "
    "the longest equal-run (functions.text.modal_count), O(n log n) per "
    "doc, zero shuffle — instead of explode + groupBy, which would "
    "shuffle the whole token stream at 100 TB to answer a per-document "
    "question. (The oracle, which has no such constraint, uses plain "
    "unnest + GROUP BY.)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Per-TERM signals come from the STAGED postings table (r15, guide
    # §1.2 — the same move as text_top_terms): (doc_id, term, tf)
    # already encodes total tokens (sum tf), distinct tokens (row
    # count), stopword hits (sum tf over the 8 stopword terms) and the
    # modal-token count (max tf) — re-deriving them per row re-did the
    # regex tokenize + array_distinct + marker filter + sort-fold that
    # the postings build already paid. All ratios divide the SAME
    # integers as the in-row forms did, so the doubles are
    # bit-identical. Bigram features need the raw adjacency stream, so
    # ONE tokenize scan remains — it computes only the modal-bigram
    # count, projected to a scalar before the join (guide §2.3).
    per_doc = bm25_postings(spark, sf_dir).groupBy("doc_id").agg(
        F.sum("tf").alias("_n"),
        F.count(F.lit(1)).alias("_nd"),
        F.sum(
            F.when(F.col("term").isin(*T.STOPWORDS), F.col("tf")).otherwise(F.lit(0))
        ).alias("_ns"),
        F.max("tf").alias("_nm"),
    )
    # the one remaining tokenize pass: token array materialized as a
    # CHILD projection column (lambda bodies bind a cheap attribute —
    # inlined, element_at(tokens_expr, i) re-tokenizes per element,
    # O(n^2) regex work per doc, measured 25x slower at sf0.1)
    bg = d.select("doc_id", T.tokens("text").alias("toks")).select(
        "doc_id", T.modal_count(T.bigrams(F.col("toks"))).alias("_bm")
    )
    # empty docs have no postings rows: left join + n=0 defaults keep
    # them (length_c 0, diversity 0, stop_c 1, fractions 0 — exactly
    # the in-row forms' empty-array values)
    d = bg.join(per_doc, "doc_id", "left")
    n = F.coalesce(F.col("_n"), F.lit(0))
    length_c = F.least(n / F.lit(100.0), F.lit(1.0))
    diversity = F.when(n > 0, F.col("_nd") / n).otherwise(F.lit(0.0))
    stop_c = F.lit(1.0) - F.when(n > 0, F.col("_ns") / n).otherwise(F.lit(0.0))
    raw = length_c * 0.3 + diversity * 0.4 + stop_c * 0.3
    # trained classifier (r9): closed-form least-squares over (r1, r2)
    # with the heuristic gate as the weak label — ONE 9-number
    # map-side-combinable aggregate to the driver (corpus-size
    # independent), Cramer solve in the canonical operation order the
    # oracle mirrors, then a codegen'd linear projection per row. The
    # stats row is STAGED (r13, the _pq_codebook_path rule): training
    # is deterministic per corpus and the aggregate is a full tokenize
    # pass — an index-build cost a pipeline pays once per corpus
    # snapshot, not once per query. DECIMAL sums are exact through the
    # parquet roundtrip, so the staged weights are bit-identical.
    from etly_spark.io.staging import stage_row
    from etly_spark.operators.quality import (
        lr_features,
        lr_stats_plan,
        solve_weights,
        stats_from_row,
    )

    def _stats_plan():
        # stage BUILD (once per corpus snapshot): the in-row feature
        # forms over a tokenize pass — lr_features is the canonical
        # definition the oracle mirrors, and the build cost is paid
        # outside the per-query path
        dd = load_table(spark, sf_dir, "documents").select(
            "doc_id", T.tokens("text").alias("toks")
        )
        feats = lr_features(F.col("toks"))
        return lr_stats_plan(
            dd.select(
                feats["r1"].alias("r1"),
                feats["r2"].alias("r2"),
                feats["y"].alias("y"),
            )
        )

    stats = stats_from_row(
        stage_row(
            spark,
            f"quality-lr-stats:{sf_dir}",
            _stats_plan,
            deps=[os.path.join(sf_dir, "documents.parquet")],
        )
    )
    w0, w1, w2 = solve_weights(stats)
    # scoring features: the postings-derived ratios, rounded at the
    # same 6-dp exactness boundary as lr_features' in-row forms (the
    # integers dividing are identical, so the doubles are too)
    r1 = F.round(diversity, 6)
    r2 = F.round(stop_c, 6)
    clf_raw = F.lit(w0) + F.lit(w1) * r1 + F.lit(w2) * r2
    # modal-token fraction from the postings max-tf; modal-bigram from
    # the one remaining tokenize scan (computed pre-join as _bm)
    top_tok = F.when(n > 0, F.col("_nm") / n).otherwise(F.lit(0.0))
    top_bg = F.when(n > 1, F.col("_bm") / (n - 1)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.round(raw, 6).alias("quality"),
        F.when(raw >= 0.75, F.lit("high"))
        .when(raw >= 0.55, F.lit("medium"))
        .otherwise(F.lit("low"))
        .alias("bucket"),
        F.round(top_tok, 6).alias("top_token_frac"),
        F.round(top_bg, 6).alias("top_bigram_frac"),
        ((top_tok > 0.2) | (top_bg > 0.18)).alias("repetitive"),
        F.round(clf_raw, 6).alias("clf_score"),
        # flag at 2x the corpus prior, division-free (score*n >= 2*sy);
        # the sy > 0 conjunct keeps a zero-prior corpus (no doc trips
        # the weak label, so the least-squares weights are exactly 0
        # and score*n >= 0 would flag EVERYTHING) flag-free — r10,
        # mirrored by the oracle's AND st.sy > 0
        (
            (clf_raw * F.lit(stats["n"]) >= F.lit(2.0) * F.lit(stats["sy"]))
            & F.lit(stats["sy"] > 0)
        ).alias("clf_flag"),
    ).orderBy("doc_id")


_S = {lang: _sql_marker_hits(m) for lang, m in T.LANG_MARKERS.items()}


@query(
    "text_langid",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id, lang,
             {_S['en']} AS s_en, {_S['es']} AS s_es,
             {_S['de']} AS s_de, {_S['fr']} AS s_fr
      FROM tok
    ), p AS (
      SELECT lang,
             CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
                  WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                  WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                  WHEN s_fr > 0 THEN 'fr'
                  ELSE 'und' END AS predicted
      FROM s
    )
    SELECT lang AS label, predicted, COUNT(*) AS n
    FROM p GROUP BY label, predicted
    ORDER BY label, predicted
    """,
    doc="Language-ID by marker-token profile scoring (n-gram-heuristic "
    "shape) + label confusion counts. Swap-in point for real trigram "
    "profiles; the plan (scan-project + small agg) is the deliverable.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pred = T.langid(T.tokens("text"))
    return (
        d.select(F.col("lang").alias("label"), pred.alias("predicted"))
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "predicted")
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 40)) AS fp
      FROM documents
    )
    SELECT fp, COUNT(*) AS cluster_size, MIN(doc_id) AS keep_doc
    FROM fp
    GROUP BY fp
    HAVING COUNT(*) > 1
    ORDER BY fp
    """,
    doc="Document fingerprinting: md5 of the normalized 40-char prefix "
    "(rolling-hash stand-in); clusters >1 are duplicate candidates.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.substring(T.normalize_text("text"), 1, 40).cast("binary"))
    return (
        d.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("cluster_size") > 1)
        .orderBy("fp")
    )


def bm25_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STAGED inverted-postings table (doc_id, term, tf) —
    r12, verdict item 5: bm25's docstring promised 'at scale tf is the
    staged inverted-postings table' while computing it in-DAG per run.
    Built once per process (fingerprinted on documents.parquet, the
    ivf_assignments contract); the bm25 probe then reads it with a
    pushed term-IN filter — an index lookup, not a tokenize pass."""
    from etly_spark.io.staging import stage_table

    return stage_table(
        spark,
        f"bm25-postings::{os.path.abspath(sf_dir)}",
        lambda: (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", F.explode(T.tokens("text")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        ),
        deps=[os.path.join(sf_dir, "documents.parquet")],
    )


_BM25INC_EPOCHS = 8  # arrival shards: doc_id % 8 stands in for order
_BM25INC_DEL = "doc_id % 10 = 7"  # the checked deletion batch


def bm25_inc_index(spark: SparkSession, sf_dir: str) -> str:
    """The incrementally-maintained BM25 index for ``sf_dir`` (staged
    once per process — the ivfpq_inc_index contract): the corpus
    arrives as _BM25INC_EPOCHS shards, each folded O(shard) as its own
    postings/doclen/stats epoch partitions (operators/bm25.
    fold_bm25_epoch — earlier epochs never read or rewritten), then a
    deletion batch lands as a tombstone partition. BM25's statistics
    are linear in documents, so unlike the ANN index there is nothing
    to freeze: the folded index minus tombstones equals the batch
    build over the live docs exactly — the gated 'bm25_inc' variant of
    text_top_terms proves that cross-engine."""
    from etly_spark.io.staging import stage_dir
    from etly_spark.operators.bm25 import fold_bm25_epoch, fold_bm25_tombstones

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for e in range(_BM25INC_EPOCHS):
            fold_bm25_epoch(d.where(F.col("doc_id") % _BM25INC_EPOCHS == e), tmp, e)
        fold_bm25_tombstones(d.where(F.expr(_BM25INC_DEL)), tmp, 0)

    return stage_dir("bm25-inc", [os.path.join(sf_dir, "documents.parquet")], build)


def bm25_df_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged (term, df) — derived from the staged postings (one
    column-pruned scan at build), probed broadcast per query."""
    from etly_spark.io.staging import stage_table

    return stage_table(
        spark,
        f"bm25-df::{os.path.abspath(sf_dir)}",
        lambda: bm25_postings(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df")),
        deps=[os.path.join(sf_dir, "documents.parquet")],
    )


@query(
    "text_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKS}) AS term FROM documents
    ), counts AS (
      SELECT term, COUNT(*) AS n FROM tok GROUP BY term
    ), ranked AS (
      SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rank
      FROM counts
    ), tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
      GROUP BY 1, 2
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), nd AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, term,
             round(tf * ln(n_docs / CAST(df AS DOUBLE)), 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN nd
    ), chosen AS (
      SELECT doc_id, term
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) = 1
    ), champ AS (
      SELECT term, COUNT(*) AS n,
             row_number() OVER (ORDER BY COUNT(*) DESC, term) AS rank
      FROM chosen GROUP BY term
    )
    SELECT 'freq' AS variant, rank, term, n FROM ranked WHERE rank <= 20
    UNION ALL
    SELECT 'tfidf', rank, term, n FROM champ WHERE rank <= 20
    UNION ALL
    SELECT 'bm25', rank, term, n FROM (
      -- BM25 retrieval (r11): the audit/inspection primitive a corpus
      -- operator runs ("which docs dominate this term"). Queries are
      -- CORPUS-DERIVED (freq ranks 5/10/15 — present at any SF); k1 =
      -- 1.2, b = 0.75 (Robertson defaults); dl/avgdl from the same
      -- tokenizer as tf. Scores round to 6 dp BEFORE ranking (the
      -- tfidf ln-ULP rule) and ship as round(score*1e6) so the row
      -- keeps its BIGINT n column.
      WITH dl AS (
        SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
      ), stats AS (
        SELECT SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl
      ), q AS (
        SELECT term FROM ranked WHERE rank IN (5, 10, 15)
      ), sc AS (
        SELECT q.term, tf.doc_id,
               round(
                 ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                 * tf * (1.2 + 1)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)), 6) AS score
        FROM q
        JOIN tf ON tf.term = q.term
        JOIN df ON df.term = q.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN nd CROSS JOIN stats
      )
      SELECT row_number() OVER (PARTITION BY sc.term
                                ORDER BY score DESC, doc_id) AS rank,
             sc.term || ':' || doc_id AS term,
             CAST(round(score * 1000000) AS BIGINT) AS n
      FROM sc
      QUALIFY rank <= 10
    )
    UNION ALL
    SELECT 'bm25_inc', rank, term, n FROM (
      -- Incremental BM25 (r13): the engine probes a FOLDED index
      -- (O(shard) epoch partitions + a doc tombstone batch,
      -- operators/bm25.py); BM25 statistics are linear, so the fold
      -- minus deletions equals THIS batch build over the live docs —
      -- same formula as 'bm25', every statistic (tf/df/dl/avgdl/
      -- n_docs) over documents excluding doc_id % 10 = 7. n_docs and
      -- avgdl count docs with >= 1 token (the doclen table IS the doc
      -- registry in a fold-only index).
      WITH lt AS (
        SELECT doc_id, term, tf FROM tf WHERE NOT (doc_id % 10 = 7)
      ), ldf AS (
        SELECT term, COUNT(*) AS df FROM lt GROUP BY term
      ), ldl AS (
        SELECT doc_id, SUM(tf) AS dl FROM lt GROUP BY doc_id
      ), lnd AS (
        SELECT COUNT(*) AS n_docs FROM ldl
      ), lstats AS (
        SELECT SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM ldl
      ), q AS (
        SELECT term FROM ranked WHERE rank IN (5, 10, 15)
      ), sc AS (
        SELECT q.term, lt.doc_id,
               round(
                 ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                 * tf * (1.2 + 1)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * ldl.dl / avgdl)), 6) AS score
        FROM q
        JOIN lt ON lt.term = q.term
        JOIN ldf ON ldf.term = q.term
        JOIN ldl ON ldl.doc_id = lt.doc_id
        CROSS JOIN lnd CROSS JOIN lstats
      )
      SELECT row_number() OVER (PARTITION BY sc.term
                                ORDER BY score DESC, doc_id) AS rank,
             sc.term || ':' || doc_id AS term,
             CAST(round(score * 1000000) AS BIGINT) AS n
      FROM sc
      QUALIFY rank <= 10
    )
    UNION ALL
    SELECT 'hosts', rank, term, n FROM (
      -- canonical-host rollup over deliberately messy URLs (uppercase
      -- scheme/host, www., explicit port, tracking query, fragment):
      -- the SQL replicates functions/url.url_host exactly, so the row
      -- hash-gates the canonicalization semantics cross-engine
      SELECT term, COUNT(*) AS n,
             row_number() OVER (ORDER BY COUNT(*) DESC, term) AS rank
      FROM (
        SELECT regexp_replace(
                 lower(regexp_replace(
                   regexp_extract(
                     regexp_replace(
                       'HTTPS://WWW.News-' || (doc_id % 7)
                       || '.Example.COM:443/articles/' || doc_id
                       || '?utm_source=feed&id=' || doc_id || '#section-2',
                       '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),
                     '^([^/?#]*)', 1),
                   ':[0-9]+$', '')),
                 '^www\\.', '') AS term
        FROM documents
      ) GROUP BY term
    ) WHERE rank <= 20
    ORDER BY variant, rank
    """,
    doc="Vocabulary top-k, two tagged variants. freq — global term "
    "frequencies, top-20 with deterministic (count, term) tie-break: "
    "the tokenizer-vocab building block (explode → map-side-combined "
    "count → tiny top-k). tfidf — characteristic-term extraction: each "
    "doc's argmax-TF-IDF term (score = tf * ln(N/df), rounded before "
    "ranking so cross-engine ln() ULP drift cannot flip the argmax; "
    "ties to the smallest term), then the top-20 terms by how many "
    "docs they characterize — the IR view of the same vocabulary. "
    "bm25 (r11) — Okapi BM25 retrieval (k1=1.2, b=0.75), the corpus "
    "audit/inspection primitive: three corpus-derived query terms "
    "(global freq ranks 5/10/15 — ONE bounded 15-row collect), "
    "candidates probed through the (doc, term) aggregate (at scale "
    "that aggregate is the staged inverted-postings table, so this is "
    "an index lookup, not a corpus scan), top-10 docs per query with "
    "6-dp round-before-rank; rows ship as term='qterm:doc_id', "
    "n=round(score*1e6) to keep the row's BIGINT n column. The "
    "Zipf-skewed df join reuses operators/skew.py split_broadcast_join; "
    "both variants end in a TakeOrderedAndProject-shaped top-k, so "
    "nothing corpus-sized reaches the driver. hosts (r8) — per-domain "
    "doc counts over canonicalized URLs (functions/url.url_host: "
    "scheme/port/www./fragment-insensitive), the crawl-curation "
    "'which hosts dominate my corpus' rollup; URLs synthesized messy "
    "on both engines so the hash gates canonicalization semantics.",
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etly_spark.operators.skew import split_broadcast_join

    d = load_table(spark, sf_dir, "documents")
    # One (doc, term) aggregate serves every consumer (freq rollup =
    # sum of tf, df rollup = count of docs, both split-join probe
    # sides) — and that aggregate IS the staged bm25 postings table
    # (identical definition: explode(tokens) -> groupBy(doc_id, term)
    # -> count, fingerprinted on documents.parquet), so read the stage
    # instead of re-tokenizing the corpus per consumer (optimization
    # r14, guide §1.2 "don't compute things twice" / §6 columnar
    # reads). The before-plan scanned documents.parquet 9x (4 full
    # tokenize passes: the top15 collect, freq, tfidf's tf and df);
    # now those consumers scan the postings parquet — dictionary-
    # encoded terms, no regex work. An in-memory persist of (doc,term)
    # was measured SLOWER than recompute at sf0.1 (2.0 s vs 1.2 s,
    # r12); the parquet stage costs one build per corpus snapshot
    # (already paid by the bm25 branch) and columnar scans after.
    tf = bm25_postings(spark, sf_dir)
    counts = tf.groupBy("term").agg(F.sum("tf").alias("n"))
    # top-20 via orderBy+limit (TakeOrderedAndProject — O(k) per task,
    # never a vocab-wide single-partition window sort), THEN rank the
    # 20 survivors with a window that only ever sees 20 rows
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    freq_rows = (
        counts.orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select(F.lit("freq").alias("variant"), "rank", "term", "n")
    )

    df = bm25_df_table(spark, sf_dir)  # staged (term, df): == tf.groupBy(term).count
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        split_broadcast_join(tf, df, "term", "df", hot_k=1024)
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double")), 6
            ).alias("score"),
        )
    )
    wdoc = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    chosen = (
        scored.withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") == 1)
        .select("doc_id", "term")
    )
    tfidf_rows = (
        chosen.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select(F.lit("tfidf").alias("variant"), "rank", "term", "n")
    )

    # bm25 (r11; r12 staged — verdict item 5): retrieval probes the
    # STAGED inverted-postings table (bm25_postings — built once per
    # process, fingerprinted on documents.parquet), not the in-DAG
    # tokenize pass: candidates = a pushed term-IN filter on the
    # postings parquet (the index-lookup plan at 100 TB), df from the
    # staged (term, df) table, dl/avgdl from one column-pruned scan of
    # the same postings stage. Query terms are corpus-derived (global
    # freq ranks 5/10/15 — ONE bounded 15-row collect); k1=1.2, b=0.75;
    # scores round to 6 dp BEFORE ranking (the tfidf ln-ULP rule) and
    # ship as round(score*1e6) to keep n BIGINT. Staged tf values are
    # the same BIGINTs the in-DAG aggregate produced, so every
    # downstream double is bit-identical (rows byte-identical to r11).
    top15 = counts.orderBy(F.desc("n"), F.asc("term")).limit(15).collect()
    # degrade like the oracle's `rank IN (5, 10, 15)`: take whichever
    # of the three ranks exist in a small vocabulary
    qterms = [top15[i]["term"] for i in (4, 9, 14) if i < len(top15)]
    tf_stage = tf  # same staged postings the freq/tfidf branches read
    df_stage = df
    dl = tf_stage.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(
        (F.sum("dl") / F.count(F.lit(1)).cast("double")).alias("avgdl")
    )
    sc_bm = (
        tf_stage.where(F.col("term").isin(qterms))
        .join(F.broadcast(df_stage.where(F.col("term").isin(qterms))), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(avgdl))
        .select(
            "term",
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
                )
                * F.col("tf")
                * F.lit(1.2 + 1)
                / (
                    F.col("tf")
                    + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("score"),
        )
    )
    wq = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    bm25_rows = (
        sc_bm.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 10)
        .select(
            F.lit("bm25").alias("variant"),
            "rank",
            F.concat_ws(":", "term", F.col("doc_id").cast("string")).alias("term"),
            F.round(F.col("score") * 1000000).cast("long").alias("n"),
        )
    )

    # bm25_inc (r13): the same retrieval, served from the FOLDED index
    # (operators/bm25.py — O(shard) epoch partitions, doc tombstones,
    # probe-time df over live postings). BM25 stats are linear, so
    # fold-minus-deletes == batch-over-live-docs: the gate proves the
    # maintenance loop loses nothing, the ivf_inc contract for text.
    from etly_spark.operators.bm25 import probe_bm25_index

    sc_inc = probe_bm25_index(spark, bm25_inc_index(spark, sf_dir), qterms)
    bm25_inc_rows = (
        sc_inc.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 10)
        .select(
            F.lit("bm25_inc").alias("variant"),
            "rank",
            F.concat_ws(":", "term", F.col("doc_id").cast("string")).alias("term"),
            F.round(F.col("score") * 1000000).cast("long").alias("n"),
        )
    )

    from etly_spark.functions.url import url_host

    urls = d.select(
        F.concat(
            F.lit("HTTPS://WWW.News-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM:443/articles/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&id="),
            F.col("doc_id").cast("string"),
            F.lit("#section-2"),
        ).alias("url")
    )
    host_rows = (
        urls.select(url_host("url").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select(F.lit("hosts").alias("variant"), "rank", "term", "n")
    )
    return (
        freq_rows.unionByName(tfidf_rows)
        .unionByName(bm25_rows)
        .unionByName(bm25_inc_rows)
        .unionByName(host_rows)
        .orderBy("variant", "rank", "term")
    )


# ---------------------------------------------------------------------
# Corpus curation family — split / sample / curate in ONE checked row
# (tag: variant), unified schema (variant, lang, grp, n_docs, measure,
# score). Consolidation keeps the catalog at exactly 50 entries (the
# external driver checks the first 50 registry positions).

# Per-stratum rates for the balanced sample: downsample over-represented
# strata, keep the rest whole. Deterministic membership (md5 of doc_id,
# salt 'sample:' — independent of the split hash salt) so the sample is
# reproducible across engines and runs, unlike rand()-based sampleBy.
_SAMPLE_RATES = {"en": 40, "de": 100, "es": 100, "fr": 100}  # percent

_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in sorted(_SAMPLE_RATES.items())
) + " ELSE 100 END"

_SPLIT_BUCKET_SQL = (
    "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
)

_CURATION_SQL = rf"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
              WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), sample_b AS (
  SELECT lang,
         CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
         {_RATE_SQL} AS rate
  FROM documents
), tok AS (
  SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM documents
), scored AS (
  SELECT doc_id, lang, text, len(toks) AS n_toks,
         least(len(toks) / 100.0, 1.0) * 0.3
         + (CASE WHEN len(toks) > 0
                 THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END) * 0.4
         + (1.0 - (CASE WHEN len(toks) > 0
                        THEN {_SQL_STOP} / CAST(len(toks) AS DOUBLE)
                        ELSE 0.0 END)) * 0.3 AS q
  FROM tok
), survivors AS (
  SELECT * FROM scored WHERE q >= 0.55
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), curated AS (
  SELECT lang, n_toks, q,
         CASE WHEN {_SPLIT_BUCKET_SQL} < 80 THEN 'train'
              WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM survivors
)
SELECT 'split' AS variant, lang, split AS grp,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS measure,
       0.0 AS score
FROM assigned GROUP BY lang, split
UNION ALL
SELECT 'sample', lang, 'corpus',
       COUNT(*),
       CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT),
       round(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
FROM sample_b GROUP BY lang
UNION ALL
SELECT 'curate', lang, split,
       COUNT(*),
       CAST(SUM(n_toks) AS BIGINT),
       CAST(SUM(CAST(round(q, 6) AS DECIMAL(18,6))) AS DOUBLE)
FROM curated GROUP BY lang, split
UNION ALL
SELECT 'decontam', lang, grp, n_docs, measure, score FROM (
  WITH ngx AS (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 3),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3]))) AS ng
    FROM tok WHERE len(toks) >= 4
  ), eng AS (
    SELECT DISTINCT ng FROM ngx WHERE doc_id % 41 = 0
  ), th AS (
    SELECT n.doc_id, count(DISTINCT n.ng) AS n_hits
    FROM ngx n JOIN eng USING (ng)
    WHERE n.doc_id % 41 <> 0
    GROUP BY 1
  ), flag AS (
    SELECT d.lang, coalesce(th.n_hits, 0) AS n_hits
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 41 <> 0) d
    LEFT JOIN th USING (doc_id)
  )
  SELECT lang,
         CASE WHEN n_hits > 0 THEN 'contaminated' ELSE 'clean' END AS grp,
         COUNT(*) AS n_docs,
         CAST(SUM(n_hits) AS BIGINT) AS measure,
         round(CAST(SUM(n_hits) AS DOUBLE) / COUNT(*), 6) AS score
  FROM flag GROUP BY 1, 2
)
UNION ALL
SELECT 'pack', lang, 'b2048', n_docs, measure, score FROM (
  WITH bpe AS (
    SELECT doc_id, lang,
           CAST(list_sum(list_transform({_SQL_TOKS}, t -> (length(t)+3)//4)) AS BIGINT) AS n_bpe
    FROM documents
  ), w AS (
    SELECT lang, n_bpe,
           SUM(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM bpe
  )
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(MAX((cum + 2047) // 2048) AS BIGINT) AS measure,
         round(CAST(MAX(cum) AS DOUBLE) / (CAST(MAX((cum + 2047) // 2048) AS BIGINT) * 2048), 6) AS score
  FROM w GROUP BY lang
)
UNION ALL
SELECT 'pack', lang, 'straddle', n_docs, measure, score FROM (
  WITH bpe AS (
    SELECT doc_id, lang,
           CAST(list_sum(list_transform({_SQL_TOKS}, t -> (length(t)+3)//4)) AS BIGINT) AS n_bpe
    FROM documents
  ), w AS (
    SELECT lang, n_bpe,
           SUM(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM bpe
  )
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN n_bpe > 0 AND (cum - n_bpe) // 2048 < (cum - 1) // 2048
                       THEN 1 ELSE 0 END) AS BIGINT) AS measure,
         round(CAST(SUM(CASE WHEN n_bpe > 0 AND (cum - n_bpe) // 2048 < (cum - 1) // 2048
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS score
  FROM w GROUP BY lang
)
ORDER BY variant, lang, grp
"""


def _salted_bucket(salt: str, mod: int) -> F.Column:
    """Deterministic hash bucket over doc_id — the Spark half of the
    oracle-parity contract ``CAST('0x' || substr(md5('<salt>:' ||
    CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % mod`` (split/sample/
    mix all derive membership from this ONE expression)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % mod
    )


def _split_col():
    bucket = _salted_bucket("split", 100)
    return (
        F.when(bucket < 80, F.lit("train")).when(bucket < 90, F.lit("val")).otherwise("test")
    )


def _sample_bucket():
    return _salted_bucket("sample", 100)


def unigram_perplexity(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """CCNet-style perplexity scoring with a corpus-internal unigram LM:
    per document, the cross-entropy (bits/token) of the doc's tokens
    under the corpus unigram distribution, bucketed per language into
    head/middle/tail terciles (CCNet keeps 'head' — the lowest-
    perplexity, most-fluent slice; with a real KenLM the scoring column
    changes, the plan shape does not).

    Plan: (doc, tok) counts -> corpus frequency table -> join counts
    back to frequencies -> per-doc aggregate. The frequency join is
    Zipf-skewed (every doc hits 'the'), so it routes through
    ``operators.skew.split_broadcast_join``: the top-1024 tokens
    broadcast (covering the bulk of occurrences map-side), the rare
    tail shuffle-joins on naturally balanced keys. Tercile assignment
    is an exact percent_rank, but NOT via a per-lang window (one task
    per language at 100×): ``operators.prefix.banded_row_number`` bands
    the bits axis into ≤4096 order-preserving sub-partitions
    (``floor(bits*32)`` — monotone, bounded: bits/token ≤ log2(corpus
    tokens) < 128), so every window partition is (lang, band) and the
    dominant language spreads across ~thousands of tasks. Values are
    bit-identical to the single-window form. The sketch-cut-point
    variant (``unigram_perplexity_approx`` below — the layout.py zorder
    exact/approx precedent) stays as the cheaper-still alternative.
    Surfaced through the checked catalog as the 'ppx' variant of
    ``text_curation_split`` (50-entry registry cap)."""
    from etly_spark.operators.prefix import banded_row_number
    from etly_spark.queries.catalog import scoped_persist

    # persisted lazily: the tokenize + frequency-join subtree has THREE
    # consumers in the lazy DAG below (band totals, per-lang counts, the
    # ranked rows). Measured A/B (STRESS.md, text family): at sf0.1
    # recompute wins by 0.6s (job overheads dominate), at the 10x corpus
    # the persist wins 2.3x (2.41 vs 5.56s) — the scale choice is
    # persist, matching the verdict-#4 prediction that the sf0.1
    # recompute preference inverts as the tokenize subtree grows.
    per_doc = scoped_persist(_ppx_per_doc(spark, sf_dir, base), eager=False)
    # NULL bits must reach banded_row_number's documented NULL->_NULL_BAND
    # path explicitly: greatest() skips NULLs, so without the guard a NULL
    # would silently land in band 0 and only stay correct by the accident
    # that bits is non-negative (band 0 lowest + NULLS FIRST within-band).
    clamped = F.least(F.greatest(F.floor(F.col("bits") * 32), F.lit(0)), F.lit(4095))
    band = F.when(F.col("bits").isNull(), F.lit(None)).otherwise(clamped)
    ranked = banded_row_number(per_doc, ["lang"], band, ["bits", "doc_id"], "_rn")
    # percent_rank = (row_number-1)/(n-1): ORDER BY includes unique
    # doc_id so rank == row_number; n per lang is a tiny broadcast-
    # joined aggregate (declarative — no driver collect; null-safe so
    # a NULL lang keeps its rows, matching PARTITION BY semantics)
    counts = per_doc.groupBy("lang").agg(F.count(F.lit(1)).alias("_n")).select(
        F.col("lang").alias("_c_lang"), "_n"
    )
    pr = F.when(
        F.col("_n") > 1, (F.col("_rn") - 1) / (F.col("_n") - 1)
    ).otherwise(F.lit(0.0))
    return (
        ranked.join(F.broadcast(counts), F.col("lang").eqNullSafe(F.col("_c_lang")))
        .withColumn(
            "bucket",
            F.when(pr < 1.0 / 3, F.lit("head"))
            .when(pr < 2.0 / 3, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("_rn", "_band", "_n", "_c_lang")
    )


def _ppx_per_doc(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """Shared per-doc (doc_id, lang, bits, n_toks) stage of both
    perplexity variants — ONE definition so the exact and approx
    bucketing paths can never diverge on the scoring itself (the
    agreement test in tests/test_curation_ops.py relies on this).
    ``base``, when given, is a (doc_id, lang, toks, ...) frame (the
    text_curation_split shared tokenized base) standing in for the
    tokenize-from-scratch scan — identical values by construction."""
    from etly_spark.operators.skew import split_broadcast_join

    # tf comes from the STAGED inverted-postings table (r15, guide §1.2
    # — the text_top_terms/text_quality move): the explode + groupBy
    # here re-derived the postings per consumer, and tf feeds BOTH the
    # corpus frequency table and the scoring join, so the tokenize ran
    # twice per invocation. The committed parquet encodes the identical
    # (doc_id, term, count) integers (same tokenizer), with lang
    # attached from a narrow documents scan. ``base`` (the curation
    # split's shared tokenized base) is kept for signature
    # compatibility — its token counts equal the postings by
    # construction, so the postings path serves every caller.
    del base
    post = bm25_postings(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tf = post.join(langs, "doc_id").select(
        "doc_id", "lang", F.col("term").alias("tok"), F.col("tf").alias("n")
    )
    freq = post.groupBy(F.col("term").alias("tok")).agg(F.sum("tf").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    joined = split_broadcast_join(tf, freq, "tok", "cnt", hot_k=1024).crossJoin(
        F.broadcast(total)
    )
    return (
        joined.groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("n") * -F.log2(F.col("cnt") / F.col("n_total"))).alias("num"),
            F.sum("n").alias("n_toks"),
        )
        .select(
            "doc_id",
            "lang",
            F.round(F.col("num") / F.col("n_toks"), 6).alias("bits"),
            "n_toks",
        )
    )


def unigram_perplexity_approx(
    spark: SparkSession, sf_dir: str, relative_error: float = 0.01
) -> DataFrame:
    """Scale path of ``unigram_perplexity`` (the zorder_by/_approx
    precedent, layout.py): tercile CUT-POINTS from ONE
    percentile_approx sketch aggregate over all languages instead of
    the exact per-lang percent_rank — no per-partition global sort
    anywhere, so a single language with billions of documents never
    funnels through one task. Bucketing is then a codegen'd comparison against two
    broadcast literals per lang. Boundary docs within the sketch's
    relative error may land in the adjacent bucket; everything else is
    identical to the exact form (tests assert agreement away from the
    cuts)."""
    per_doc = _ppx_per_doc(spark, sf_dir)
    # ONE sketch pass computes every language's [1/3, 2/3] cut-points
    # together (percentile_approx is a map-side-combinable aggregate);
    # driver memory O(#langs * 2), a tiny broadcastable map
    accuracy = max(100, int(1 / relative_error))
    cut_rows = (
        per_doc.groupBy("lang")
        .agg(
            F.percentile_approx(
                "bits", F.array(F.lit(1 / 3), F.lit(2 / 3)), F.lit(accuracy)
            ).alias("cuts")
        )
        .collect()
    )
    cuts = {r["lang"]: list(r["cuts"]) for r in sorted(cut_rows, key=lambda r: r["lang"])}
    c1 = F.lit(None).cast("double")
    c2 = F.lit(None).cast("double")
    for lang, (lo, hi) in cuts.items():
        c1 = F.when(F.col("lang") == lang, F.lit(float(lo))).otherwise(c1)
        c2 = F.when(F.col("lang") == lang, F.lit(float(hi))).otherwise(c2)
    return per_doc.withColumn(
        "bucket",
        F.when(F.col("bits") <= c1, F.lit("head"))
        .when(F.col("bits") <= c2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


_PPX_SQL_BLOCK = f"""
SELECT 'ppx' AS variant, lang, grp, n_docs, measure, score FROM (
  WITH tf AS (
    SELECT doc_id, lang, tok, COUNT(*) AS n
    FROM (SELECT doc_id, lang, unnest({_SQL_TOKS}) AS tok FROM documents)
    GROUP BY 1, 2, 3
  ), freq AS (
    SELECT tok, CAST(SUM(n) AS BIGINT) AS cnt FROM tf GROUP BY 1
  ), tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM freq
  ), per_doc AS (
    SELECT doc_id, lang,
           round(SUM(n * -log2(cnt / CAST(n_total AS DOUBLE))) / SUM(n), 6) AS bits,
           CAST(SUM(n) AS BIGINT) AS n_toks
    FROM tf JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY 1, 2
  ), bucketed AS (
    SELECT lang, n_toks, bits,
           CASE WHEN percent_rank() OVER (PARTITION BY lang ORDER BY bits, doc_id) < 1.0/3
                  THEN 'head'
                WHEN percent_rank() OVER (PARTITION BY lang ORDER BY bits, doc_id) < 2.0/3
                  THEN 'middle'
                ELSE 'tail' END AS grp
    FROM per_doc
  )
  SELECT lang, grp, COUNT(*) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS measure,
         CAST(SUM(CAST(bits AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM bucketed GROUP BY 1, 2
)
"""


def _spans_sql_block() -> str:
    from etly_spark.queries.dedup import SPAN_PERDOC_CTE, _SPAN_FLAG

    return f"""
SELECT 'spans' AS variant, lang, grp, n_docs, measure, score FROM (
  {SPAN_PERDOC_CTE}
  , sp AS (
    SELECT d.lang,
           ROUND(COALESCE(n_dup_spans / n_spans, 0.0), 6) AS dup_frac,
           COALESCE(n_dup_spans, 0) AS n_dup_spans,
           (COALESCE(n_dup_spans / n_spans, 0.0) >= {_SPAN_FLAG}) AS flagged
    FROM documents d LEFT JOIN per_doc USING (doc_id)
  )
  SELECT lang, CASE WHEN flagged THEN 'flagged' ELSE 'clean' END AS grp,
         COUNT(*) AS n_docs,
         CAST(SUM(n_dup_spans) AS BIGINT) AS measure,
         CAST(SUM(CAST(dup_frac AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM sp GROUP BY 1, 2
)
"""


# Deterministic corpus shuffle (pretraining prep: decorrelate document
# order before sequence packing). The permutation is a pure function of
# doc_id — md5('shuffle:'||doc_id) as the sort key — so it is
# reproducible across engines, runs, and cluster sizes (seeded
# orderBy(rand()) is none of those). The checked row pins the EXACT
# permutation: a positional checksum sum(rank * (doc_id % 997)) changes
# if any document moves. Scale note: production materializes the
# shuffle with repartitionByRange(shuffle_key) + sortWithinPartitions —
# no global rank; the row_number here exists only to make the
# permutation hash-checkable, and the Spark side computes it with the
# banded two-phase form (operators/prefix.py), not a per-lang window.
_SHUFFLE_SQL_BLOCK = """
SELECT 'shuffle' AS variant, lang, 'order' AS grp, n_docs, measure, score FROM (
  WITH ranked AS (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5('shuffle:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
    FROM documents
  )
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(CAST(rnk AS DECIMAL(38,0)) * (doc_id % 997)) % 1000000007 AS BIGINT) AS measure,
         0.0 AS score
  FROM ranked GROUP BY lang
)
"""

# Temperature-weighted multilingual sampling (the mT5/T5 alpha-mix:
# sample lang i at p_i^alpha / sum_j p_j^alpha, alpha=0.5, corpus-half
# budget). Float contract: every irrational step (sqrt, the denominator
# fold) is evaluated in the SAME sequential order on both engines —
# DuckDB folds `list(... ORDER BY lang)` with list_reduce, the Spark
# side mirrors it with a driver-side left fold over the lang-sorted
# collected counts — then the per-lang rate collapses to an INTEGER
# threshold on a 10k hash bucket, so the checked decision is exact.


def mix_thresholds(
    lang_counts: list,
    alpha_budget: float = 0.5,
    buckets: int = 10000,
) -> dict:
    """Per-language integer keep-thresholds for the alpha-mix: the
    driver-side half of _MIX_SQL_BLOCK's float contract. Ordering
    matches DuckDB's ``list(... ORDER BY lang)`` exactly — ascending
    with NULLS LAST — and the denominator is a left fold in that order,
    so every double operation sequence is identical across engines.
    ``lang_counts`` is [(lang_or_None, count)]; returns {lang: thr}."""
    import math

    ordered = sorted(
        lang_counts, key=lambda t: (t[0] is None, t[0] if t[0] is not None else "")
    )
    total = float(sum(n for _, n in ordered))
    ws = [math.sqrt(n / total) for _, n in ordered]
    denom = 0.0
    for w in ws:  # left fold == DuckDB list_reduce order
        denom += w
    out = {}
    for (lang, n), w in zip(ordered, ws):
        rate = min(1.0, (w / denom) * alpha_budget * total / n)
        out[lang] = int(math.floor(rate * buckets + 0.5))
    return out
_MIX_SQL_BLOCK = """
SELECT 'mix' AS variant, lang, 'corpus' AS grp, n_docs, measure, score FROM (
  WITH lc AS (
    SELECT lang, CAST(COUNT(*) AS DOUBLE) AS cnt FROM documents GROUP BY lang
  ), tot AS (
    SELECT SUM(cnt) AS total FROM lc
  ), den AS (
    SELECT list_reduce(list(sqrt(cnt / total) ORDER BY lang), (x, y) -> x + y) AS denom
    FROM lc, tot
  ), thr AS (
    SELECT lang,
           CAST(floor(least(1.0, (sqrt(cnt / total) / denom) * 0.5 * total / cnt)
                      * 10000 + 0.5) AS BIGINT) AS thr
    FROM lc, tot, den
  ), b AS (
    SELECT d.lang,
           CAST('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bucket,
           t.thr
    FROM documents d JOIN thr t USING (lang)
  )
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT) AS measure,
         round(MIN(thr) / 10000.0, 6) AS score
  FROM b GROUP BY lang
)
"""

# Per-host document cap (r8): the standard crawl-curation guard against
# domain dominance — keep at most K docs per canonical host, membership
# decided by a deterministic hash order (md5 of doc_id) so both engines
# agree on exactly WHICH docs survive, not just how many. `measure`
# carries SUM(doc_id) of the kept set: an exact membership gate. Hosts
# come from the same messy synthesized URLs as text_top_terms:'hosts',
# so url_host's canonicalization is in the gated path here too.
_HOSTCAP_SQL_BLOCK = """
SELECT 'hostcap' AS variant, 'all' AS lang, grp,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS measure,
       0.0 AS score
FROM (
  SELECT grp, doc_id,
         row_number() OVER (PARTITION BY grp ORDER BY h, doc_id) AS rn
  FROM (
    SELECT doc_id,
           regexp_replace(
             lower(regexp_replace(
               regexp_extract(
                 regexp_replace(
                   'HTTPS://WWW.News-' || (doc_id % 7)
                   || '.Example.COM:443/articles/' || doc_id
                   || '?utm_source=feed&id=' || doc_id || '#section-2',
                   '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),
                 '^([^/?#]*)', 1),
               ':[0-9]+$', '')),
             '^www\\.', '') AS grp,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
  )
) WHERE rn <= 40
GROUP BY grp
UNION ALL
SELECT 'dsir', lang, grp, n_docs, measure, score FROM (
  -- DSIR importance resampling (r11, Xie et al. 2023): per-doc unigram
  -- log-likelihood ratio target-vs-raw (add-1, shared vocab), the fold
  -- over token log-ratios in POSITION order (seed 0.0 — the Spark
  -- F.aggregate twin), rounded to 6 dp before the sign decision.
  WITH tgt_tok AS MATERIALIZED (
    SELECT unnest(toks) AS term FROM tok WHERE doc_id % 10 = 0
  ), raw_d AS MATERIALIZED (
    SELECT doc_id, lang, toks FROM tok WHERE doc_id % 10 <> 0
  ), raw_tok AS MATERIALIZED (
    SELECT unnest(toks) AS term FROM raw_d
  ), vv AS MATERIALIZED (
    SELECT COUNT(DISTINCT term) AS v
    FROM (SELECT unnest(toks) AS term FROM tok)
  ), lm AS MATERIALIZED (
    SELECT COALESCE(t.term, r.term) AS term,
           ln((COALESCE(t.ct, 0) + 1)
              / CAST((SELECT COUNT(*) FROM tgt_tok) + vv.v AS DOUBLE))
           - ln((COALESCE(r.cr, 0) + 1)
              / CAST((SELECT COUNT(*) FROM raw_tok) + vv.v AS DOUBLE)) AS lp
    FROM (SELECT term, COUNT(*) AS ct FROM tgt_tok GROUP BY term) t
    FULL OUTER JOIN (SELECT term, COUNT(*) AS cr FROM raw_tok GROUP BY term) r
      ON t.term = r.term
    CROSS JOIN vv
  ), rw AS MATERIALIZED (
    SELECT p.doc_id,
           round(list_reduce([0.0::DOUBLE] || list(s.lp ORDER BY p.pos),
                             (x, y) -> x + y), 6) AS w
    FROM (SELECT doc_id, pos, toks[pos] AS term FROM
          (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
           FROM raw_d)) p
    JOIN lm s ON s.term = p.term
    GROUP BY p.doc_id
  )
  SELECT d.lang,
         CASE WHEN COALESCE(rw.w, 0.0) > 0 THEN 'selected'
              ELSE 'rejected' END AS grp,
         COUNT(*) AS n_docs,
         CAST(SUM(len(d.toks)) AS BIGINT) AS measure,
         CAST(SUM(CAST(COALESCE(rw.w, 0.0) AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM raw_d d LEFT JOIN rw ON rw.doc_id = d.doc_id
  GROUP BY 1, 2
)
"""

# spans_exact (r9): TRUE ExactSubstr via suffix-ordering — per-doc
# longest cross-document verbatim token span (dedup.py
# exact_substr_lrs; oracle = the same LCP over a full suffix sort).
# measure is a positional checksum over (lrs, doc_id), so the oracle
# gates every document's exact lrs value, not just group counts.
def _sexact_sql_block() -> str:
    from etly_spark.queries.dedup import SEXACT_PERDOC_CTE, _SEXACT_FLAG

    return f"""
SELECT 'spans_exact' AS variant, lang, grp, COUNT(*) AS n_docs,
       CAST(SUM(CAST(lrs AS DECIMAL(38,0)) * (doc_id % 997)) % 1000000007 AS BIGINT) AS measure,
       CAST(MAX(lrs) AS DOUBLE) AS score
FROM (
  {SEXACT_PERDOC_CTE}
  SELECT d.doc_id, d.lang, COALESCE(lrs, 0) AS lrs,
         CASE WHEN COALESCE(lrs, 0) >= {_SEXACT_FLAG} THEN 'flagged' ELSE 'clean' END AS grp
  FROM documents d LEFT JOIN lrs_per_doc USING (doc_id)
) GROUP BY lang, grp
"""


_CURATION_SQL = _CURATION_SQL.replace(
    "ORDER BY variant, lang, grp",
    "UNION ALL" + _PPX_SQL_BLOCK + "UNION ALL" + _spans_sql_block()
    + "UNION ALL" + _sexact_sql_block()
    + "UNION ALL" + _SHUFFLE_SQL_BLOCK + "UNION ALL" + _MIX_SQL_BLOCK
    + "UNION ALL" + _HOSTCAP_SQL_BLOCK
    + "ORDER BY variant, lang, grp",
)


@query(
    "text_curation_split",
    oracle=_CURATION_SQL,
    doc="Corpus curation family, twelve variants in one checked row. "
    "dsir (r11) — DSIR importance resampling (Xie et al. 2023): every "
    "raw-pool doc scored by its unigram log-likelihood ratio under a "
    "TARGET LM vs the raw-pool LM (add-1 smoothing, shared vocab; "
    "target stand-in = doc_id % 10), positive-ratio docs selected — "
    "the data-selection method behind quality-targeted pretraining "
    "mixes. Two LM groupBys + one skew-routed token join; the per-doc "
    "weight is a position-ordered fold of token log-ratios (seed 0.0, "
    "the cross-engine float contract) rounded to 6 dp BEFORE the sign "
    "decision; accounting per (lang, selected/rejected) with "
    "exact-DECIMAL weight sums. "
    "spans_exact (r9) — TRUE ExactSubstr (Lee et al. 2021): per-doc "
    "longest cross-document verbatim token span, exact up to a "
    "30-token cap, via distributed suffix-ordering "
    "(dedup.exact_substr_lrs): explode token suffixes, "
    "repartitionByRange + sortWithinPartitions (a range-partitioned "
    "sort — no single-partition exchange), adjacent different-doc "
    "token-LCPs in one Arrow pass, cross-partition adjacency restored "
    "from 2-rows-per-partition boundary rows; per-doc max is provably "
    "attained on an adjacent pair (see the builder's docstring). The "
    "checked measure is a positional checksum over (lrs, doc_id), so "
    "the oracle gates every document's exact span length — this is "
    "what the 5-gram 'spans' variant can only bound from below. "
    "hostcap (r8) — per-host document cap (the crawl-curation guard "
    "against domain dominance): keep at most 40 docs per canonical "
    "host (functions/url.url_host over messy synthesized URLs), "
    "membership decided by md5(doc_id) hash order so the oracle gates "
    "exactly WHICH docs survive (measure = SUM of kept doc_ids); the "
    "per-host rank is a low-NDV-key window (Zipf over hosts at crawl "
    "scale), so it runs the banded two-phase form (operators/prefix."
    "banded_row_number, band = md5 first byte) — the de-skew operator's "
    "second real consumer. "
    "mix — temperature-weighted multilingual sampling (the mT5/T5 "
    "alpha-mix, alpha=0.5, half-corpus budget): per-lang keep rates "
    "from alpha-adjusted corpus shares, driver-computed over lang-"
    "sorted counts with the oracle's exact left-fold order, collapsed "
    "to integer 10k-bucket thresholds (the checked decision is exact). "
    "shuffle — deterministic corpus shuffle (md5-keyed permutation, "
    "reproducible at any cluster size; the checked positional checksum "
    "pins the exact order; production materializes it with "
    "repartitionByRange + sortWithinPartitions, no global rank). "
    "ppx — CCNet-style perplexity filter: per-doc bits/token under the "
    "corpus unigram LM, per-lang head/middle/tail terciles (builder "
    "unigram_perplexity; the Zipf-skewed frequency join routes through "
    "operators/skew.py split_broadcast_join — top-1024 tokens "
    "broadcast, rare tail shuffle-joined). "
    "spans — ExactSubstr-style repeated-span coverage: fraction of "
    "each doc's token 5-grams appearing verbatim in >= 2 corpus docs, "
    "flagged at 50% (builder queries/dedup.py:repeated_span_stats). "
    "pack — sequence packing for training: per-lang concat-and-split "
    "into 2048-BPE-token sequences via the banded two-phase prefix sum "
    "(operators/prefix.py — no per-lang window); reports sequences "
    "produced, packing efficiency, and boundary-straddling "
    "docs ('b2048' / 'straddle' rows). "
    "decontam — benchmark decontamination: whitespace 4-gram overlap "
    "between training docs and a deterministic held-out eval subset "
    "(doc_id % 41); the eval n-gram set broadcasts, so the check is a "
    "map-side probe at any corpus size. Per (lang, clean/contaminated): "
    "doc count, total shared-distinct-ngram hits, hits per doc. "
    "split — deterministic stratified train/val/test assignment "
    "(hash-mod bucket on doc_id, NOT seeded sample(): reproducible "
    "across engines, runs, and cluster sizes; re-running on grown data "
    "keeps prior assignments stable). sample — balanced hash-threshold "
    "downsampling with per-stratum rates (over-represented languages "
    "cut to a target share, small strata kept whole; membership a pure "
    "function of doc_id). curate — the full pipeline as one DAG: "
    "quality-gate (composite score >= 0.55), exact-dedup survivors "
    "(min doc_id per md5(text), a map-side-combinable min-of-struct "
    "aggregate — no per-hash window), split assignment, per-(lang, "
    "split) accounting with quality sums through exact DECIMAL "
    "(shuffle-order-independent, the cross-engine float contract). "
    "Each variant is scan + one small aggregate; no window in any "
    "branch is partitioned on an unbounded or skewed group "
    "(plan-gated).",
)
def text_curation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etly_spark.queries.catalog import scoped_persist

    d = load_table(spark, sf_dir, "documents")

    # Shared tokenized base: five of the ten branches consume the
    # whitespace tokenization of documents.text (curate quality score,
    # decontam 4-grams, ppx unigram tf, spans 5-grams, pack BPE count).
    # All read ONE (doc_id, lang, _th, toks) definition, recomputed per
    # branch (Catalyst prunes _th/toks per consumer). Persisting it was
    # measured slower at the 10x corpus (STRESS.md "shared tokenized
    # base"): the cached object IS the token stream, and
    # columnar-encoding and rereading it costs more than the cheap regex
    # tokenize it saves — persist small derived aggregates, recompute
    # token-stream-sized projections.
    base = d.select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("_th"),
        T.tokens("text").alias("toks"),
    )

    # The three branches whose CONSTRUCTION runs blocking driver jobs —
    # sexact's partition-boundary collect (it materializes the suffix
    # sort), dsir's one-job LM-stats aggregate, mix's per-lang count
    # collect — overlap on a small thread pool (optimization r14, guide
    # §2.6 "overlap independent jobs") instead of serializing ~4-6 s of
    # build wall; every other branch is pure plan construction. Each
    # closure is the former inline block verbatim, so plans and results
    # are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    from etly_spark.operators.skew import split_broadcast_join
    from etly_spark.queries.dedup import (
        _SEXACT_FLAG,
        exact_substr_lrs,
        repeated_span_stats,
    )

    def _mk_sexact() -> DataFrame:
        return (
            exact_substr_lrs(spark, sf_dir, base)
            .groupBy(
                "lang",
                F.when(F.col("lrs") >= _SEXACT_FLAG, F.lit("flagged"))
                .otherwise(F.lit("clean"))
                .alias("grp"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                (
                    F.sum(F.col("lrs").cast("decimal(38,0)") * (F.col("doc_id") % 997))
                    % F.lit(1000000007)
                )
                .cast("bigint")
                .alias("measure"),
                F.max("lrs").cast("double").alias("score"),
            )
            .select(
                F.lit("spans_exact").alias("variant"), "lang", "grp", "n_docs",
                "measure", "score",
            )
        )

    def _mk_mix() -> DataFrame:
        # mix — temperature-weighted multilingual sampling (mT5
        # alpha=0.5, half-corpus budget): per-lang keep rates from the
        # alpha-adjusted corpus shares, computed on the DRIVER by
        # mix_thresholds (one bounded collect of #langs rows; exact
        # cross-engine fold order — see its docstring), then one
        # codegen'd scan aggregate. A NULL lang contributes to the
        # shares/denominator but gets no output row — matching the
        # oracle's GROUP BY lang + JOIN USING (lang).
        thr_map = mix_thresholds(
            [
                (r["lang"], r["n"])
                for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
            ]
        )
        mix_thr = F.lit(0).cast("long")
        for lang in sorted(l for l in thr_map if l is not None):
            mix_thr = F.when(F.col("lang") == lang, F.lit(thr_map[lang])).otherwise(
                mix_thr
            )
        return (
            d.filter(F.col("lang").isNotNull())
            .select("lang", _salted_bucket("mix", 10000).alias("_mb"), mix_thr.alias("_mt"))
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum((F.col("_mb") < F.col("_mt")).cast("long")).alias("measure"),
                F.round(F.min("_mt") / 10000.0, 6).alias("score"),
            )
            .select(
                F.lit("mix").alias("variant"),
                "lang",
                F.lit("corpus").alias("grp"),
                "n_docs",
                "measure",
                "score",
            )
        )

    def _mk_dsir() -> DataFrame:
        # dsir (r11) — DSIR-style importance resampling (Xie et al.
        # 2023): see the block comment on the sequential form in git
        # history; the math is unchanged. The LM counts come from the
        # STAGED postings table (r15, guide §1.2): ct/cr are exact long
        # sums of the same per-(doc, term) counts the explode+groupBy
        # re-derived, and the vocab/total collect below (a BUILD-time
        # driver job) now aggregates the committed parquet instead of
        # re-tokenizing the corpus. Per-doc scoring keeps the
        # position-ordered token stream (the fold order is part of the
        # checked value), so r_docs still reads the tokenized base.
        tgt_sel = F.col("doc_id") % 10 == 0
        r_docs = base.where(~tgt_sel)
        counts = scoped_persist(
            bm25_postings(spark, sf_dir)
            .groupBy("term")
            .agg(
                F.sum(F.when(tgt_sel, F.col("tf")).otherwise(F.lit(0))).alias("ct"),
                F.sum(F.when(~tgt_sel, F.col("tf")).otherwise(F.lit(0))).alias("cr"),
            ),
            eager=False,
        )
        stats_row = counts.agg(
            F.count(F.lit(1)).alias("v"), F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
        ).collect()[0]
        vocab = int(stats_row["v"])
        tot_t = int(stats_row["tt"])
        tot_r = int(stats_row["tr"])
        den_t = F.lit(float(tot_t + vocab))
        den_r = F.lit(float(tot_r + vocab))
        lm = counts.select(
            "term",
            (
                F.log((F.col("ct") + 1) / den_t)
                - F.log((F.col("cr") + 1) / den_r)
            ).alias("lp"),
            F.col("cr").alias("_w8"),
        )
        rpos = r_docs.select("doc_id", F.posexplode("toks").alias("pos", "term"))
        per_doc_w = (
            split_broadcast_join(rpos, lm, "term", "_w8")
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.aggregate(
                        F.array_sort(F.collect_list(F.struct("pos", "lp"))),
                        F.lit(0.0),
                        lambda a, x: a + x["lp"],
                    ),
                    6,
                ).alias("w")
            )
        )
        return (
            r_docs.select("doc_id", "lang", F.size("toks").alias("n_toks"))
            .join(per_doc_w, "doc_id", "left")
            .withColumn("w", F.coalesce("w", F.lit(0.0)))
            .groupBy(
                "lang",
                F.when(F.col("w") > 0, F.lit("selected"))
                .otherwise(F.lit("rejected"))
                .alias("grp"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_toks").alias("measure"),
                F.sum(F.col("w").cast("decimal(18,6)")).cast("double").alias("score"),
            )
            .select(F.lit("dsir").alias("variant"), "lang", "grp", "n_docs", "measure", "score")
        )

    pool = ThreadPoolExecutor(max_workers=3)
    # The pool's WHOLE lifetime is guarded (r15 advice): an exception
    # during the main-thread construction below would otherwise leak
    # the pool and leave the dsir branch's scoped persist running
    # unobserved.
    try:
        f_sexact = pool.submit(_mk_sexact)
        f_mix = pool.submit(_mk_mix)
        f_dsir = pool.submit(_mk_dsir)

        split_rows = (
            d.groupBy("lang", _split_col().alias("grp"))
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("measure"))
            .select(
                F.lit("split").alias("variant"),
                "lang",
                "grp",
                "n_docs",
                "measure",
                F.lit(0.0).alias("score"),
            )
        )

        rate = F.lit(100)
        for lang, pct in sorted(_SAMPLE_RATES.items()):
            rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
        kept = (_sample_bucket() < rate).cast("long")
        sample_rows = (
            d.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(kept).alias("measure"),
                F.round(F.sum(kept) / F.count(F.lit(1)), 6).alias("score"),
            )
            .select(
                F.lit("sample").alias("variant"),
                "lang",
                F.lit("corpus").alias("grp"),
                "n_docs",
                "measure",
                "score",
            )
        )

        toks = F.col("toks")
        n = F.size(toks)
        length_c = F.least(n / F.lit(100.0), F.lit(1.0))
        diversity = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))
        stop_c = F.lit(1.0) - T.stopword_ratio(toks)
        q = length_c * 0.3 + diversity * 0.4 + stop_c * 0.3
        scored = base.select("doc_id", "lang", "_th", n.alias("n_toks"), q.alias("q"))
        # exact-dup survivor = min-doc_id row per md5(text) (the base's _th
        # column): a single map-side-combinable aggregate (min of a
        # doc_id-led struct), NOT a per-hash window — a corpus with one text
        # duplicated M times makes the hash a hot window partition (one task
        # ranks M rows), while the aggregate pre-combines duplicates inside
        # every map task
        survivors = (
            scored.filter(F.col("q") >= 0.55)
            .groupBy(F.col("_th").alias("_h"))
            .agg(F.min(F.struct("doc_id", "lang", "n_toks", "q")).alias("_s"))
            .select("_s.doc_id", "_s.lang", "_s.n_toks", "_s.q")
        )
        curate_rows = (
            survivors.groupBy("lang", _split_col().alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_toks").alias("measure"),
                F.sum(F.round("q", 6).cast("decimal(18,6)")).cast("double").alias("score"),
            )
            .select(F.lit("curate").alias("variant"), "lang", "grp", "n_docs", "measure", "score")
        )

        # decontam — benchmark-contamination hygiene: docs with doc_id % 41
        # == 0 stand in for the held-out eval set; a training doc is
        # contaminated if it shares any whitespace 4-gram with it. Plan:
        # the eval n-gram set is tiny relative to the corpus at any SF, so
        # it BROADCASTS into the train-side n-gram stream — contamination
        # checking at 100 TB is one map-side hash probe per n-gram, no
        # corpus-vs-corpus shuffle (the GPT-3/Llama 13-gram overlap rule,
        # shortened to 4 for this corpus's doc lengths).
        ngrams = F.expr(
            "transform(sequence(1, size(toks) - 3), i -> concat_ws(' ', slice(toks, i, 4)))"
        )
        ng = (
            base.select("doc_id", "toks")
            .filter(F.size("toks") >= 4)
            .select("doc_id", F.explode(ngrams).alias("ng"))
        )
        eval_ng = ng.filter(F.col("doc_id") % 41 == 0).select("ng").distinct()
        hits = (
            ng.filter(F.col("doc_id") % 41 != 0)
            .join(F.broadcast(eval_ng), "ng")
            .groupBy("doc_id")
            .agg(F.count_distinct("ng").alias("n_hits"))
        )
        decon_rows = (
            d.filter(F.col("doc_id") % 41 != 0)
            .select("doc_id", "lang")
            .join(hits, "doc_id", "left")
            .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
            .groupBy(
                "lang",
                F.when(F.col("n_hits") > 0, F.lit("contaminated"))
                .otherwise(F.lit("clean"))
                .alias("grp"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_hits").alias("measure"),
                F.round(F.sum("n_hits") / F.count(F.lit(1)), 6).alias("score"),
            )
            .select(F.lit("decontam").alias("variant"), "lang", "grp", "n_docs", "measure", "score")
        )

        # pack — sequence packing for training: docs are concatenated in
        # doc_id order per lang and split into fixed 2048-BPE-token
        # sequences (the standard pretraining concat-and-split). Reports
        # per lang: sequences produced + packing efficiency ('b2048' row)
        # and how many docs straddle a sequence boundary ('straddle' row).
        # The running token sum is the two-phase banded prefix sum
        # (operators/prefix.py), NOT a per-lang window: doc_id range-bands
        # (≤2048 per lang, order-preserving by construction) carry
        # broadcast offsets, so the dominant language's cumsum runs across
        # ~2048 tasks instead of one. Bit-identical to the windowed form.
        # The (doc_id, lang, n_bpe) projection derives from the shared
        # tokenized base (chunk-fold over toks — no second tokenizer pass)
        # and is persisted lazily in its own right: the DAG consumes it
        # thrice (range stats, band totals, final rows) and it is 3 numeric
        # columns, far smaller than the token arrays it folds. Banding,
        # offsets, and the cumsum are all declarative — no driver action.
        from etly_spark.operators.prefix import banded_running_sum, with_range_band

        bpe_base = scoped_persist(
            base.select("doc_id", "lang", T.bpe_token_count_from("toks").alias("n_bpe")),
            eager=False,
        )
        wdf = banded_running_sum(
            with_range_band(bpe_base, ["lang"], "doc_id"),
            ["lang"],
            F.col("_band"),
            [F.col("doc_id")],
            F.col("n_bpe"),
            "cum",
        )
        nseq = F.floor((F.col("cum") + 2047) / 2048)
        straddle = (F.col("n_bpe") > 0) & (
            F.floor((F.col("cum") - F.col("n_bpe")) / 2048) < F.floor((F.col("cum") - 1) / 2048)
        )
        pack_rows = (
            wdf.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.max(nseq).alias("measure"),
                F.round(F.max("cum") / (F.max(nseq) * F.lit(2048)), 6).alias("score"),
            )
            .select(F.lit("pack").alias("variant"), "lang", F.lit("b2048").alias("grp"),
                    "n_docs", "measure", "score")
        )
        straddle_rows = (
            wdf.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(straddle.cast("long")).alias("measure"),
                F.round(F.sum(straddle.cast("long")) / F.count(F.lit(1)), 6).alias("score"),
            )
            .select(F.lit("pack").alias("variant"), "lang", F.lit("straddle").alias("grp"),
                    "n_docs", "measure", "score")
        )

        # ppx — CCNet-style perplexity terciles (builder above), fed the
        # shared tokenized base
        ppx_rows = (
            unigram_perplexity(spark, sf_dir, base)
            .groupBy("lang", F.col("bucket").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_toks").alias("measure"),
                F.sum(F.col("bits").cast("decimal(18,6)")).cast("double").alias("score"),
            )
            .select(F.lit("ppx").alias("variant"), "lang", "grp", "n_docs", "measure", "score")
        )

        # shuffle — deterministic corpus shuffle: md5-keyed permutation,
        # pinned by a positional checksum (see _SHUFFLE_SQL_BLOCK). The
        # rank is the banded two-phase row_number: the md5 key's first
        # byte is a uniform, order-preserving 256-way band (hex chars
        # compare identically as text and as value), so no per-lang
        # single-task sort — each window partition is 1/256 of a language.
        from etly_spark.operators.prefix import banded_row_number

        shuffle_key = F.md5(
            F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")).cast("binary")
        )
        # not persisted: the base is a column-pruned scan + one md5 — the
        # band-totals subtree recomputes it concurrently for less than a
        # cache round-trip costs
        shuffle_rows = (
            banded_row_number(
                d.select("lang", "doc_id").withColumn("_sk", shuffle_key),
                ["lang"],
                F.conv(F.substring(F.col("_sk"), 1, 2), 16, 10).cast("long"),
                [F.col("_sk"), F.col("doc_id")],
                "rnk",
            )
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                # DECIMAL(38,0) accumulation + mod-prime keeps the checksum
                # exact AND inside int64 on BOTH engines at any corpus size
                # (a raw long sum wraps silently in Spark past ~1.4e8 docs
                # per lang while DuckDB's HUGEINT diverges — the similarity
                # _CENT_HASH_SQL overflow lesson)
                (
                    F.sum(F.col("rnk").cast("decimal(38,0)") * (F.col("doc_id") % 997))
                    % F.lit(1000000007)
                )
                .cast("bigint")
                .alias("measure"),
            )
            .select(
                F.lit("shuffle").alias("variant"),
                "lang",
                F.lit("order").alias("grp"),
                "n_docs",
                "measure",
                F.lit(0.0).alias("score"),
            )
        )

        # spans — 5-gram repeated-span coverage (builder in dedup.py);
        # spans_exact/mix/dsir resolve from the pool futures at union time
        span_rows = (
            repeated_span_stats(spark, sf_dir, base)
            .groupBy(
                "lang",
                F.when(F.col("flagged"), F.lit("flagged")).otherwise(F.lit("clean")).alias("grp"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_dup_spans").alias("measure"),
                F.sum(F.col("dup_frac").cast("decimal(18,6)")).cast("double").alias("score"),
            )
            .select(F.lit("spans").alias("variant"), "lang", "grp", "n_docs", "measure", "score")
        )

        # hostcap (r8): at most K docs per canonical host, kept-set decided
        # by md5(doc_id) hash order. The per-host rank is a window over a
        # LOW-NDV key (7 hosts here; real crawls are Zipf over hosts) — the
        # exact shape the plan gates ban — so it runs through the banded
        # two-phase machinery (operators/prefix.py), REUSING the de-skew
        # operator on a second real key: band = md5 first byte (monotone in
        # the window's ORDER BY), windows only within (host, band).
        from etly_spark.functions.url import url_host
        from etly_spark.operators.prefix import banded_row_number

        hc = d.select(
            "doc_id",
            url_host(
                F.concat(
                    F.lit("HTTPS://WWW.News-"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".Example.COM:443/articles/"),
                    F.col("doc_id").cast("string"),
                    F.lit("?utm_source=feed&id="),
                    F.col("doc_id").cast("string"),
                    F.lit("#section-2"),
                )
            ).alias("grp"),
            F.md5(F.col("doc_id").cast("string")).alias("_h"),
        )
        hc = banded_row_number(
            hc,
            ["grp"],
            F.conv(F.substring("_h", 1, 2), 16, 10).cast("long"),
            ["_h", "doc_id"],
            "_rn",
        )
        hostcap_rows = (
            hc.filter(F.col("_rn") <= 40)
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("measure"),
            )
            .select(
                F.lit("hostcap").alias("variant"),
                F.lit("all").alias("lang"),
                "grp",
                "n_docs",
                "measure",
                F.lit(0.0).alias("score"),
            )
        )

        # pool futures: the three construction-time-job branches (sexact,
        # mix, dsir — built concurrently above)
        sexact_rows = f_sexact.result()
        mix_rows = f_mix.result()
        dsir_rows = f_dsir.result()
    finally:
        pool.shutdown(wait=True)

    return (
        split_rows.unionByName(sample_rows)
        .unionByName(curate_rows)
        .unionByName(decon_rows)
        .unionByName(pack_rows)
        .unionByName(straddle_rows)
        .unionByName(ppx_rows)
        .unionByName(span_rows)
        .unionByName(sexact_rows)
        .unionByName(shuffle_rows)
        .unionByName(mix_rows)
        .unionByName(hostcap_rows)
        .unionByName(dsir_rows)
        .orderBy("variant", "lang", "grp")
    )
