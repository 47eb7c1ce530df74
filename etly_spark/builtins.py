"""Built-in named callables: the engine's own operators exposed through
the reference's name-in-config contract (transformer.go:10-31 — logic
referenced by string name from a Transfer JSON).

A config that says `"Transformer": "etly.DecodePixelFeatures"` runs the
real media codec stage; nothing here is test-only. Imports happen
inside each callable so registering the names costs nothing at package
import and cannot cycle.
"""

from __future__ import annotations

from etly_spark import registry


@registry.transformers.register("etly.DecodePixelFeatures")
def _decode_pixel_features(df):
    from etly_spark.operators.multimodal import decode_pixel_features

    return decode_pixel_features(df)


@registry.transformers.register("etly.DecodeAudioFeatures")
def _decode_audio_features(df):
    from etly_spark.operators.multimodal import decode_audio_features

    return decode_audio_features(df)


@registry.transformers.register("etly.DecodeImageHeaders")
def _decode_image_headers(df):
    from etly_spark.operators.multimodal import decode_image_headers

    return decode_image_headers(df)


@registry.filters.register("etly.DecodableImage")
def _decodable_image(df):
    """Predicate form for pre-decode gating: payload starts with a known
    raster container magic (cheap byte check; the decode stage itself
    still null-handles corrupt bodies)."""
    from pyspark.sql import functions as F

    h2 = F.upper(F.hex(F.substring(F.col("payload"), 1, 2)))
    return h2.isin("424D", "8950", "5035", "5036", "4749")  # BM, \x89P, P5, P6, GI(F)


@registry.transformers.register("etly.DecodeVideoFeatures")
def _decode_video_features(df):
    from etly_spark.operators.multimodal import decode_video_features

    return decode_video_features(df)


@registry.filters.register("etly.DecodableMedia")
def _decodable_media(df):
    """Any supported media container magic: raster image, WAV, or Y4M."""
    from pyspark.sql import functions as F

    h2 = F.upper(F.hex(F.substring(F.col("payload"), 1, 2)))
    h4 = F.upper(F.hex(F.substring(F.col("payload"), 1, 4)))
    h9 = F.upper(F.hex(F.substring(F.col("payload"), 1, 9)))
    return (
        h2.isin("424D", "8950", "5035", "5036", "4749")  # BM, \x89P, P5, P6, GI(F)
        | (h4 == "52494646")  # RIFF (WAV)
        | (h9 == F.upper(F.lit("595556344d50454732")))  # YUV4MPEG2
    )


@registry.transformers.register("etly.TextQualitySignals")
def _text_quality_signals(df):
    """Per-doc quality + language signals (the text_quality composite)
    appended to whatever shape the record already has."""
    from pyspark.sql import functions as F

    from etly_spark.functions import text as T

    toks = T.tokens("text")
    return df.withColumn("quality", T.quality_score("text")).withColumn(
        "lang_pred", T.langid(toks)
    )


@registry.transformers.register("etly.RedactPII")
def _redact_pii(df):
    """PII scrubber for text records: sequentially redacts SSN / email /
    card / IPv4 / phone patterns from the `text` column (in place) and
    appends per-class counts plus an `n_pii` total — the curation
    pipeline's compliance stage, scan-speed (one codegen'd projection,
    no shuffles)."""
    from pyspark.sql import functions as F

    from etly_spark.functions.text import redact_pii

    cols = redact_pii("text")
    counts = [v for k, v in cols.items() if k != "text"]
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    # ONE select so every expression resolves against the ORIGINAL text
    # column (withColumn("text", ...) first would make the counts see
    # the already-redacted text and report zero). Pre-existing columns
    # with the scrubber's output names (a re-scrub of already-scrubbed
    # data) are replaced, not duplicated — duplicate names would break
    # every downstream column reference.
    from etly_spark.functions.text import PII_RULES

    reserved = {f"n_{name}" for name, _, _ in PII_RULES} | {"n_pii", "text"}
    others = [c for c in df.columns if c not in reserved]
    return df.select(
        *others,
        *[v.alias(k) for k, v in cols.items()],
        total.alias("n_pii"),
    )


@registry.transformers.register("etly.QualityScore")
def _quality_score_trained(df):
    """Trained quality scorer (r9): fits the closed-form least-squares
    classifier over (lexical diversity, non-stopword density) with the
    Gopher modal-token repetition rule as the expensive training label
    — the fastText/CCNet distill-a-cheap-scorer pattern — and appends
    `clf_score` (linear repetition-risk score, 6 dp) and `clf_flag`
    (score at >= 2x the corpus prior; downstream filters keep
    NOT clf_flag). Training is one 9-number aggregate over the batch
    (corpus-size-independent driver work; operators/quality solve is
    mirrored bit-for-bit by the catalog oracle); scoring is a codegen'd
    projection. Deterministic: same corpus -> same weights."""
    from pyspark.sql import functions as F

    from etly_spark.functions import text as T
    from etly_spark.operators.quality import lr_features, lr_stats, solve_weights

    toks = T.tokens("text")
    feats = lr_features(toks)
    stats = lr_stats(
        df.select(
            feats["r1"].alias("r1"), feats["r2"].alias("r2"), feats["y"].alias("y")
        )
    )
    w0, w1, w2 = solve_weights(stats)
    clf_raw = F.lit(w0) + F.lit(w1) * feats["r1"] + F.lit(w2) * feats["r2"]
    # sy > 0 conjunct (r10): on a zero-prior corpus (no doc trips the
    # weak label — includes every det==0 null-model batch) the weights
    # are exactly 0 and score*n >= 0 would flag EVERY doc, silently
    # emptying downstream NOT-clf_flag filters; such corpora flag none.
    return df.withColumn("clf_score", F.round(clf_raw, 6)).withColumn(
        "clf_flag",
        (clf_raw * F.lit(stats["n"]) >= F.lit(2.0) * F.lit(stats["sy"]))
        & F.lit(stats["sy"] > 0),
    )


@registry.filters.register("etly.QualityGate")
def _quality_gate(df):
    """Keep records whose composite text quality clears the 'medium'
    threshold (functions.text.quality_score >= 0.55 over the `text`
    column) — the standard curation pre-filter, config-addressable so
    a Transfer can gate before any heavier stage."""
    from etly_spark.functions.text import quality_score

    return quality_score("text") >= 0.55


@registry.enrichers.register("etly.AttachRobots")
def _attach_robots(df, ctx):
    """Attach each record's host robots policy from the in-batch
    ``/robots.txt`` fetches — a crawl stores the robots responses in
    the same WARC shards as the pages, so the policy table is derived
    from the batch being processed (a ledger group's eligible files
    for this run), not a side input. Adds a
    ``robots`` column (policy text; null when the host published
    none). Scale shape: the policy table is one small text row per
    HOST (domains, not pages), so it broadcast-joins; the groupBy that
    builds it is map-side combinable."""
    from pyspark.sql import functions as F

    from etly_spark.functions.url import url_host, url_path

    pol = (
        df.where(url_path(F.col("uri")) == "/robots.txt")
        .groupBy(url_host(F.col("uri")).alias("_rb_host"))
        .agg(F.max("text").alias("robots"))
    )
    return (
        df.withColumn("_rb_host", url_host(F.col("uri")))
        .join(F.broadcast(pol), "_rb_host", "left")
        .drop("_rb_host")
    )


@registry.filters.register("etly.RobotsAllowed")
def _robots_allowed(df):
    """RFC 9309 compliance gate: keep records whose ``uri`` the robots
    policy in the ``robots`` column permits (operators/robots.py —
    longest-match rules, `*`/`$` patterns, Allow tiebreak). The agent
    is the per-row ``agent`` column when present, else 'etlybot'; a
    null/absent policy allows, the spec's default. Arrow-batched
    pandas UDF with a per-batch parsed-policy cache keyed by the
    policy text — each host's robots.txt parses once per batch, not
    once per row."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def _ok_fn(uri, robots, agent):
        import re as _re

        from etly_spark.operators.robots import RobotsPolicy

        cache: dict[str, RobotsPolicy] = {}
        out = []
        for u, r, a in zip(uri, robots, agent):
            if not r:
                out.append(True)
                continue
            p = cache.get(r)
            if p is None:
                p = cache[r] = RobotsPolicy.parse(r)
            # path per functions/url.url_path semantics ('' -> '/')
            rest = _re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*://", "", u or "")
            m = _re.match(r"^[^/?#]*(/[^?#]*)", rest)
            out.append(p.allowed(a or "etlybot", m.group(1) if m else "/"))
        return pd.Series(out)

    # real (non-string) annotations: `from __future__ import annotations`
    # would hand pandas_udf unresolvable 'pd.Series' strings
    _ok_fn.__annotations__ = {
        "uri": pd.Series, "robots": pd.Series, "agent": pd.Series,
        "return": pd.Series,
    }
    _ok = pandas_udf(_ok_fn, "boolean")

    robots_col = (
        F.col("robots") if "robots" in df.columns else F.lit(None).cast("string")
    )
    agent_col = F.col("agent") if "agent" in df.columns else F.lit("etlybot")
    return _ok(F.col("uri"), robots_col, agent_col)


@registry.transformers.register("etly.DedupLines")
def _dedup_lines(df):
    """C4-style line-level dedup as a pipeline stage (r9): newline-split
    the `text` column, remove every line whose content appears earlier
    in the batch (global first occurrence), reassemble order-preserving.
    The occurrence order key is (md5(text), line_no) — a pure function
    of CONTENT, so the kept set is deterministic at any partitioning or
    cluster size, and identical documents tie: they all keep their
    lines (collapsing identical documents is the separate whole-doc
    dedup stage). Consequently the rebuilt text is a function of the
    original text, and the stage is one explode -> map-side-combinable
    min-groupBy -> hash join -> per-doc reassembly over DISTINCT texts
    only; all other columns ride through a final join on md5(text).
    A document whose every line is removed keeps an empty text (gate
    afterwards with etly.QualityGate if unwanted). Whitespace-only
    lines are exempt: blank separators are document structure, not
    repeated content — collapsing every blank line in the corpus to
    its first occurrence would mangle formatting corpus-wide."""
    from pyspark.sql import functions as F

    th = F.md5(F.col("text").cast("binary"))
    texts = df.select(th.alias("_th"), "text").dropDuplicates(["_th"])
    lines = texts.select(
        "_th",
        F.posexplode(F.split(F.col("text"), "\n")).alias("_ln", "_line"),
    ).withColumn("_h", F.md5(F.col("_line").cast("binary"))).withColumn(
        "_ord", F.struct(F.col("_th"), F.col("_ln"))
    )
    firsts = lines.groupBy("_h").agg(F.min("_ord").alias("_first"))
    rebuilt = (
        lines.join(firsts, "_h")
        .where((F.col("_ord") == F.col("_first")) | (F.trim("_line") == ""))
        .groupBy("_th")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_ln", "_line"))),
                    lambda x: x["_line"],
                ),
                "\n",
            ).alias("_rebuilt")
        )
    )
    out = (
        df.withColumn("_th", th)
        .join(rebuilt, "_th", "left")
        .withColumn("text", F.coalesce("_rebuilt", F.lit("")))
        .drop("_th", "_rebuilt")
    )
    return out


@registry.enrichers.register("etly.DedupLines")
def _dedup_lines_enricher(df, ctx):
    """Enricher-slot alias of etly.DedupLines so a config can run line
    dedup BEFORE its filter/transformer stages (the pipeline order is
    enrich -> filter -> transform): e.g. ContentEnricher
    'etly.DedupLines' + Transformer 'etly.QualityScore' + Filter
    'etly.QualityGate' is the standard curation chain, config-only."""
    return _dedup_lines(df)


@registry.transformers.register("etly.RemoveSpans")
def _remove_spans(df):
    """ExactSubstr ACTION as a pipeline stage (r10 — Lee et al. 2022):
    excise every cross-document verbatim token span >= 15 tokens from
    EVERY occurrence in the batch and reassemble `text` order-
    preserving. Shares the dedup_exact 'spans_remove' kernel
    (queries/dedup.excise_dup_spans), keyed on md5(text) with a
    multiplicity column — so the decision is a pure function of
    content (deterministic at any partitioning), identical documents
    excise identically, and — true to ExactSubstr — a document that is
    an EXACT duplicate of another is fully excised on BOTH copies (its
    whole text is a cross-doc repeated span; run whole-doc dedup first
    to keep one copy). A window repeated only WITHIN one unique
    document does not excise. r11: excision is by CHARACTER OFFSETS —
    every kept region is byte-identical to the source (newlines and
    spacing in kept text survive; only the bytes from a removed span's
    first to last token go, so whitespace adjacent to a cut remains on
    both sides). A doc whose every token is excised keeps only its
    inter-span whitespace (possibly empty); gate afterwards with
    etly.QualityGate if unwanted."""
    from pyspark.sql import functions as F

    from etly_spark.queries.dedup import excise_dup_spans

    th = F.md5(F.col("text").cast("binary"))
    texts = (
        df.select(th.alias("_th"), "text")
        .groupBy("_th")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.min("text").alias("text"))
        .withColumn("_t", F.split(F.trim(F.col("text")), "\\s+"))
    )
    ex = excise_dup_spans(texts, "_th", t_col="_t", cnt_col="_cnt", text_col="text")
    rebuilt = ex.where(F.size("_ss") > 0).select(
        "_th", F.col("_txt").alias("_rebuilt")
    )
    return (
        df.withColumn("_th", th)
        .join(rebuilt, "_th", "left")
        .withColumn("text", F.coalesce("_rebuilt", F.col("text")))
        .drop("_th", "_rebuilt")
    )


@registry.transformers.register("etly.NormalizeText")
def _normalize_text(df):
    """Canonicalize the `text` column in place (lowercase, collapse
    whitespace, trim — functions.text.normalize_text): the
    normalization stage dedup pipelines run before fingerprinting."""
    from pyspark.sql import functions as F

    from etly_spark.functions.text import normalize_text

    return df.withColumn("text", normalize_text("text"))


# --- ANN index maintenance surface (r14) ---------------------------------
# The record shape an annIndexFold Target consumes from ndjson shards:
# {"vec_id": 7, "embedding": [..64 doubles..]} with an optional
# "op": "add"|"del" CDC column. Registered here so a Transfer JSON can
# own an index end-to-end with no Python at all:
#   Source.DataType:       "etly.EmbeddingRecord"
#   Target.TransferMethod: "annIndexFold"
# (operators/ann_index_sink — the reference's special-sink dispatch
# precedent is the BQ load path, transfer_service.go:566-663).
def _embedding_record_schema():
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
            StructField("op", StringType()),
        ]
    )


registry.schemas.register("etly.EmbeddingRecord", _embedding_record_schema)
