"""Corpus datasheet (Gebru et al., "Datasheets for Datasets") as an
ENGINE operator (r12 — r11 shipped it as a tool only): per-source
composition, language mix, quality, duplication, PII exposure and —
new — MEDIA stats (decodable fraction + codec mix over an opaque
binary payload column), every rollup a map-side-combinable aggregate
keyed by the low-cardinality source column, in two corpus scans (one
token-level via the quality features, one doc-level) plus one
payload-sniff pass when a media column is present.

Config-addressable (r12): a Transfer carrying ``"Datasheet": {"Name":
"<pwd>/out/datasheet.json"}`` ships this report with its output — the
pipeline computes it over the window's transferred rows and writes the
JSON beside the data (pipeline.py). The CLI form stays in
tools/datasheet.py.

Reference parity: none (the reference has no reporting surface);
SURVEY §2.3 training-data scope — a dataset release documents what it
ships.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from etly_spark.io.commit import write_file


def sniff_media_format(b: "bytes | None") -> str:
    """Magic-byte media sniff over the engine's real decoders' formats:
    images via operators.multimodal.parse_image_header (BMP/PPM/PGM/
    PNG/GIF/JPEG/WebP/TIFF — real header reads, no codec library),
    audio/video by container magic (WAV/FLAC/AIFF/AU/Y4M/AVI).
    'none' for an absent/empty payload, 'unknown' for bytes no decoder
    claims — the datasheet's decodable fraction counts neither."""
    from etly_spark.operators.multimodal import parse_image_header

    if b is None or len(b) == 0:
        return "none"
    b = bytes(b)
    hdr = parse_image_header(b)
    if hdr is not None:
        return hdr[0]
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        return "avi"
    if b[:4] == b"fLaC":
        return "flac"
    if b[:4] == b"FORM" and b[8:12] in (b"AIFF", b"AIFC"):
        return "aiff"
    if b[:4] == b".snd":
        return "au"
    if b[:9] == b"YUV4MPEG2":
        return "y4m"
    return "unknown"


@pandas_udf(StringType())
def media_format_pd(payload: pd.Series) -> pd.Series:
    return payload.map(sniff_media_format)


def build_datasheet(
    df: DataFrame,
    *,
    text_col: str = "text",
    source_col: str = "source",
    payload_col: str | None = None,
) -> dict:
    """The datasheet document for ``df``. ``payload_col`` (or an
    auto-detected binary ``payload`` column) adds per-source media
    stats: n_media (non-empty payloads), decodable fraction (payloads a
    real decoder claims) and the codec mix. A missing ``source_col``
    rolls the whole corpus up as one source 'all'; a missing
    ``text_col`` datasheets a media-only corpus."""
    from etly_spark.functions import text as T
    from etly_spark.operators.quality import lr_features

    if payload_col is None and "payload" in df.columns:
        payload_col = "payload"
    src = (
        F.col(source_col)
        if source_col in df.columns
        else F.lit("all").alias(source_col)
    )
    text = (
        F.coalesce(F.col(text_col), F.lit(""))
        if text_col in df.columns
        else F.lit("")
    )

    feats = lr_features(F.col("_t"))
    pii = T.redact_pii("text")
    pii_counts = {k: v for k, v in pii.items() if k != "text"}
    media_cols = (
        [media_format_pd(F.col(payload_col)).alias("media_fmt")]
        if payload_col
        else []
    )
    doc = df.select(
        src.alias("source"),
        text.alias("text"),
        T.tokens(text).alias("_t"),
        *([F.col(payload_col)] if payload_col else []),
    ).select(
        "source",
        F.size("_t").alias("n_toks"),
        F.length("text").alias("n_chars"),
        T.langid(F.col("_t")).alias("pred_lang"),
        feats["r1"].alias("diversity"),
        feats["r2"].alias("non_stop"),
        feats["y"].alias("repetitive"),
        F.md5(T.normalize_text("text").cast("binary")).alias("norm_h"),
        F.md5(F.substring(T.normalize_text("text"), 1, 40).cast("binary")).alias("fp"),
        *[v.alias(f"pii_{k}") for k, v in pii_counts.items()],
        *media_cols,
    )

    pii_cols = [c for c in doc.columns if c.startswith("pii_")]
    media_aggs = (
        [
            F.count(F.when(F.col("media_fmt") != "none", 1)).alias("n_media"),
            F.count(
                F.when(~F.col("media_fmt").isin("none", "unknown"), 1)
            ).alias("_dec"),
        ]
        if payload_col
        else []
    )
    per_source = (
        doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_toks").alias("tokens"),
            F.sum("n_chars").alias("chars"),
            F.percentile_approx("n_toks", 0.5).alias("toks_p50"),
            F.percentile_approx("n_toks", 0.9).alias("toks_p90"),
            F.round(F.avg("diversity"), 6).alias("mean_diversity"),
            F.round(F.avg("non_stop"), 6).alias("mean_non_stopword"),
            F.round(F.avg(F.col("repetitive").cast("double")), 6).alias(
                "repetitive_frac"
            ),
            F.countDistinct("norm_h").alias("_dn"),
            F.countDistinct("fp").alias("_dfp"),
            *[F.sum(c).alias(c) for c in pii_cols],
            *media_aggs,
        )
        .withColumn(
            "exact_dup_rate",
            F.round(1 - F.col("_dn") / F.col("docs").cast("double"), 6),
        )
        .withColumn(
            "fingerprint_cluster_rate",
            F.round(1 - F.col("_dfp") / F.col("docs").cast("double"), 6),
        )
        .drop("_dn", "_dfp")
        .orderBy("source")
    )
    if payload_col:
        per_source = per_source.withColumn(
            "media_decodable_frac",
            F.when(
                F.col("n_media") > 0,
                F.round(F.col("_dec") / F.col("n_media").cast("double"), 6),
            ),
        ).drop("_dec")

    langs = (
        doc.groupBy("source", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "pred_lang")
        .collect()
    )
    lang_mix: dict[str, dict[str, int]] = {}
    for r in langs:
        lang_mix.setdefault(r["source"], {})[r["pred_lang"]] = r["n"]

    codec_mix: dict[str, dict[str, int]] = {}
    if payload_col:
        for r in (
            doc.where(F.col("media_fmt") != "none")
            .groupBy("source", "media_fmt")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("source", "media_fmt")
            .collect()
        ):
            codec_mix.setdefault(r["source"], {})[r["media_fmt"]] = r["n"]

    sources = []
    for r in per_source.collect():
        row = r.asDict()
        row["lang_mix"] = lang_mix.get(row["source"], {})
        row["pii"] = {c[4:]: row.pop(c) for c in pii_cols}
        if payload_col:
            row["codec_mix"] = codec_mix.get(row["source"], {})
        sources.append(row)

    return {
        "corpus": {
            "docs": sum(s["docs"] for s in sources),
            "tokens": sum(s["tokens"] for s in sources),
            "chars": sum(s["chars"] for s in sources),
            "n_sources": len(sources),
            **(
                {"media_docs": sum(s.get("n_media", 0) for s in sources)}
                if payload_col
                else {}
            ),
        },
        "sources": sources,
    }


def write_datasheet(sheet: dict, path: str) -> str:
    """Commit the datasheet JSON atomically: the report ships beside a
    transfer's output, so readers must never see a half-written
    document."""
    def write(tmp: str) -> None:
        with open(tmp, "w") as fh:
            json.dump(sheet, fh, indent=1, default=str)

    return write_file(path, write)
