"""Multimodal-column queries: binary payloads with typed metadata,
decode/feature-extract via Arrow-batched mapInPandas, frame sampling.

REAL codecs run under the oracle gate: the 'pixels' variant packs each
doc's text into a valid PPM and decodes it with the pure-numpy Netpbm
codec; the 'y4m' variant packs it into a valid YUV4MPEG2 stream and
frame-samples the REAL decoder's output; the 'warc' variant runs the
full web-corpus chain (escaped HTML → HTTP → WARC → per-record gzip →
parse → extract). Only entropy-coded formats stay stubbed
('stub'/'meta' variants keep the deterministic featurizer). Oracles
replicate the byte arithmetic (payload bytes derive from ASCII text,
so DuckDB's ascii() over chars equals the decoded byte values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etly_spark.io.tables import load_table
from etly_spark.operators.multimodal import (
    attach_binary_payload,
    decode_frame_samples,
    decode_pixel_features,
    entropy_roundtrip_features,
    synthesize_ppm_payload,
    synthesize_y4m_payload,
)
from etly_spark.queries.catalog import query


@query(
    "mm_binary_metadata",
    oracle="""
    WITH meta AS (
      SELECT 'meta' AS variant, doc_id,
             octet_length(CAST(text AS BLOB)) AS n_bytes,
             md5(text) AS payload_md5,
             upper(hex(substr(text, 1, 8))) AS header_hex,
             16 + doc_id % 32 AS height,
             16 + octet_length(CAST(text AS BLOB)) % 64 AS width,
             1 + doc_id % 8 AS n_frames,
             CAST(NULL AS DOUBLE) AS mean_luma
      FROM documents
    ), raster AS (
      -- the pixels the REAL Netpbm decoder must recover: text
      -- space-padded/truncated to a 16x16x3 raster (ASCII corpus,
      -- so chars == bytes — same contract as mm_decode_frames)
      SELECT doc_id, rpad(text, 768, ' ') AS px FROM documents
    ), pixels AS (
      SELECT 'pixels' AS variant, doc_id,
             768 AS n_bytes,
             md5(px) AS payload_md5,
             CAST(NULL AS VARCHAR) AS header_hex,
             16 AS height,
             16 AS width,
             CAST(NULL AS BIGINT) AS n_frames,
             round(CAST(list_sum(list_transform(generate_series(1, 768),
                    i -> ascii(substr(px, i, 1)))) AS DOUBLE) / 768, 6) AS mean_luma
      FROM raster
    ), webp AS (
      -- lossless round-trip: the VP8L encode+decode pair must hand the
      -- source raster back bit-for-bit, so byte arithmetic IS the
      -- decoded-pixel oracle (same px contract as 'pixels'; 1-in-50
      -- deterministic sample bounds the pure-Python codec cost)
      SELECT 'webp' AS variant, doc_id,
             768 AS n_bytes,
             md5(px) AS payload_md5,
             CAST(NULL AS VARCHAR) AS header_hex,
             16 AS height,
             16 AS width,
             CAST(NULL AS BIGINT) AS n_frames,
             round(CAST(list_sum(list_transform(generate_series(1, 768),
                    i -> ascii(substr(px, i, 1)))) AS DOUBLE) / 768, 6) AS mean_luma
      FROM raster WHERE doc_id % 50 = 0
    ), flac AS (
      -- audio twin of the webp branch: the same 768 bytes reread as
      -- 192 frames of LE int16 stereo PCM, FLAC-encoded and fully
      -- decoded back; lossless => byte arithmetic IS the decoded-PCM
      -- oracle (height/width carry channels/frames from the REAL
      -- STREAMINFO+frame decode; offset-25 sample covers different
      -- docs than webp's offset-0)
      SELECT 'flac' AS variant, doc_id,
             768 AS n_bytes,
             md5(px) AS payload_md5,
             CAST(NULL AS VARCHAR) AS header_hex,
             2 AS height,
             192 AS width,
             CAST(NULL AS BIGINT) AS n_frames,
             round(CAST(list_sum(list_transform(generate_series(1, 768),
                    i -> ascii(substr(px, i, 1)))) AS DOUBLE) / 768, 6) AS mean_luma
      FROM raster WHERE doc_id % 50 = 25
    ), warc AS (
      -- the full web-corpus chain under the gate (offset-37 sample):
      -- text -> entity-escaped HTML -> HTTP/1.1 response -> WARC
      -- response record (+ a warcinfo record, each its own gzip
      -- member, the Common Crawl shape) -> decode_warc ->
      -- split_http_response -> html_to_text. Byte-exact extraction
      -- means md5(text) IS the oracle for the whole chain; n_bytes is
      -- the response record's Content-Length, which DuckDB recomputes
      -- from the framing arithmetic (73-byte fixed HTTP preamble +
      -- Content-Length digits + CRLFCRLF + body)
      SELECT 'warc' AS variant, doc_id,
             73 + length(CAST(octet_length(CAST(html AS BLOB)) AS VARCHAR))
                + 4 + octet_length(CAST(html AS BLOB)) AS n_bytes,
             md5(text) AS payload_md5,
             upper(hex('WARC/1.1')) AS header_hex,
             2 AS height,
             200 AS width,
             CAST(NULL AS BIGINT) AS n_frames,
             CAST(NULL AS DOUBLE) AS mean_luma
      FROM (
        SELECT doc_id, text,
               '<html><head><title></title><script>void(0)</script></head><body>'
               || replace(replace(replace(text, '&', '&amp;'),
                                  '<', '&lt;'), '>', '&gt;')
               || '</body></html>' AS html
        FROM documents WHERE doc_id % 50 = 37
      )
    )
    SELECT * FROM meta
    UNION ALL BY NAME
    SELECT * FROM pixels
    UNION ALL BY NAME
    SELECT * FROM webp
    UNION ALL BY NAME
    SELECT * FROM flac
    UNION ALL BY NAME
    SELECT * FROM warc
    ORDER BY variant, doc_id
    """,
    doc="Tagged union: 'meta' = binary payload + typed metadata (length, "
    "checksum, header bytes, declared dims — scan-project over an opaque "
    "blob column); 'pixels' = REAL image decode: each doc's text is "
    "packed into a valid binary PPM (P6) container, decoded back to "
    "pixels by the pure-numpy Netpbm codec (operators/codecs.py — no "
    "codec library), and checked value-for-value against byte "
    "arithmetic: payload_md5 digests the DECODED raster, width/height "
    "come from the REAL header parse, mean_luma from the decoded "
    "array. A codec bug anywhere (tokenizer, offset, reshape) fails "
    "the hash gate. 'webp' (r8) = REAL entropy-coded round-trip: a "
    "1-in-50 doc sample is VP8L-encoded (operators/webp.py), header-"
    "parsed, and fully decoded back — lossless, so the decoded raster "
    "must equal the source bytes and the same byte-arithmetic oracle "
    "gates the whole Huffman+LZ77 codec pair. 'flac' (r8) = the audio "
    "twin: the same bytes as LE int16 stereo PCM through the pure-"
    "numpy FLAC codec pair (operators/flac.py — fixed/LPC prediction, "
    "stereo decorrelation, Rice residuals, CRC-8/16 + MD5 verified), "
    "lossless round-trip under the same gate. 'warc' (r8) = the full "
    "web-corpus ingestion chain on an offset-37 sample: text -> "
    "entity-escaped HTML -> HTTP/1.1 response -> WARC record with a "
    "warcinfo sibling, each its own gzip member (the Common Crawl "
    "shape) -> decode_warc (operators/warc.py) -> split_http_response "
    "-> html_to_text (operators/htmltext.py); byte-exact extraction "
    "makes md5(text) the oracle for the whole chain, and n_bytes "
    "re-derives the parsed Content-Length from framing arithmetic. "
    "Perceptual-hash columns "
    "(ahash/dhash) and the BMP/PNG/WAV/JPEG codecs are pytest-covered "
    "(tests/test_codecs.py, tests/test_webp.py, tests/test_flac.py).",
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = attach_binary_payload(docs)
    meta = d.select(
        F.lit("meta").alias("variant"),
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.upper(F.hex(F.substring(F.col("text"), 1, 8).cast("binary"))).alias("header_hex"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.n_frames").alias("n_frames"),
        F.lit(None).cast("double").alias("mean_luma"),
    )
    px = decode_pixel_features(synthesize_ppm_payload(docs, w=16, h=16))
    pixels = px.select(
        F.lit("pixels").alias("variant"),
        "doc_id",
        (F.col("n_pixels") * 3).alias("n_bytes"),
        F.col("pixel_md5").alias("payload_md5"),
        F.lit(None).cast("string").alias("header_hex"),
        F.col("height"),
        F.col("width"),
        F.lit(None).cast("long").alias("n_frames"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )
    # all three container/codec branches ride ONE sampled Python stage
    # (operators/multimodal.entropy_roundtrip_features): for webp rows
    # width/height are the REAL header parse, for flac rows they carry
    # frames/channels from the REAL STREAMINFO+frame decode, for warc
    # rows (http_status, records_parsed) from the REAL container walk;
    # warc's n_bytes is the parsed record's Content-Length and its
    # header_hex the parsed version line
    ef = entropy_roundtrip_features(
        docs, w=16, h=16, every=50, flac_offset=25, warc_offset=37
    )
    codec_rows = ef.select(
        "variant",
        "doc_id",
        F.when(F.col("variant") == "warc", F.col("enc_bytes"))
        .otherwise(F.lit(768))
        .cast("long")
        .alias("n_bytes"),
        F.col("payload_md5"),
        F.upper(F.hex(F.col("hdr").cast("binary"))).alias("header_hex"),
        F.col("height"),
        F.col("width"),
        F.lit(None).cast("long").alias("n_frames"),
        F.round("mean_luma", 6).alias("mean_luma"),
    )
    return (
        meta.unionByName(pixels)
        .unionByName(codec_rows)
        .orderBy("variant", "doc_id")
    )


@query(
    "mm_decode_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             octet_length(CAST(text AS BLOB)) AS byte_len,
             CAST(list_sum(list_transform(generate_series(1, length(text)),
                  i -> ascii(substr(text, i, 1)))) AS BIGINT) AS byte_sum
      FROM documents
    ), feats AS (
      SELECT doc_id, byte_len, byte_sum,
             round(byte_sum / CAST(greatest(byte_len, 1) AS DOUBLE), 6) AS mean_byte,
             16 + byte_len % 64 AS width,
             16 + doc_id % 32 AS height,
             1 + doc_id % 8 AS n_frames,
             round(32.0 / greatest(16 + byte_len % 64, 16 + doc_id % 32), 6) AS resize_scale
      FROM b
    ), stub AS (
      SELECT 'stub' AS variant, doc_id,
             unnest(generate_series(0, n_frames - 1, 2)) AS frame_no,
             byte_len, byte_sum, mean_byte, width, height, n_frames, resize_scale
      FROM feats
    ), vid AS (
      -- the lumas the REAL Y4M decoder must recover: text space-padded
      -- to 6 frames x 64 bytes (ASCII corpus: chars == bytes)
      SELECT doc_id, rpad(text, 384, ' ') AS px FROM documents
    ), y4m AS (
      SELECT 'y4m' AS variant, doc_id,
             f AS frame_no,
             64 AS byte_len,
             CAST(list_sum(list_transform(generate_series(1, 64),
                  j -> ascii(substr(px, f * 64 + j, 1)))) AS BIGINT) AS byte_sum,
             round(CAST(list_sum(list_transform(generate_series(1, 64),
                  j -> ascii(substr(px, f * 64 + j, 1)))) AS DOUBLE) / 64, 6) AS mean_byte,
             8 AS width, 8 AS height, 6 AS n_frames,
             4.0 AS resize_scale
      FROM vid, (SELECT unnest([0, 2, 4]) AS f)
    ), avi AS (
      -- COMPRESSED video under the gate: the same 384 bytes as 6
      -- frames wrapped in a REAL AVI container with LOSSLESS-JPEG
      -- (SOF3) frame encoding — bit-exact, so byte arithmetic gates
      -- the RIFF walk + per-frame entropy decode (1-in-50 sample,
      -- offset 13, disjoint from the other sampled branches)
      SELECT 'avi' AS variant, doc_id,
             f AS frame_no,
             64 AS byte_len,
             CAST(list_sum(list_transform(generate_series(1, 64),
                  j -> ascii(substr(px, f * 64 + j, 1)))) AS BIGINT) AS byte_sum,
             round(CAST(list_sum(list_transform(generate_series(1, 64),
                  j -> ascii(substr(px, f * 64 + j, 1)))) AS DOUBLE) / 64, 6) AS mean_byte,
             8 AS width, 8 AS height, 6 AS n_frames,
             4.0 AS resize_scale
      FROM vid, (SELECT unnest([0, 2, 4]) AS f)
      WHERE doc_id % 50 = 13
    )
    SELECT * FROM stub UNION ALL BY NAME SELECT * FROM y4m
    UNION ALL BY NAME SELECT * FROM avi
    ORDER BY variant, doc_id, frame_no
    """,
    doc="Decode → frame-sample, three tagged variants in one checked "
    "row, all from ONE Arrow-batched Python stage. 'stub' — pandas "
    "decode stand-in (byte stats, resize geometry) + every-2nd-frame "
    "sampling (codec stubbed). 'y4m' — the SAME pipeline with a REAL "
    "codec in the loop: each doc's text is packed into a valid "
    "YUV4MPEG2 stream (6 frames of 8x8 luma), decoded back frame by "
    "frame by the pure-numpy Y4M decoder (operators/codecs.py), and "
    "every sampled frame's decoded luma sum / mean is hash-checked "
    "against byte arithmetic — a codec bug in header parse, frame "
    "walk, plane offsets, or reshape fails the gate. 'avi' (r8) — "
    "COMPRESSED video through the same gate: a 1-in-50 doc sample "
    "packed as 6 gray frames into a REAL AVI container with lossless-"
    "JPEG (SOF3) frames (codecs.encode_mjpeg_avi(lossless=True)), "
    "fully decoded back through the RIFF walk + JPEG entropy decoder "
    "(decode_video); losslessness makes the byte-arithmetic oracle "
    "exact. Baseline (lossy) MJPEG through the identical path is "
    "pytest-covered (tests/test_mjpeg.py). All variants: one pure map "
    "after a keyless balance shuffle of the slim (doc_id, text, y4m) "
    "slice.",
)
def mm_decode_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one Python stage over one repartitioned docs frame: the stub
    # featurizer for every doc, the y4m container decode for every doc
    # AND the lossless-JPEG-in-AVI round-trip for the 1-in-50 sample
    samples = decode_frame_samples(
        synthesize_y4m_payload(docs, w=8, h=8, n_frames=6),
        avi={"w": 8, "h": 8, "n_frames": 6, "every": 50, "offset": 13},
    )
    # the shuffle lets orderBy's range sampler read shuffle files instead
    # of running the Python decode a second time
    return (
        samples.select(
            "variant",
            "doc_id",
            "frame_no",
            "byte_len",
            "byte_sum",
            # HALF_UP rounding on the Spark side (= SQL round): numpy's
            # .round is half-to-even; see operators/multimodal
            F.round(F.col("byte_sum") / F.greatest("byte_len", F.lit(1)), 6).alias("mean_byte"),
            "width",
            "height",
            "n_frames",
            F.round(F.lit(32.0) / F.greatest("width", "height"), 6).alias("resize_scale"),
        )
        .repartition("doc_id")
        .orderBy("variant", "doc_id", "frame_no")
    )
