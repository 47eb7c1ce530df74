"""Scale stress for the text-curation family (the r6 verdict's last
perf-weak item): A/B the de-skewed banded prefix sums against the
per-lang-window forms they replaced, on the 10x scaled corpus
(tools/build_scaled_corpus.py — consonant-rotated copies, constant
dup density).

Measures, per branch (pack cumsum / shuffle rank / ppx percent_rank):
  - banded (shipped) vs lang-window (r6 shape) wall-clock, min-of-N
  - the full text_curation_split catalog row at 10x
  - the shared-base persist-vs-recompute choice at 10x (verdict #4)

Usage: python tools/stress_text.py [corpus_dir] [runs]
Writes one JSON line to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etly_spark.io.tables import load_table  # noqa: E402
from etly_spark.operators.prefix import (  # noqa: E402
    banded_row_number,
    banded_running_sum,
    with_range_band,
)
from etly_spark.queries import REGISTRY  # noqa: E402
from etly_spark.queries import text as TX  # noqa: E402
from etly_spark.session import get_spark  # noqa: E402

T = TX.T


def best_of(runs, spark, fn) -> float:
    best = float("inf")
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def main() -> int:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/etly_sf1.0_scaled"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("stress-text")
    d = load_table(spark, corpus, "documents")
    n_docs = d.count()

    # warm page cache + python workers
    d.select(F.sum(F.size(T.tokens("text")))).collect()

    out: dict = {"n_docs": n_docs, "corpus": corpus, "runs": runs}

    # --- pack cumsum ---------------------------------------------------
    def bpe_base():
        return d.select("doc_id", "lang", T.bpe_token_count("text").alias("n_bpe"))

    def pack_window():
        w = (
            Window.partitionBy("lang")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return bpe_base().withColumn("cum", F.sum("n_bpe").over(w))

    def pack_banded():
        return banded_running_sum(
            with_range_band(bpe_base(), ["lang"], "doc_id"),
            ["lang"],
            F.col("_band"),
            [F.col("doc_id")],
            F.col("n_bpe"),
            "cum",
        )

    out["pack_window"] = best_of(runs, spark, pack_window)
    out["pack_banded"] = best_of(runs, spark, pack_banded)

    # --- shuffle rank --------------------------------------------------
    key = F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")).cast("binary"))

    def shuffle_window():
        w = Window.partitionBy("lang").orderBy(key, "doc_id")
        return d.select("lang", "doc_id").withColumn("rnk", F.row_number().over(w))

    def shuffle_banded():
        return banded_row_number(
            d.select("lang", "doc_id").withColumn("_sk", key),
            ["lang"],
            F.conv(F.substring(F.col("_sk"), 1, 2), 16, 10).cast("long"),
            [F.col("_sk"), F.col("doc_id")],
            "rnk",
        )

    out["shuffle_window"] = best_of(runs, spark, shuffle_window)
    out["shuffle_banded"] = best_of(runs, spark, shuffle_banded)

    # --- ppx percent_rank ---------------------------------------------
    def ppx_window():
        per_doc = TX._ppx_per_doc(spark, corpus)
        pr = F.percent_rank().over(Window.partitionBy("lang").orderBy("bits", "doc_id"))
        return per_doc.withColumn(
            "bucket",
            F.when(pr < 1 / 3, "head").when(pr < 2 / 3, "middle").otherwise("tail"),
        )

    out["ppx_window"] = best_of(runs, spark, ppx_window)

    # --- verdict #4: shared-base persist vs recompute at 10x ----------
    # The shipped catalog builder (TX.unigram_perplexity) persists the
    # shared per-doc base lazily; the recompute arm below is the SAME
    # banded plan with no persist — the two arms must stay distinct or
    # this A/B silently measures persist vs persist.
    from etly_spark.queries.catalog import release_cache

    def ppx_banded_recompute():
        per_doc = TX._ppx_per_doc(spark, corpus)  # NOT persisted
        band = F.least(F.greatest(F.floor(F.col("bits") * 32), F.lit(0)), F.lit(4095))
        ranked = banded_row_number(per_doc, ["lang"], band, ["bits", "doc_id"], "_rn")
        counts = per_doc.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
        pr = F.when(F.col("_n") > 1, (F.col("_rn") - 1) / (F.col("_n") - 1)).otherwise(
            F.lit(0.0)
        )
        return (
            ranked.join(F.broadcast(counts), "lang")
            .withColumn(
                "bucket",
                F.when(pr < 1 / 3, "head").when(pr < 2 / 3, "middle").otherwise("tail"),
            )
            .drop("_rn", "_band", "_n")
        )

    out["ppx_banded_recompute"] = best_of(runs, spark, ppx_banded_recompute)
    out["ppx_banded_persist"] = best_of(
        runs, spark, lambda: TX.unigram_perplexity(spark, corpus)
    )
    release_cache()

    # --- the whole catalog row at 10x ---------------------------------
    out["text_curation_split"] = best_of(
        runs, spark, lambda: REGISTRY["text_curation_split"].spark(spark, corpus)
    )

    # --- synthetic skew: where the lang-window actually dies ----------
    # 50k docs through one task's sort is trivial; the single-task
    # funnel only shows once the dominant group is millions of rows.
    # 20M rows, 90% one lang: the window form sorts 18M rows in ONE
    # task; the banded form spreads them over 2048 (lang, band) tasks.
    syn = spark.range(20_000_000).selectExpr(
        "id as doc_id",
        "case when id % 10 = 0 then concat('l', id % 7) else 'en' end as lang",
        "cast(pmod(hash(id), 1000) as long) as v",
    )

    def syn_window():
        w = (
            Window.partitionBy("lang")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return syn.withColumn("cum", F.sum("v").over(w))

    def syn_banded():
        return banded_running_sum(
            with_range_band(syn, ["lang"], "doc_id"),
            ["lang"],
            F.col("_band"),
            [F.col("doc_id")],
            F.col("v"),
            "cum",
        )

    out["syn20m_window"] = best_of(runs, spark, syn_window)
    out["syn20m_banded"] = best_of(runs, spark, syn_banded)

    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
