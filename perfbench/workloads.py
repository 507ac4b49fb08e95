"""The four measured jobs.  Each drives the package's public entry
points the way ``jobs/extract_job.py`` does for the matching CLI flags,
with a span around every call into a layer."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tesseract_rs_spark.config import ExtractConfig, mode_from_int, oem_from_int
from tesseract_rs_spark.functions.cleaning import curate, flatten_extracted
from tesseract_rs_spark.functions.dedup import dup_clusters, minhash_dedup_pairs
from tesseract_rs_spark.operators.extract import extract_text, extract_words
from tesseract_rs_spark.operators.ocr import ocr_text
from tesseract_rs_spark.plans.checkpoint import run_checkpointed
from tesseract_rs_spark.sources.pages import read_pages

# the CLI's defaults: --lang eng --psm 3 --oem 3
CFG = ExtractConfig(lang="eng", mode=mode_from_int(3), oem=oem_from_int(3))
# --checkpoint-dir --curate --fuzzy-dedup 0.8 with the CLI's defaults,
# except --n-buckets: scaled from 64 to 16 with the input (2.4k pages, not
# 40k), so a run still commits two groups of 8 buckets.  The warm-up runs
# one group.
N_BUCKETS = 16
GROUP_SIZE = 8
MIN_QUALITY = 55
KEEP_LANGS = ("en",)
FUZZY = 0.8


def _write(tr, out, dst: str) -> None:
    with tr.span("sink.write"):
        out.write.mode("overwrite").parquet(dst)


def html_text(spark, tr, src: str, dst: str, scratch: str, warm: bool = False) -> dict:
    """--output-format text: pages -> extract_text -> parquet."""
    with tr.span("sources.read_pages"):
        pages = read_pages(spark, src)
    with tr.span("operators.extract.extract_text"):
        out = extract_text(pages, CFG)
    _write(tr, out, dst)
    return {}


def html_words(spark, tr, src: str, dst: str, scratch: str, warm: bool = False) -> dict:
    """--output-format words: pages -> extract_words -> parquet."""
    with tr.span("sources.read_pages"):
        pages = read_pages(spark, src)
    with tr.span("operators.extract.extract_words"):
        out = extract_words(pages, CFG)
    _write(tr, out, dst)
    return {}


def raster_ocr(spark, tr, src: str, dst: str, scratch: str, warm: bool = False) -> dict:
    """--payload raster: pages -> ocr_text -> parquet."""
    with tr.span("sources.read_pages"):
        pages = read_pages(spark, src)
    with tr.span("operators.ocr.ocr_text"):
        out = ocr_text(pages, CFG)
    _write(tr, out, dst)
    return {}


def curate_dedup(spark, tr, src: str, dst: str, scratch: str, warm: bool = False) -> dict:
    """--checkpoint-dir --curate --fuzzy-dedup 0.8: the CLI's chain.
    The MinHash pairs are lazy, so ``dup_clusters`` computes them in its
    first round."""
    ckpt = os.path.join(scratch, "ckpt")
    with tr.span("sources.read_pages"):
        pages = read_pages(spark, src)
    with tr.span("plans.checkpoint.run_checkpointed"):
        result = run_checkpointed(
            spark, pages, ckpt, CFG, n_buckets=GROUP_SIZE if warm else N_BUCKETS,
            group_size=GROUP_SIZE,
        )
    with tr.span("functions.cleaning.flatten_extracted"):
        flat = flatten_extracted(result)
    with tr.span("functions.cleaning.curate"):
        curated = curate(flat, id_col="url", min_quality=MIN_QUALITY, keep_langs=KEEP_LANGS)
        with tr.span("dataframe.checkpoint"):
            spark.sparkContext.setCheckpointDir(os.path.join(ckpt, "fuzzy_dedup_curated"))
            curated = curated.checkpoint()
    with tr.span("functions.dedup.minhash_dedup_pairs"):
        pairs = minhash_dedup_pairs(curated, threshold=FUZZY, id_col="url").select("id_a", "id_b")
    with tr.span("functions.dedup.dup_clusters"):
        losers = (
            dup_clusters(pairs)
            .filter("doc_id != cluster_id")
            .select(F.col("doc_id").alias("url"))
        )
    with tr.span("dataframe.join"):
        out = curated.join(losers, "url", "left_anti")
    _write(tr, out, dst)
    return {"ckpt": ckpt, "flat": flat, "curated": curated}


JOBS = {
    "html_text": html_text,
    "html_words": html_words,
    "raster_ocr": raster_ocr,
    "curate_dedup": curate_dedup,
}
