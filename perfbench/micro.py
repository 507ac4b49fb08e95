"""In-process, one-core timings of the kernel and batch functions.

These run in the benchmark's own process on seeded pages, outside Spark,
so they isolate the per-page cost of each kernel stage from scheduling
and the Arrow boundary.  Kernel figures are microseconds per page, the
median over REPEATS passes for HTML; batch figures are microseconds for
one batch.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

HTML_PAGES = 2000
HTML_LONG_PAGES = 20
RASTER_PAGES = 100
TEXT_BATCH = 4096
# Raster rows are ~0.2-0.3 MB, so the engine's 8 MB Arrow byte cap cuts
# raster batches to ~40 rows; the OCR batch timing uses that size.
OCR_BATCH = 40
REPEATS = 3


def _per_item_us(fn, items, repeats: int = REPEATS) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / max(1, len(items)) * 1e6


def _once_us(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e6


def html_pages(seed: int, n: int, long_sources: int = 1) -> tuple:
    from perfbench.inputs import synth_documents
    from tesseract_rs_spark.corpus import page_url, render_html

    rng = np.random.RandomState(seed + 10)
    docs = synth_documents(rng, n * long_sources)
    texts = [" ".join(d[0] for d in docs[i : i + long_sources])
             for i in range(0, len(docs), long_sources)]
    urls = [page_url(i, "en") for i in range(n)]
    return urls, [render_html(t, i, "en").encode() for i, t in enumerate(texts)]


def kernels_html(seed: int) -> dict:
    from tesseract_rs_spark.config import ExtractConfig
    from tesseract_rs_spark.kernels.html import assemble, extract_doc

    cfg = ExtractConfig()
    _, pages = html_pages(seed, HTML_PAGES)
    _, long_pages = html_pages(seed + 1, HTML_LONG_PAGES, long_sources=50)
    results = [extract_doc(p, cfg) for p in pages]
    return {
        "kernels.html.extract_doc_us": _per_item_us(lambda p: extract_doc(p, cfg), pages),
        "kernels.html.extract_doc_us_long": _per_item_us(lambda p: extract_doc(p, cfg), long_pages),
        "kernels.html.assemble_us": _per_item_us(lambda r: assemble(r.blocks), results),
    }


def kernels_raster(seed: int) -> dict:
    """Each public stage of ``extract_raster_doc`` timed on its own, fed
    the same intermediate values the full function computes; the
    remainder is the private code between them (layout decode, baseline
    fit, assembly)."""
    import tesseract_rs_spark.kernels.raster as R
    from perfbench.inputs import synth_documents

    rng = np.random.RandomState(seed + 20)
    docs = synth_documents(rng, RASTER_PAGES)
    pages = [R.render_page(t, 8, 3, rotate=(i % 4) * 90) for i, (t, _, _) in enumerate(docs)]
    stages: dict = {k: 0.0 for k in ("decode_page", "otsu_threshold", "detect_os",
                                     "estimate_skew_deg", "connected_components",
                                     "segment_layout")}

    def timed(name, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        stages[name] += time.perf_counter() - t0
        return out

    for p in pages:
        img, _ = timed("decode_page", R.decode_page, p)
        binary = img <= timed("otsu_threshold", R.otsu_threshold, img)
        orient = timed("detect_os", R.detect_os, binary)[0]
        if orient:
            binary = np.rot90(binary, k=-(orient // 90))
        skew = timed("estimate_skew_deg", R.estimate_skew_deg, binary)
        if abs(skew) >= 0.5:
            binary = R.deskew(binary, -skew)
        _, stats = timed("connected_components", R.connected_components, binary)
        timed("segment_layout", R.segment_layout, stats)
    out = {f"kernels.raster.{k}_us": v / len(pages) * 1e6 for k, v in stages.items()}
    full = _per_item_us(R.extract_raster_doc, pages, repeats=1)
    out["kernels.raster.extract_raster_doc_us"] = full
    out["kernels.raster.remainder_us"] = full - sum(
        v for k, v in out.items() if k != "kernels.raster.extract_raster_doc_us"
    )
    return out


def operators(seed: int) -> dict:
    import pandas as pd
    import pyarrow as pa

    from tesseract_rs_spark.config import ExtractConfig
    from tesseract_rs_spark.kernels.raster import render_page
    from tesseract_rs_spark.operators.extract import (
        extract_text_batch,
        extract_words_arrow_batch,
    )
    from tesseract_rs_spark.operators.ocr import raster_batch_results
    from perfbench.inputs import synth_documents

    cfg = ExtractConfig()
    urls, pages = html_pages(seed + 2, TEXT_BATCH)
    pdf = pd.DataFrame({"url": urls, "html": pages})
    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls), pa.array(pages, type=pa.binary())], names=["url", "html"]
    )
    rng = np.random.RandomState(seed + 30)
    raster = pd.DataFrame({"html": [render_page(t, 8, 3, rotate=(i % 4) * 90)
                                    for i, (t, _, _) in enumerate(synth_documents(rng, OCR_BATCH))]})
    return {
        "operators.extract.text_batch_us": _once_us(lambda: extract_text_batch(pdf, cfg, ("url",))),
        "operators.extract.words_batch_us": _once_us(lambda: extract_words_arrow_batch(batch, cfg, 1)),
        "operators.ocr.batch_us": _once_us(lambda: raster_batch_results(raster, cfg)),
    }


def run_all(seed: int) -> dict:
    out = {}
    out.update(kernels_html(seed))
    out.update(kernels_raster(seed))
    out.update(operators(seed))
    return out
