"""Seeded inputs for the four workloads, cached by seed.

Every input is derived from a synthetic ``documents`` table with the same
shape as the engine's sf test documents (31-word vocabulary, 10-100 words
per document, five languages, twenty sources), drawn from ``--seed``.
Pages are rendered with the package's own renderers
(``corpus.render_html`` for HTML, ``kernels.raster.render_page`` with the
``raster_pages_from_documents(rotate_mod4=True)`` rotation rule for
raster), so every golden output exists by construction.

Each workload directory holds::

    main/      the measured input, nproc parquet files
    subset/    a hash-gated 1/nproc subset for the single-slot leg
    warm/      a small input for the warm-up run
    golden.parquet, golden_subset.parquet
    manifest.json   page count, bytes and digest per input

The cache key is the seed, the input sizes and a probe hash of both
renderers, so a renderer change can never be measured on stale pages.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20

# Input sizes: one run of html_text or raster_ocr takes ~2 s at
# local[4]; curate_dedup is bound by the fixed cost of its ~50 Spark jobs
# (~9 s) rather than by its input.
HTML_PAGES = 12_000
LONG_SHARE = 0.005
LONG_SOURCES = 50
MALFORMED_SHARE = 0.005
RASTER_PAGES = 300
DEDUP_SOURCES = 300
DEDUP_VARIANTS = 8
DEDUP_SWAPS = 2
WARM_DIVISOR = 16
CACHE_KEEP = 3  # seeds kept per workload

WORKLOADS = ("html_text", "html_words", "raster_ocr", "curate_dedup")
MALFORMED_STATUS = ("utf8_error", "empty_input", "not_html")


def synth_documents(rng: np.random.RandomState, n: int) -> list:
    """(text, lang, source) rows shaped like the sf documents table."""
    counts = rng.randint(10, 101, size=n)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    docs = []
    for i in range(n):
        idx = rng.randint(0, len(VOCAB), size=int(counts[i]))
        docs.append((" ".join(VOCAB[j] for j in idx), LANGS[langs[i]], f"src{i % N_SOURCES}"))
    return docs


def subset_gate(key: str, nproc: int) -> bool:
    """Hash gate for the single-slot leg: keeps ~1/nproc of the keys."""
    return int(hashlib.sha256(key.encode()).hexdigest()[:8], 16) % nproc == 0


def renderer_probe() -> str:
    from tesseract_rs_spark.corpus import render_html
    from tesseract_rs_spark.kernels.raster import render_page

    h = hashlib.sha256(render_html("probe words", 0, "en").encode())
    h.update(render_page("probe words for raster", rotate=90))
    return h.hexdigest()[:10]


def _sizes_tag() -> str:
    return "v2-" + (
        f"h{HTML_PAGES}-l{LONG_SHARE}x{LONG_SOURCES}-m{MALFORMED_SHARE}-"
        f"r{RASTER_PAGES}-d{DEDUP_SOURCES}x{DEDUP_VARIANTS}s{DEDUP_SWAPS}"
    )


# ---------------------------------------------------------------------------
# page tables
# ---------------------------------------------------------------------------


def html_pages(seed: int) -> tuple:
    """(pages rows, golden rows) for html_text / html_words: ~99% normal
    pages, ~0.5% long pages concatenating LONG_SOURCES documents and ~0.5%
    malformed pages (invalid UTF-8, empty, no ``<``)."""
    from tesseract_rs_spark.corpus import golden_text, page_ts, page_url, render_html

    rng = np.random.RandomState(seed)
    docs = synth_documents(rng, HTML_PAGES)
    order = rng.permutation(HTML_PAGES)
    n_long = int(HTML_PAGES * LONG_SHARE)
    n_bad = int(HTML_PAGES * MALFORMED_SHARE)
    long_ids = set(order[:n_long].tolist())
    bad_ids = order[n_long : n_long + n_bad].tolist()
    bad_kind = {d: k % 3 for k, d in enumerate(bad_ids)}
    pages, golden = [], []
    for doc_id, (text, lang, _src) in enumerate(docs):
        url = page_url(doc_id, lang)
        kind = "normal"
        if doc_id in long_ids:
            picks = rng.randint(0, HTML_PAGES, size=LONG_SOURCES)
            text = " ".join(docs[p][0] for p in picks)
            kind = "long"
        if doc_id in bad_kind:
            k = bad_kind[doc_id]
            kind = MALFORMED_STATUS[k]
            if k == 0:
                payload = b"\xff\xfe<html><p>" + text[:40].encode() + b"\xc3\x28"
            elif k == 1:
                payload = b""
            else:
                payload = text.encode()
            gold, status = "", MALFORMED_STATUS[k]
        else:
            payload = render_html(text, doc_id, lang).encode()
            gold, status = golden_text(text), "ok"
        pages.append((url, page_ts(doc_id), payload, text, lang))
        golden.append((url, gold, status, kind))
    return pages, golden


def raster_pages(seed: int) -> tuple:
    """Raster pages with a quarter at each of 0/90/180/270 degrees
    (page ``doc_id`` rotated by ``(doc_id % 4) * 90``, the rule of
    ``raster_pages_from_documents(rotate_mod4=True)``)."""
    from tesseract_rs_spark.corpus import page_ts, page_url
    from tesseract_rs_spark.kernels.raster import golden_raster_text, render_page

    rng = np.random.RandomState(seed + 1)
    pages, golden = [], []
    for doc_id, (text, lang, _src) in enumerate(synth_documents(rng, RASTER_PAGES)):
        url = page_url(doc_id, lang)
        img = render_page(text, 8, 3, rotate=(doc_id % 4) * 90)
        pages.append((url, page_ts(doc_id), img, text, lang))
        golden.append((url, golden_raster_text(text), "ok", f"rot{(doc_id % 4) * 90}"))
    return pages, golden


def dedup_pages(seed: int) -> tuple:
    """DEDUP_SOURCES source documents x DEDUP_VARIANTS variants, each
    variant replacing DEDUP_SWAPS seeded word positions.  The golden text
    of a page is its variant text: what ``flatten_extracted`` must give
    back.  The golden ``kind`` column carries the source group."""
    from tesseract_rs_spark.corpus import page_ts, page_url, render_html

    rng = np.random.RandomState(seed + 2)
    sources = synth_documents(rng, DEDUP_SOURCES)
    pages, golden = [], []
    for s, (text, _lang, _src) in enumerate(sources):
        words = text.split(" ")
        for v in range(DEDUP_VARIANTS):
            w = list(words)
            for pos in rng.randint(0, len(w), size=DEDUP_SWAPS):
                w[pos] = VOCAB[rng.randint(0, len(VOCAB))]
            vt = " ".join(w)
            doc_id = s * DEDUP_VARIANTS + v
            url = page_url(doc_id, "en")
            html = render_html(vt, doc_id, "en").encode()
            pages.append((url, page_ts(doc_id), html, vt, "en"))
            golden.append((url, vt, "ok", f"g{s}"))
    return pages, golden


GENERATORS = {
    "html_text": html_pages,
    "html_words": html_pages,
    "raster_ocr": raster_pages,
    "curate_dedup": dedup_pages,
}

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLDEN_SCHEMA = pa.schema(
    [("url", pa.string()), ("text", pa.string()), ("status", pa.string()), ("kind", pa.string())]
)


def _deal(kinds: list, n_files: int) -> list:
    """Row indices per file: every kind of page dealt round-robin, so each
    file (one scan task) gets the same share of long and malformed pages
    and the slowest task does not depend on the seed.  Rows keep their
    order within a file."""
    files: list = [[] for _ in range(n_files)]
    order = sorted(range(len(kinds)), key=lambda i: (kinds[i], i))
    for k, i in enumerate(order):
        files[k % n_files].append(i)
    return [sorted(f) for f in files]


def _write_pages(rows: list, path: str, n_files: int, kinds: list | None = None) -> dict:
    os.makedirs(path, exist_ok=True)
    digest = hashlib.sha256()
    n_bytes = 0
    for f, idx in enumerate(_deal(kinds or [""] * len(rows), n_files)):
        part = [rows[i] for i in idx]
        if not part:
            continue
        cols = list(zip(*part))
        t = pa.Table.from_arrays([pa.array(c, type=PAGES_SCHEMA.field(i).type)
                                  for i, c in enumerate(cols)], schema=PAGES_SCHEMA)
        pq.write_table(t, os.path.join(path, f"part-{f:03d}.parquet"))
    for url, _ts, payload, _text, _lang in rows:
        digest.update(url.encode() + b"\0" + hashlib.sha256(payload).digest())
        n_bytes += len(payload)
    return {"pages": len(rows), "payload_bytes": n_bytes, "digest": digest.hexdigest()}


def _write_golden(rows: list, path: str) -> None:
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    pq.write_table(
        pa.Table.from_arrays([pa.array(c, type=pa.string()) for c in cols], schema=GOLDEN_SCHEMA),
        path,
    )


def build(workload: str, seed: int, out_dir: str, nproc: int) -> dict:
    """Generate one workload's inputs into ``out_dir``; returns the manifest."""
    pages, golden = GENERATORS[workload](seed)
    if workload == "curate_dedup":
        keys = [g[3] for g in golden]  # gate whole source groups
    else:
        keys = [g[0] for g in golden]
    keep = [subset_gate(k, nproc) for k in keys]
    sub_pages = [p for p, k in zip(pages, keep) if k]
    sub_golden = [g for g, k in zip(golden, keep) if k]
    kinds = [g[3] for g in golden]
    if workload == "curate_dedup":
        warm = [p for i, p in enumerate(pages) if (i // DEDUP_VARIANTS) % WARM_DIVISOR == 0]
    else:
        warm = pages[::WARM_DIVISOR]
    manifest = {
        "workload": workload,
        "seed": seed,
        "nproc": nproc,
        # nproc equal files: Spark packs small files up to ~size/nproc plus
        # a 4 MB open cost, so this gives exactly one scan task per slot
        "main": _write_pages(pages, os.path.join(out_dir, "main"), nproc, kinds),
        "subset": _write_pages(sub_pages, os.path.join(out_dir, "subset"), nproc,
                               [g[3] for g in sub_golden]),
        "warm": _write_pages(warm, os.path.join(out_dir, "warm"), 2 * nproc),
    }
    _write_golden(golden, os.path.join(out_dir, "golden.parquet"))
    _write_golden(sub_golden, os.path.join(out_dir, "golden_subset.parquet"))
    return manifest


def ensure(workload: str, seed: int, cache_root: str, nproc: int) -> tuple:
    """Return (input dir, manifest), generating on a cache miss.  The
    newest CACHE_KEEP seeds of each workload stay on disk."""
    source = "html" if workload in ("html_text", "html_words") else workload
    key = f"{source}-seed{seed}-n{nproc}-{_sizes_tag()}-{renderer_probe()}"
    d = os.path.join(cache_root, key)
    mpath = os.path.join(d, "manifest.json")
    if os.path.exists(mpath):
        os.utime(d)
        with open(mpath) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = build(workload, seed, tmp, nproc)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    _evict(cache_root, source)
    return d, manifest


def _evict(cache_root: str, source: str) -> None:
    mine = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if n.startswith(source + "-seed") and not n.endswith(".tmp")
    ]
    mine.sort(key=os.path.getmtime, reverse=True)
    for old in mine[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
