"""Reference checker: compares a workload's written output with the
golden rows its inputs were generated with.

Every check returns a :class:`Verdict` with

- ``wrong``: pages whose output differs from the reference (a text or
  word mismatch, a duplicate or unknown row);
- ``failed``: pages with a missing output row or an unexpected status;
- ``digest``: an order-independent digest of the output, so two runs of
  the same input can be compared.
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

# A same-group survivor pair at or above this exact Jaccard is a wrong
# page.  The CLI's MinHash-LSH (64 hashes, 16 bands of 4) misses a pair
# at Jaccard J with probability (1 - J^4)^16: 2e-4 at 0.8 but 4e-8 at
# 0.9, so pairs in [0.8, 0.9) that survive are reported as LSH misses,
# not as wrong output.
FUZZY_THRESHOLD = 0.8
FUZZY_HARD = 0.9


@dataclass
class Verdict:
    pages: int
    wrong: int = 0
    failed: int = 0
    digest: str = ""
    notes: dict = field(default_factory=dict)


def sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def read_output(path: str, columns: list) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame({c: [] for c in columns})
    return pq.ParquetDataset(files).read(columns=columns).to_pandas()


def output_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _digest(keys) -> str:
    h = hashlib.sha256()
    for k in sorted(keys):
        h.update(k.encode() + b"\n")
    return h.hexdigest()


def check_text(out: pd.DataFrame, golden: pd.DataFrame) -> Verdict:
    """One (url, text, status) row per page: html_text and raster_ocr.
    The text must hash to the golden text; malformed pages must carry
    their expected status."""
    v = Verdict(pages=len(golden))
    dup = out["url"].duplicated(keep=False)
    v.wrong += int(out.loc[dup, "url"].nunique())
    got = out[~dup].set_index("url")
    unknown = ~got.index.isin(golden["url"])
    v.wrong += int(unknown.sum())
    got_sha = {u: sha(t) for u, t in zip(got.index, got["text"].fillna(""))}
    got_status = got["status"].to_dict()
    duplicated = set(out.loc[dup, "url"])
    for url, gold, status in zip(golden["url"], golden["text"], golden["status"]):
        if url not in got_status:
            v.failed += 0 if url in duplicated else 1
            continue
        if got_status[url] != status:
            v.failed += 1
        elif got_sha[url] != sha(gold):
            v.wrong += 1
    v.digest = _digest(f"{u}\t{got_status[u]}\t{got_sha[u]}" for u in got_sha)
    return v


def reassemble_words(words: pd.DataFrame) -> dict:
    """url -> text rebuilt from word rows in (block_id, line_id, word_id)
    order with the assembly contract: words ' ', lines '\\n', blocks
    '\\n\\n', one trailing '\\n'."""
    if words.empty:
        return {}
    w = words.sort_values(["url", "block_id", "line_id", "word_id"], kind="stable")
    lines = w.groupby(["url", "block_id", "line_id"], sort=False)["word"].agg(" ".join)
    blocks = lines.groupby(level=[0, 1], sort=False).agg("\n".join)
    pages = blocks.groupby(level=0, sort=False).agg("\n\n".join)
    return {u: t + "\n" for u, t in pages.items()}


def check_words(out: pd.DataFrame, golden: pd.DataFrame) -> Verdict:
    """Exploded word rows: html_words.  Pages with golden text must
    reassemble to it; malformed pages must have no word rows."""
    v = Verdict(pages=len(golden))
    dup = out.duplicated(["url", "block_id", "line_id", "word_id"], keep=False)
    v.wrong += int(out.loc[dup, "url"].nunique())
    texts = reassemble_words(out[~dup])
    known = set(golden["url"])
    v.wrong += sum(1 for u in texts if u not in known)
    for url, gold in zip(golden["url"], golden["text"]):
        got = texts.get(url)
        if got is None:
            v.failed += 1 if gold else 0
        elif got != gold:
            v.wrong += 1
    v.digest = _digest(f"{u}\t{sha(t)}" for u, t in texts.items())
    return v


def shingles(text: str, n: int = 3) -> set:
    """Distinct word n-grams, the rule of ``functions.text.word_shingles``."""
    w = text.split(" ")
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else set()


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_dedup(out: pd.DataFrame, golden: pd.DataFrame) -> Verdict:
    """Curated, fuzzy-deduped survivors: curate_dedup.  Invariants:
    every survivor's text equals its flattened golden text, and no two
    survivors of one source group reach exact 3-shingle Jaccard
    FUZZY_HARD (pairs in [FUZZY_THRESHOLD, FUZZY_HARD) are counted as
    ``lsh_misses``).  Pages may be dropped by design, so ``failed``
    stays 0 here: a missing page is a filter decision, not a failure."""
    v = Verdict(pages=len(golden))
    dup = out["url"].duplicated(keep=False)
    v.wrong += int(out.loc[dup, "url"].nunique())
    gold = golden.set_index("url")
    got = out[~dup]
    unknown = ~got["url"].isin(gold.index)
    v.wrong += int(unknown.sum())
    got = got[~unknown]
    v.wrong += int((got["text"].to_numpy() != gold.loc[got["url"], "text"].to_numpy()).sum())
    misses = 0
    groups = gold.loc[got["url"], "kind"].to_numpy()
    for _g, members in got.assign(_g=groups).groupby("_g"):
        sh = [(u, shingles(t)) for u, t in zip(members["url"], members["text"])]
        for i in range(len(sh)):
            for j in range(i + 1, len(sh)):
                jac = jaccard(sh[i][1], sh[j][1])
                if jac >= FUZZY_HARD:
                    v.wrong += 1
                elif jac >= FUZZY_THRESHOLD:
                    misses += 1
    v.notes["lsh_misses"] = misses
    v.notes["survivors"] = len(got)
    v.digest = _digest(f"{u}\t{sha(t)}" for u, t in zip(got["url"], got["text"]))
    return v


COLUMNS = {
    "html_text": ["url", "text", "status"],
    "raster_ocr": ["url", "text", "status"],
    "html_words": ["url", "block_id", "line_id", "word_id", "word"],
    "curate_dedup": ["url", "text"],
}
CHECKS = {
    "html_text": check_text,
    "raster_ocr": check_text,
    "html_words": check_words,
    "curate_dedup": check_dedup,
}


def check(workload: str, out_dir: str, golden_path: str) -> Verdict:
    golden = pq.read_table(golden_path).to_pandas()
    return CHECKS[workload](read_output(out_dir, COLUMNS[workload]), golden)
