"""Generator determinism and the reference checker."""

import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import check, inputs


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setattr(inputs, "HTML_PAGES", 400)
    monkeypatch.setattr(inputs, "RASTER_PAGES", 8)
    monkeypatch.setattr(inputs, "DEDUP_SOURCES", 12)


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, small_sizes, workload):
    a = inputs.build(workload, 7, str(tmp_path / "a"), nproc=4)
    b = inputs.build(workload, 7, str(tmp_path / "b"), nproc=4)
    c = inputs.build(workload, 8, str(tmp_path / "c"), nproc=4)
    for leg in ("main", "subset", "warm"):
        assert a[leg] == b[leg]
        assert a[leg]["pages"] > 0
    assert a["main"]["digest"] != c["main"]["digest"]
    ga = pq.read_table(str(tmp_path / "a" / "golden.parquet")).to_pandas()
    gb = pq.read_table(str(tmp_path / "b" / "golden.parquet")).to_pandas()
    pd.testing.assert_frame_equal(ga, gb)


def test_html_mix_has_long_and_malformed_pages(small_sizes):
    _pages, golden = inputs.html_pages(3)
    kinds = pd.Series([g[3] for g in golden]).value_counts()
    assert kinds["long"] == 2
    assert sum(kinds.get(s, 0) for s in inputs.MALFORMED_STATUS) == 2


def test_cache_reuses_and_evicts(tmp_path, small_sizes, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE_KEEP", 2)
    d1, m1 = inputs.ensure("raster_ocr", 1, str(tmp_path), 4)
    d1b, m1b = inputs.ensure("raster_ocr", 1, str(tmp_path), 4)
    assert (d1, m1) == (d1b, m1b)
    for seed in (2, 3):
        os.utime(d1, (0, 0))
        inputs.ensure("raster_ocr", seed, str(tmp_path), 4)
    assert not os.path.exists(d1)
    assert len(os.listdir(tmp_path)) == 2
    with open(os.path.join(tmp_path, os.listdir(tmp_path)[0], "manifest.json")) as f:
        assert json.load(f)["workload"] == "raster_ocr"


def _golden(small_sizes_seed=5):
    _pages, golden = inputs.html_pages(small_sizes_seed)
    return pd.DataFrame(golden, columns=["url", "text", "status", "kind"])


def _flip(s: str) -> str:
    i = len(s) // 2
    return s[:i] + chr(ord(s[i]) ^ 1) + s[i + 1 :]


def test_text_checker_flags_one_flipped_byte(small_sizes):
    g = _golden()
    out = g[["url", "text", "status"]].copy()
    assert check.check_text(out, g).wrong == 0
    assert check.check_text(out, g).failed == 0
    ok = out.index[out["status"] == "ok"][3]
    out.loc[ok, "text"] = _flip(out.loc[ok, "text"])
    v = check.check_text(out, g)
    assert (v.wrong, v.failed) == (1, 0)


def test_text_checker_counts_missing_and_status(small_sizes):
    g = _golden()
    out = g[["url", "text", "status"]].copy()
    bad = out.index[out["status"] != "ok"][0]
    out.loc[bad, "status"] = "ok"
    v = check.check_text(out.drop(index=out.index[0]), g)
    assert (v.wrong, v.failed) == (0, 2)
    dup = pd.concat([out, out.iloc[[5]]])
    assert check.check_text(dup, g).wrong == 1


def _words(g: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for url, text in zip(g["url"], g["text"]):
        for b, block in enumerate(text.rstrip("\n").split("\n\n") if text else []):
            for ln, line in enumerate(block.split("\n")):
                for w, word in enumerate(line.split(" ")):
                    rows.append((url, b, ln, w, word))
    return pd.DataFrame(rows, columns=["url", "block_id", "line_id", "word_id", "word"])


def test_words_checker_flags_one_flipped_byte(small_sizes):
    g = _golden()
    words = _words(g).sample(frac=1.0, random_state=1)  # row order is not reading order
    v = check.check_words(words, g)
    assert (v.wrong, v.failed) == (0, 0)
    words.iloc[17, words.columns.get_loc("word")] = _flip(words.iloc[17]["word"])
    assert check.check_words(words, g).wrong == 1
    missing = words[words["url"] != words.iloc[0]["url"]]
    assert check.check_words(missing, g).failed == 1


def test_dedup_checker_invariants(small_sizes):
    _pages, golden = inputs.dedup_pages(4)
    g = pd.DataFrame(golden, columns=["url", "text", "status", "kind"])
    first = g.groupby("kind").head(1)[["url", "text"]].reset_index(drop=True)
    v = check.check_dedup(first, g)
    assert (v.wrong, v.failed) == (0, 0)
    flipped = first.copy()
    flipped.loc[2, "text"] = _flip(flipped.loc[2, "text"])
    assert check.check_dedup(flipped, g).wrong == 1
    assert check.check_dedup(first.iloc[::-1], g).digest == v.digest


def test_dedup_checker_grades_same_group_pairs_by_jaccard():
    words = " ".join(f"w{i}" for i in range(40))
    near = words.replace("w20", "x20")  # 3 of 38 shingles differ: J = 35/41
    g = pd.DataFrame(
        [("u1", words, "ok", "g0"), ("u2", words, "ok", "g0"),
         ("u3", near, "ok", "g0"), ("u4", words, "ok", "g1")],
        columns=["url", "text", "status", "kind"],
    )

    def pair(a, b):
        return g[g["url"].isin([a, b])][["url", "text"]]

    assert check.check_dedup(pair("u1", "u2"), g).wrong == 1  # J = 1.0
    v = check.check_dedup(pair("u1", "u3"), g)
    assert (v.wrong, v.notes["lsh_misses"]) == (0, 1)  # 0.8 <= J < 0.9
    assert check.check_dedup(pair("u1", "u4"), g).wrong == 0  # other group


def test_shingles_match_engine_rule():
    assert check.shingles("a b") == set()
    assert check.shingles("a b c a b c") == {"a b c", "b c a", "c a b"}
