"""Multi-page lifecycle, choice iterators, streaming, and multimodal
plumbing tests."""

import pyspark.sql.functions as F
import pytest

from tesseract_rs_spark.config import ExtractConfig
from tesseract_rs_spark.corpus import render_html
from tesseract_rs_spark.functions.multimodal import (
    decode_media,
    extract_features,
    make_media_corpus,
    sample_frames,
)
from tesseract_rs_spark.kernels.raster import raster_symbols, render_page
from tesseract_rs_spark.operators.multipage import process_pages
from tesseract_rs_spark.operators.ocr import ocr_layout, ocr_symbols
from tesseract_rs_spark.streaming.incremental import stream_extract


class TestMultiPage:
    """process_pages semantics (/root/reference/src/api.rs:844-875):
    page loop + '\\f' separator + retry of failed pages."""

    def test_pages_joined_in_order(self, spark):
        rows = [
            ("d1", 1, render_html("second page words here now", 1).encode()),
            ("d1", 0, render_html("first page words here now", 2).encode()),
        ]
        pages = spark.createDataFrame(rows, "url string, page_num int, html binary")
        out = process_pages(pages).collect()[0]
        assert out["text"] == (
            "first page words here now\n\fsecond page words here now\n"
        )
        assert out["n_pages"] == 2 and out["n_failed_pages"] == 0

    def test_retry_pass_recovers(self, spark):
        # a page that fails under a narrow ROI succeeds under the fallback
        good = render_html("recoverable page words here now", 3).encode()
        rows = [("d1", 0, good)]
        pages = spark.createDataFrame(rows, "url string, page_num int, html binary")
        broken_cfg = ExtractConfig(roi_start=10**9)  # ROI past EOF -> not_html
        out = process_pages(pages, cfg=broken_cfg, retry_cfg=ExtractConfig()).collect()[0]
        assert out["n_failed_pages"] == 0
        assert "recoverable" in out["text"]

    def test_failed_page_counted_not_fatal(self, spark):
        rows = [
            ("d1", 0, render_html("good page words here now", 4).encode()),
            ("d1", 1, b"\xff\xfe broken"),
        ]
        pages = spark.createDataFrame(rows, "url string, page_num int, html binary")
        out = process_pages(pages).collect()[0]
        assert out["n_failed_pages"] == 1 and out["n_pages"] == 2


class TestChoices:
    def test_choices_descending_and_best_first(self):
        # choice confidences descend (tests/test_iterators.rs:736-769)
        _, rows = raster_symbols(render_page("ab"), k=3)
        assert rows, "symbols expected"
        for _p, _l, _w, _s, glyph, conf, alts in rows:
            assert alts[0][0] == glyph and alts[0][1] == conf
            confs = [c for _g, c in alts]
            assert confs == sorted(confs, reverse=True)
            assert len(alts) == 3

    def test_symbols_whitelist(self):
        _, rows = raster_symbols(render_page("a1"), whitelist="01")
        glyphs = {r[4] for r in rows}
        assert glyphs <= {"0", "1"}


class TestLayoutOp:
    def test_layout_matches_geometry(self, spark):
        pages = spark.createDataFrame(
            [("u", render_page("aa bb cc dd ee ff gg hh ii jj", 4, 1))],
            "url string, html binary",
        )
        rows = ocr_layout(pages).sort("para_id").collect()
        assert len(rows) == 3  # 10 words / 4 per line -> 3 lines, 1 per para
        assert all(r["block_type"] == "flowing_text" for r in rows)
        assert all(r["justification"] == "left" for r in rows)
        assert rows[0]["left"] == 16 and rows[0]["top"] == 16


class TestStreaming:
    def test_incremental_extract_exactly_once(self, spark, tmp_path):
        from tesseract_rs_spark.corpus import make_corpus

        inp, out, ckpt = (
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        pages, golden = make_corpus("smoke")
        first, second = pages.iloc[:40], pages.iloc[40:]
        spark.createDataFrame(first).write.parquet(inp)
        q = stream_extract(spark, inp, out, ckpt)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        assert n1 == 40
        # new files arrive -> re-run processes ONLY the delta
        spark.createDataFrame(second).write.mode("append").parquet(inp)
        q2 = stream_extract(spark, inp, out, ckpt)
        q2.awaitTermination(120)
        result = spark.read.parquet(out)
        assert result.count() == 64  # no duplicates: offsets committed
        ok = result.filter("status = 'ok'").count()
        assert ok == len(golden[golden.expected_status == "ok"])


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        df = spark.createDataFrame(make_media_corpus(64))
        df.cache().count()
        return df

    def test_decode_header_plumbing(self, spark, media):
        decoded = decode_media(media)
        rows = decoded.collect()
        assert len(rows) == 64
        assert all(r["status"] == "ok" for r in rows)
        meta = {r["media_id"]: r for r in media.select("media_id", "meta.*").collect()}
        for r in rows:
            assert r["width"] == meta[r["media_id"]]["width"]
            assert r["n_frames"] == meta[r["media_id"]]["n_frames"]

    def test_unsupported_codec_status(self, spark):
        bad = spark.createDataFrame(
            [(99, "image", b"JPEGnotreally", None)],
            "media_id long, kind string, payload binary, "
            "meta struct<width:int,height:int,sample_rate:int,duration_ms:int,n_frames:int>",
        )
        r = decode_media(bad).collect()[0]
        assert r["status"] == "unsupported_codec"

    def test_features_deterministic_unit_norm(self, spark, media):
        import numpy as np

        f1 = extract_features(media).toPandas().sort_values("media_id")
        f2 = extract_features(media).toPandas().sort_values("media_id")
        assert all(list(a) == list(b) for a, b in zip(f1["features"], f2["features"]))
        for v in f1["features"]:
            assert abs(np.linalg.norm(v) - 1.0) < 1e-9
            assert len(v) == 16

    def test_frame_sampling(self, spark, media):
        frames = sample_frames(media, every_k=30)
        j = frames.join(media.select("media_id", "meta.n_frames"), "media_id")
        bad = j.filter(
            (F.col("frame_idx") < 0) | (F.col("frame_idx") >= F.greatest(F.col("n_frames"), F.lit(1)))
        ).count()
        assert bad == 0
        # last frame always sampled
        last = j.groupBy("media_id", "n_frames").agg(F.max("frame_idx").alias("mx"))
        assert last.filter(F.col("mx") != F.greatest(F.col("n_frames") - 1, F.lit(0))).count() == 0


class TestRealMediaDecode:
    """REAL codec surfaces: PGM/PPM images, PCM WAV, VSEQ frame video —
    pure numpy/struct decoders (no codec libs needed)."""

    def test_pgm_roundtrip_and_comment_header(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import decode_image, pgm_encode

        img = (np.arange(300, dtype=np.uint8)).reshape(15, 20)
        out, st = decode_image(pgm_encode(img))
        assert st == "ok" and np.array_equal(out, img)
        # comment line in the header is legal PGM
        with_comment = b"P5\n# a comment\n20 15\n255\n" + img.tobytes()
        out2, st2 = decode_image(with_comment)
        assert st2 == "ok" and np.array_equal(out2, img)

    def test_ppm_reduces_to_same_luma_as_raster_path(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import decode_image

        rgb = np.random.RandomState(0).randint(0, 256, size=(9, 7, 3), dtype=np.uint8)
        ppm = b"P6\n7 9\n255\n" + rgb.tobytes()
        out, st = decode_image(ppm)
        r32 = rgb.astype(np.uint32)
        want = (
            (r32[:, :, 0] * 299 + r32[:, :, 1] * 587 + r32[:, :, 2] * 114) // 1000
        ).astype(np.uint8)
        assert st == "ok" and np.array_equal(out, want)

    def test_wav_roundtrip_mono_and_stereo(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import decode_audio, wav_encode

        s = np.array([0, 100, -100, 32000, -32000], dtype=np.int16)
        out, sr, st = decode_audio(wav_encode(s, 8000))
        assert st == "ok" and sr == 8000 and np.array_equal(out, s)
        # stereo: interleave, decoder mixes down to mono mean
        stereo = wav_encode(s, 8000)
        # build a stereo file by hand: same sample in both channels
        import struct as _struct

        data = np.repeat(s, 2).astype("<i2").tobytes()
        wav = (
            b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
            + _struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
            + b"data" + _struct.pack("<I", len(data)) + data
        )
        out2, sr2, st2 = decode_audio(wav)
        assert st2 == "ok" and np.array_equal(out2, s)

    def test_video_frame_extraction(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import (
            decode_frame,
            video_encode,
        )

        frames = [np.full((4, 5), i, dtype=np.uint8) for i in range(3)]
        payload = video_encode(frames)
        for k in range(3):
            out, st = decode_frame(payload, k)
            assert st == "ok" and np.array_equal(out, frames[k])
        assert decode_frame(payload, 3)[1] == "frame_out_of_range"

    def test_unsupported_codecs_are_status_rows(self):
        from tesseract_rs_spark.functions.multimodal import decode_audio, decode_image

        assert decode_image(b"\x89PNG\r\n....")[1] == "unsupported_codec"
        assert decode_audio(b"ID3\x04...mp3 bytes")[2] == "unsupported_codec"
        # truncated PGM body is invalid, not a crash
        assert decode_image(b"P5\n10 10\n255\nshort")[1] == "invalid_image_data"


class TestResize:
    """REAL image resize (nearest + exact box-mean area downscale) over
    the PGM decode path — corrupt payloads and bad geometry become
    status rows, never exceptions."""

    def test_resize_gray_kernels(self):
        import numpy as np

        from tesseract_rs_spark.functions.multimodal import resize_gray

        # area: 2x2 box means, floor arithmetic — exact
        img = np.array(
            [[0, 255, 10, 10], [255, 0, 10, 10], [8, 8, 100, 102], [8, 8, 104, 106]],
            dtype=np.uint8,
        )
        out = resize_gray(img, 2, 2, method="area")
        assert out.tolist() == [[127, 10], [8, 103]]
        # constant image invariant under both kernels
        const = np.full((12, 8), 77, dtype=np.uint8)
        assert (resize_gray(const, 4, 3, "area") == 77).all()
        assert (resize_gray(const, 5, 5, "nearest") == 77).all()
        # nearest upscale replicates pixels
        tiny = np.array([[1, 2], [3, 4]], dtype=np.uint8)
        up = resize_gray(tiny, 4, 4, method="nearest")
        assert up.tolist() == [
            [1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4],
        ]
        with pytest.raises(ValueError, match="integer factors"):
            resize_gray(img, 3, 3, method="area")
        with pytest.raises(ValueError, match="must be positive"):
            resize_gray(img, 0, 2)

    def test_resize_images_total_function(self, spark):
        import numpy as np
        import pandas as pd

        from tesseract_rs_spark.functions.multimodal import (
            decode_image,
            pgm_encode,
            resize_images,
        )

        good = pgm_encode(
            np.arange(64, dtype=np.uint8).reshape(8, 8)
        )
        odd = pgm_encode(np.zeros((7, 5), dtype=np.uint8))  # non-integer factor
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "media_id": [0, 1, 2],
                    "payload": [good, odd, b"JPEG-ish junk"],
                }
            )
        )
        rows = {
            r["media_id"]: r
            for r in resize_images(df, 4, 4, method="area").collect()
        }
        img, st = decode_image(rows[0]["payload"])
        assert st == "ok" and img.shape == (4, 4)
        # 2x2 box mean of the row-major ramp, computed independently
        ramp = np.arange(64, dtype=np.uint32).reshape(8, 8)
        want = ramp.reshape(4, 2, 4, 2).sum(axis=(1, 3)) // 4
        assert (img == want.astype(np.uint8)).all()
        assert rows[0]["status"] == "ok"
        assert rows[0]["width"] == 4 and rows[0]["height"] == 4
        assert rows[1]["status"] == "bad_geometry"
        assert rows[1]["payload"] is None
        assert rows[2]["status"] == "unsupported_codec"
        # per-image scale mode: 2x nearest replicates each pixel 4x, so
        # dims double per image and ink mass exactly quadruples
        sc = {
            r["media_id"]: r
            for r in resize_images(df, scale=2, method="nearest").collect()
        }
        img2, st2 = decode_image(sc[0]["payload"])
        assert st2 == "ok" and img2.shape == (16, 16)
        assert (img2 == np.kron(np.arange(64, dtype=np.uint8).reshape(8, 8),
                                np.ones((2, 2), dtype=np.uint8))).all()
        assert sc[1]["status"] == "ok"  # odd dims are fine for nearest
        assert (sc[1]["width"], sc[1]["height"]) == (10, 14)
        with pytest.raises(ValueError, match="method must be"):
            resize_images(df, 4, 4, method="bicubic")
        with pytest.raises(ValueError, match="exactly one target"):
            resize_images(df, 4, 4, scale=2)
        with pytest.raises(ValueError, match="exactly one target"):
            resize_images(df)
        with pytest.raises(ValueError, match="scale must be"):
            resize_images(df, scale=0)
        # area + upscale is statically impossible (box-mean downscales):
        # refuse at call time, never a silent all-bad_geometry run
        with pytest.raises(ValueError, match="downscale kernel"):
            resize_images(df, scale=2, method="area")


class TestStatefulStreaming:
    """applyInPandasWithState sessionization must converge to the batch
    answer across micro-batches (SURVEY §2.7 streaming surface)."""

    def test_stream_sessionize_equals_batch(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from tesseract_rs_spark.functions.events import sessionize
        from tesseract_rs_spark.streaming.stateful import stream_sessionize

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
            F.col("user_id").cast("long"),
            F.col("event_id").cast("long"),
            F.col("ts").cast("timestamp"),
        )
        # two time-ordered files -> two micro-batches carrying state across
        median = events.approxQuantile("event_id", [0.5], 0.0)[0]
        in_dir = tmp_path / "in"
        events.filter(F.col("ts") <= F.lit("2026-01-15")).coalesce(1).write.parquet(
            str(in_dir / "f=0")
        )
        events.filter(F.col("ts") > F.lit("2026-01-15")).coalesce(1).write.parquet(
            str(in_dir / "f=1")
        )
        stream = (
            spark.readStream.schema("user_id long, event_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(in_dir) + "/*")
        )
        q = (
            stream_sessionize(stream)
            .writeStream.format("memory")
            .queryName("sess_stream")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        emitted = spark.sql("SELECT * FROM sess_stream").toPandas()
        # update mode appends every emission; the final state per user is
        # the emission with the largest n_events (monotone per user)
        final = emitted.sort_values("n_events").groupby("user_id").last()
        batch = {
            r["user_id"]: (r["n_sessions"], r["n_events"], r["max_session_events"])
            for r in sessionize(events).collect()
        }
        got = {
            int(uid): (int(r["n_sessions"]), int(r["n_events"]), int(r["max_session_events"]))
            for uid, r in final.iterrows()
        }
        assert got == batch


class TestStreamStreamJoin:
    """Watermarked stream-stream time-bounded join: two live parquet
    streams (views, purchases) inner-join on user within a time horizon;
    the streamed result must equal the batch twin with the identical
    condition, across micro-batch boundaries on BOTH sides."""

    def test_stream_join_equals_batch(self, spark, tmp_path):
        import pyspark.sql.functions as F

        from tesseract_rs_spark.streaming.joins import (
            stream_time_bounded_join,
            time_bounded_join,
        )

        events = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).select(
            F.col("event_id").cast("long"),
            F.col("ts").cast("timestamp"),
            F.col("user_id").cast("long"),
            "event_type",
            F.col("value").cast("double"),
            "props",
        )
        views = events.filter(F.col("event_type") == "view")
        purchases = events.filter(F.col("event_type") == "purchase")
        cut = "2026-01-15"
        dirs = {}
        for name, df in (("views", views), ("purchases", purchases)):
            d = tmp_path / name
            # two time-ordered files per side -> the join must carry
            # buffered state across micro-batch boundaries on both sides
            df.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
                str(d / "f=0")
            )
            df.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
                str(d / "f=1")
            )
            dirs[name] = str(d) + "/*"
        joined = stream_time_bounded_join(
            spark,
            dirs["views"],
            dirs["purchases"],
            horizon="30 minutes",
            max_files_per_trigger=1,
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("ss_join")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["l_id"], r["r_id"])
            for r in spark.sql("SELECT * FROM ss_join").collect()
        }
        batch = time_bounded_join(
            views, purchases, horizon="30 minutes"
        ).collect()
        want = {(r["l_id"], r["r_id"]) for r in batch}
        assert got == want
        assert want  # non-vacuous: the horizon actually matches pairs
        # and the horizon actually CUTS: widening it adds pairs
        wider = time_bounded_join(views, purchases, horizon="4 hours")
        assert wider.count() > len(want)


class TestStreamDedup:
    """Streaming exact dedup: duplicates within AND across micro-batches
    collapse to one row per content digest; unique content all passes."""

    def test_stream_dedup_within_and_across_batches(self, spark, tmp_path):
        import pandas as pd

        from tesseract_rs_spark.streaming.dedup import stream_dedup

        t0 = pd.Timestamp("2026-01-01 10:00:00")
        mk = lambda url, text, mins: {
            "url": url,
            "warc_ts": t0 + pd.Timedelta(minutes=mins),
            "text": text,
        }
        # batch 0: A, B, dup-of-A (same batch); batch 1: dup-of-B
        # (across batches, inside the horizon), C (new)
        in_dir = tmp_path / "in"
        spark.createDataFrame(
            pd.DataFrame(
                [mk("u1", "alpha", 0), mk("u2", "beta", 1), mk("u3", "alpha", 2)]
            )
        ).coalesce(1).write.parquet(str(in_dir / "f=0"))
        spark.createDataFrame(
            pd.DataFrame([mk("u4", "beta", 3), mk("u5", "gamma", 4)])
        ).coalesce(1).write.parquet(str(in_dir / "f=1"))
        stream = (
            spark.readStream.schema("url string, warc_ts timestamp, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(in_dir) + "/*")
        )
        q = (
            stream_dedup(stream, horizon="1 hour")
            .writeStream.format("memory")
            .queryName("dedup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT text, url FROM dedup_stream").toPandas()
        assert sorted(out["text"]) == ["alpha", "beta", "gamma"]
        # first arrival wins across batches: beta's survivor is batch-0's
        assert set(out[out["text"] == "beta"]["url"]) == {"u2"}
        assert set(out[out["text"] == "gamma"]["url"]) == {"u5"}


class TestWatermarkLateData:
    """withWatermark bounded-lateness semantics (SURVEY §2.7 streaming):
    a late row INSIDE the lateness bound is counted; a row older than the
    watermark is dropped; finalized windows emit exactly once."""

    def test_watermark_drops_too_late_rows(self, spark, tmp_path):
        import pandas as pd

        from tesseract_rs_spark.streaming.windowed import windowed_counts_stream

        def write(sub, rows):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "event_type"]
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"])
            spark.createDataFrame(pdf).coalesce(1).write.parquet(
                str(tmp_path / "in" / sub)
            )

        import time

        t = "2026-01-01 "
        # batch 0: hours 00 (x2), 01, and a clock event at 05:30 that
        # advances the watermark to 03:30 (lateness = 2 hours)
        write("f=0", [
            (1, t + "00:05:00", "click"),
            (2, t + "00:20:00", "click"),
            (3, t + "01:10:00", "view"),
            (4, t + "05:30:00", "click"),
        ])
        time.sleep(1.1)  # file mtime defines micro-batch order
        # batch 1: a late-but-allowed row (hour 04 is still open).  Note
        # Spark filters late rows with the PREVIOUS batch's watermark
        # (SPARK-40925 watermarkForLateEvents), so the beyond-watermark
        # probe must arrive one batch after the clock's batch.
        write("f=1", [
            (6, t + "04:15:00", "view"),
        ])
        time.sleep(1.1)
        # batch 2: one row BEYOND the watermark (00:40 < 03:30 -> DROPPED,
        # hour 00 already finalized) and a clock at 08:00 that finalizes
        # hours 04/05 in the trailing no-data flush batch
        write("f=2", [
            (5, t + "00:40:00", "click"),
            (7, t + "08:00:00", "click"),
        ])
        q = (
            windowed_counts_stream(
                spark, str(tmp_path / "in") + "/*", lateness="2 hours",
                max_files_per_trigger=1,
            )
            .writeStream.format("memory")
            .queryName("wm_counts")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["hour"], r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM wm_counts").collect()
        }
        # hour 00 finalized with exactly the 2 on-time clicks: the
        # beyond-watermark row 5 was dropped, not appended as a new row
        assert got[("2026-01-01 00", "click")] == 2
        assert got[("2026-01-01 01", "view")] == 1
        # the within-bound late row WAS counted
        assert got[("2026-01-01 04", "view")] == 1
        assert got[("2026-01-01 05", "click")] == 1
        # hour 08's window never finalized (watermark stopped at 06:00)
        assert ("2026-01-01 08", "click") not in got
        assert len(got) == 4


class TestStreamCuration:
    """Ingest-time curation == batch curation on the surviving-digest
    invariant (one survivor per distinct passing text; batch keeps min-id,
    the stream keeps first-arrival — the digest set is what both share)."""

    def test_stream_curate_equals_batch_digests(self, spark, tmp_path):
        import pyspark.sql.functions as F2

        from tesseract_rs_spark.corpus import make_corpus
        from tesseract_rs_spark.functions.cleaning import curate
        from tesseract_rs_spark.operators.extract import extract_text as bx
        from tesseract_rs_spark.streaming.curation import stream_curate

        inp, out, ckpt = (
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        pages, _ = make_corpus("smoke")
        spark.createDataFrame(pages).write.parquet(inp)
        q = stream_curate(
            spark, inp, out, ckpt, min_quality=0,
            keep_langs=("en", "de", "fr", "es"),
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert {"url", "text", "quality", "lang_pred", "fingerprint"} <= set(
            got.columns
        )
        stream_fps = {r["fingerprint"] for r in got.select("fingerprint").collect()}
        # batch twin over the same input
        batch_flat = (
            bx(spark.read.parquet(inp), id_cols=("url",))
            .filter(F2.col("status") == "ok")
            .withColumn("text", F2.trim(F2.regexp_replace("text", "\n+", " ")))
        )
        batch = curate(
            batch_flat, id_col="url", min_quality=0,
            keep_langs=("en", "de", "fr", "es"),
        )
        batch_fps = {r["fingerprint"] for r in batch.select("fingerprint").collect()}
        assert stream_fps, "curation should keep something from the smoke corpus"
        assert stream_fps == batch_fps
        # re-running with no new files appends nothing (exactly-once)
        q2 = stream_curate(
            spark, inp, out, ckpt, min_quality=0,
            keep_langs=("en", "de", "fr", "es"),
        )
        q2.awaitTermination(120)
        assert spark.read.parquet(out).count() == len(stream_fps)

    def test_stream_curate_matches_driver_oracle_query(self, spark, tmp_path):
        """Tie the stream path to a HARD oracle transitively (VERDICT r5
        #6): over the exact corpus_curation fixture (sf0.001 documents +
        one replica each), the stream's surviving fingerprint set must
        equal the fingerprint set of the corpus_curation driver query —
        which the driver hash-checks against its DuckDB oracle every
        round.  Stream keeps first-arrival, batch keeps min-id; the
        digest set is the invariant both share."""
        import pyspark.sql.functions as F2

        import __spark_entry__ as entrymod
        from tesseract_rs_spark.sources.pages import pages_from_documents
        from tesseract_rs_spark.streaming.curation import stream_curate

        sf = "/root/testdata/sf0.001"
        inp, out, ckpt = (
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        docs = entrymod._docs(spark, sf)
        dup = docs.withColumn("doc_id", F2.col("doc_id") + F2.lit(1_000_000))
        pages_from_documents(
            docs.unionByName(dup), para_words=entrymod.PARA_WORDS
        ).drop("doc_id").write.parquet(inp)
        q = stream_curate(spark, inp, out, ckpt)  # default quality/lang gate
        q.awaitTermination(180)
        stream_fps = {
            r["fingerprint"]
            for r in spark.read.parquet(out).select("fingerprint").collect()
        }
        oracle_fps = {
            r["fingerprint"]
            for r in entrymod._q_corpus_curation(spark, sf)
            .select("fingerprint")
            .collect()
        }
        assert stream_fps, "stream curation kept nothing from the fixture"
        assert stream_fps == oracle_fps


@pytest.mark.parametrize(
    "surface",
    ["image_stats", "audio_stats", "video_stats", "decode_media",
     "extract_features", "resize_images"],
)
def test_media_surfaces_on_bad_payloads(spark, media_surfaces, surface):
    """Every media surface on one good, one junk and one NULL payload, two
    records per Arrow batch in one partition — so the second batch holds
    ONLY the NULL.  Each payload yields one row: a status row with zero /
    NULL fields for the bad ones, a NULL ``features`` for the NULL one."""
    import numpy as np

    call, good = media_surfaces[surface]
    media = spark.createDataFrame(
        [
            (0, "image", bytearray(good)),
            (1, "image", bytearray(b"JUNK0001")),
            (2, "image", None),
        ],
        "media_id long, kind string, payload binary",
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = {r["media_id"]: r.asDict() for r in call(media).collect()}
    finally:
        spark.conf.set(key, prev)
    assert sorted(rows) == [0, 1, 2]
    if surface == "extract_features":
        assert rows[2]["features"] is None
        for i in (0, 1):
            assert abs(np.linalg.norm(rows[i]["features"]) - 1.0) < 1e-9
        return
    assert [rows[i]["status"] for i in (0, 1, 2)] == [
        "ok", "unsupported_codec", "unsupported_codec"
    ]
    for i in (1, 2):
        rest = {
            k: v for k, v in rows[i].items()
            if k not in ("media_id", "kind", "status")
        }
        assert set(rest.values()) <= {0, None}, rest
