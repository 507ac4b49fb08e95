import pytest

from tesseract_rs_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tesseract-rs-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def media_surfaces():
    """Media surface name -> (call, a payload it decodes with status 'ok')."""
    import numpy as np

    from tesseract_rs_spark.functions import multimodal as M

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    pgm = M.pgm_encode(img)
    wav = M.wav_encode(np.arange(-50, 50, dtype=np.int16))
    return {
        "image_stats": (M.image_stats, pgm),
        "audio_stats": (M.audio_stats, wav),
        "video_stats": (M.video_stats, M.video_encode([img, img])),
        "decode_media": (M.decode_media, pgm),
        "extract_features": (M.extract_features, pgm),
        "resize_images": (lambda m: M.resize_images(m, 4, 4), pgm),
    }
