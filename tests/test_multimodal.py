"""Multimodal binary-column operators: codec roundtrip, payload decoding,
frame sampling, resize, channel stats — numpy golden equality plus the
Spark plumbing at small scale."""

import numpy as np
import pytest

from mit_spark.operators.multimodal import (
    channel_stats,
    decode_external,
    decode_frames,
    decode_media,
    encode_media,
    frame_sample,
    media_table,
    resize_media,
    synth_media_bytes,
)


def test_codec_roundtrip_image():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(33, 21, 3), dtype=np.uint8)
    kind, out = decode_media(encode_media(img, "image"))
    assert kind == "image"
    np.testing.assert_array_equal(out, img[None])


def test_codec_roundtrip_video():
    rng = np.random.default_rng(8)
    vid = rng.integers(0, 256, size=(5, 16, 12, 3), dtype=np.uint8)
    kind, out = decode_media(encode_media(vid, "video"))
    assert kind == "video"
    np.testing.assert_array_equal(out, vid)


def test_decode_external_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_external("webm", b"\x00\x01")


def _want_frames(fmt, content):
    """What each format's own decoder gives, as (F, H, W, C)."""
    if fmt == "mitb":
        return decode_media(content)[1]
    if fmt in ("png", "jpeg"):
        return decode_external(fmt, content)[None]
    from mit_spark.operators.avi_codec import decode_avi_mjpg

    frames = decode_avi_mjpg(content)
    assert all(f.ndim == 2 for f in frames)  # gray tiles
    return np.stack([np.repeat(f[:, :, None], 3, axis=2) for f in frames])


def _first_refs():
    from mit_spark.operators.multimodal import _is_video
    from mit_spark.synth import gen_doc

    refs = [
        s["media_ref"]
        for d in range(40)
        for s in gen_doc(f"doc-{d:08d}")
        if s["kind"] == "media"
    ]
    return (
        next(r for r in refs if not _is_video(r)),
        next(r for r in refs if _is_video(r)),
    )


@pytest.mark.parametrize(
    "fmt, payload, video",
    [
        ("mitb", "synth_media_bytes", False),
        ("mitb", "synth_media_bytes", True),
        ("png", "_png_payload", False),
        ("jpeg", "_jpeg_payload", False),
        ("avi", "_avi_payload", True),
        ("wav", "_wav_payload", False),
        ("junk", None, False),
    ],
)
def test_decode_frames_reads_every_table_payload(fmt, payload, video):
    from mit_spark.operators import multimodal

    ref = _first_refs()[video]
    if payload is None:
        content = b"\x00\x01not a payload" * 4
    else:
        content, meta = getattr(multimodal, payload)(ref)
    if fmt in ("wav", "junk"):
        with pytest.raises(ValueError):
            decode_frames(content)
        return
    got = decode_frames(content)
    np.testing.assert_array_equal(got, _want_frames(fmt, content))
    assert got.dtype == np.uint8
    assert got.shape == (meta["n_frames"], meta["height"], meta["width"], meta["channels"])


def test_synth_media_deterministic():
    b1, m1 = synth_media_bytes("m-test-0001")
    b2, m2 = synth_media_bytes("m-test-0001")
    assert b1 == b2 and m1 == m2
    _, frames = decode_media(b1)
    assert frames.shape[0] == m1["n_frames"]
    assert frames.shape[1] == m1["height"] and frames.shape[2] == m1["width"]


def _media_df(spark, n_docs=6, table=media_table):
    from mit_spark.sources.docs_source import load_docs

    docs = load_docs(spark, "/root/testdata/sf0.001", limit=n_docs)
    return table(spark, docs)


def test_media_table_schema_and_meta(spark):
    rows = _media_df(spark).collect()
    assert rows, "expected media spans"
    for r in rows:
        kind, frames = decode_media(bytes(r.content))
        assert r.meta.mime == f"x-mit/{kind}"
        assert frames.shape == (r.meta.n_frames, r.meta.height, r.meta.width, r.meta.channels)


def test_frame_sample_counts(spark):
    media = _media_df(spark, n_docs=10).cache()
    metas = {r.media_ref: r.meta.n_frames for r in media.select("media_ref", "meta").collect()}
    sampled = frame_sample(media, every_k=2).collect()
    expected = sum((n + 1) // 2 for n in metas.values())
    assert len(sampled) == expected
    for r in sampled:
        kind, frames = decode_media(bytes(r.content))
        assert kind == "image" and frames.shape[0] == 1
    media.unpersist()


def test_resize_media_dims(spark):
    media = _media_df(spark)
    out = resize_media(media, 40, 24).collect()
    for r in out:
        kind, frames = decode_media(bytes(r.content))
        assert frames.shape[1:3] == (24, 40)
        assert (r.meta.width, r.meta.height) == (40, 24)
        assert r.meta.mime == f"x-mit/{kind}"


def test_channel_stats_matches_numpy(spark):
    media = _media_df(spark).cache()
    stats = {(r.media_ref, r.channel): r for r in channel_stats(media).collect()}
    for r in media.collect():
        _, frames = decode_media(bytes(r.content))
        flat = frames.reshape(-1, frames.shape[3]).astype(np.float64)
        for ch in range(frames.shape[3]):
            s = stats[(r.media_ref, ch)]
            assert s.mean == pytest.approx(round(float(flat.mean(axis=0)[ch]), 4))
            assert s.std == pytest.approx(round(float(flat.std(axis=0)[ch]), 4))
    media.unpersist()


def _payload_digest(df) -> str:
    """sha256 over (media_ref, content, meta) of every row, sorted by ref."""
    import hashlib

    h = hashlib.sha256()
    rows = df.select("media_ref", "content", "meta").collect()
    for r in sorted(rows, key=lambda r: r.media_ref):
        content = bytes(r.content)
        h.update(r.media_ref.encode())
        h.update(len(content).to_bytes(8, "little") + content)
        h.update(repr(tuple(r.meta)).encode())
    return h.hexdigest()


# Payload bytes and meta of each table over the first 40 documents of sf0.001
# (94 media refs, 15 of them videos): the oracles see only aggregates, so
# these pin the bytes themselves.
PAYLOAD_DIGESTS = {
    "media_table": "d4a421a472e85ad07ddd67371dfffda4a56c98b38c43417f0a64abc4bf1d6bfa",
    "media_table_png": "fdf7bf76f852464379950cc1b7885d6c69d55a4810d3614fb4c93899ff9a3efc",
    "media_table_jpeg": "f28b95092aef289c070c202cb506b685b027d5753cfd9a3962ab803ccdc65019",
    "video_table": "2ad08875c607e189542c1ab6da3b718a3b44609505ddd0fd72f06df741ea738c",
    "audio_table": "dda6d48320a76041dc42b5557ba2639ec8c7343ce7b0edf8825974d42f73a864",
}


@pytest.mark.parametrize(
    "table",
    ["media_table", "media_table_png", "media_table_jpeg", "video_table", "audio_table"],
)
def test_golden_payload_digest(spark, table):
    from mit_spark.operators import multimodal

    got = _payload_digest(_media_df(spark, 40, getattr(multimodal, table)))
    assert got == PAYLOAD_DIGESTS[table]
