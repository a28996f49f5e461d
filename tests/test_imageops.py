"""Golden-style image-op tests, mirroring the reference's layer-1 strategy
(/root/reference/crates/interface/src/lib.rs:13-292: op(img) == expected,
plus roundtrips)."""

import numpy as np
import pytest

from mit_spark.operators import imageops as ops


def _img(h=5, w=7, seed=3):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_invert_involution():
    img = _img()
    assert np.array_equal(ops.invert(ops.invert(img)), img)
    assert np.array_equal(ops.invert(np.uint8([[[0, 128, 255]]])), [[[255, 127, 0]]])


def test_add_remove_border_roundtrip():
    img = _img(5, 7)
    padded = ops.add_border_wh(img, 10, 9)
    assert padded.shape == (9, 10, 3)
    assert np.array_equal(padded[:5, :7], img)
    assert padded[5:].sum() == 0 and padded[:, 7:].sum() == 0
    back = ops.remove_border(padded, 7, 5)
    assert np.array_equal(back, img)


def test_add_border_noop_iff_both_larger():
    img = _img(5, 7)
    # cpu.rs:26-28: returns unchanged only when BOTH dims strictly larger
    assert ops.add_border_wh(img, 6, 4).shape == (5, 7, 3)
    assert ops.add_border_wh(img, 7, 5).shape == (5, 7, 3)  # equal -> pad path, same size
    assert ops.add_border_wh(img, 8, 4).shape == (5, 8, 3)  # one dim smaller -> pad


def test_add_border_center_roundtrip():
    img = _img(4, 6)
    padded = ops.add_border_center(img, 10)
    assert padded.shape == (10, 10, 3)
    pad_x, pad_y = (10 - 6) // 2, (10 - 4) // 2
    assert np.array_equal(padded[pad_y : pad_y + 4, pad_x : pad_x + 6], img)
    assert np.array_equal(ops.remove_border_center(padded, 6, 4), img)


def test_rotate_roundtrip_and_orientation():
    img = _img(4, 6)
    r = ops.rotate_right(img)
    assert r.shape == (6, 4, 3)
    # dst[c, H-1-r] = src[r, c]  (cpu.rs:174-213)
    assert np.array_equal(r[0, 4 - 1 - 0], img[0, 0])
    assert np.array_equal(ops.rotate_left(ops.rotate_right(img)), img)


def test_transpose():
    img = _img(4, 6)
    t = ops.transpose(img)
    assert t.shape == (6, 4, 3)
    assert np.array_equal(t[2, 1], img[1, 2])
    assert np.array_equal(ops.transpose(t), img)


def test_gamma_correction_matches_reference_formula():
    # cpu.rs:255-292: gamma = ln(127.5)/ln(mean); lut = round(255*(v/255)^gamma)
    import math

    img = np.full((8, 8, 3), 40, dtype=np.uint8)
    out = ops.gamma_correction(img)
    assert out.shape == img.shape and out.dtype == np.uint8
    gamma = math.log(127.5) / math.log(40.0)
    expected = int(np.floor(255.0 * (40 / 255.0) ** gamma + 0.5))
    assert int(out[0, 0, 0]) == expected == 22
    # near-midpoint mean -> gamma ~= 1 -> near identity
    mid = ops.gamma_correction(np.full((4, 4, 3), 128, dtype=np.uint8))
    assert abs(int(mid[0, 0, 0]) - 128) <= 1


def test_histogram_equalization_spreads_contrast():
    rng = np.random.RandomState(0)
    img = rng.randint(100, 140, size=(16, 16, 3), dtype=np.uint8)
    out = ops.histogram_equalization(img)
    assert out.shape == img.shape
    assert int(out.max()) - int(out.min()) > int(img.max()) - int(img.min())
    # constant image stays constant-ish (single bin -> lut value 0 -> black luma)
    const = ops.histogram_equalization(np.full((4, 4, 3), 77, dtype=np.uint8))
    assert len(np.unique(const.reshape(-1, 3), axis=0)) == 1


def test_resize_bilinear_known_values():
    # 2x upscale of a ramp: half-pixel-center bilinear
    img = np.array([[0, 100], [0, 100]], dtype=np.uint8)[..., None].repeat(3, -1)
    out = ops.resize(img, 4, 2, "bilinear")
    assert out.shape == (2, 4, 3)
    assert out[0].tolist()[0][0] == 0 and out[0].tolist()[-1][0] == 100
    assert 20 <= out[0, 1, 0] <= 30 and 70 <= out[0, 2, 0] <= 80
    # identity
    assert np.array_equal(ops.resize(img, 2, 2), img)


def test_resize_float_preserves_constant():
    arr = np.full((6, 6), 0.7, dtype=np.float32)
    out = ops.resize_float(arr, 12, 12)
    assert out.shape == (12, 12)
    assert np.allclose(out, 0.7, atol=1e-6)


def test_resize_aspect_ratio_invariants():
    # port of imageproc.rs:96-115 — dims multiples of 256, ratio > 0
    img = np.full((150, 300, 3), 255, dtype=np.uint8)
    out, ratio, pad_w, pad_h = ops.resize_aspect_ratio(img, 512, mag_ratio=1.5)
    assert out.shape[0] % 256 == 0 and out.shape[1] % 256 == 0
    assert ratio > 0
    # longest side resized to 512 then padded
    assert out.shape[1] == 512 and out.shape[0] == 256


def test_resize_aspect_ratio_returns_input_and_detect_leaves_it_unwritten():
    # a 512x512 page at detect_size 512 needs neither resize nor padding, so
    # resize_aspect_ratio hands back the input itself; the detect path must
    # then only read it (a write to a read-only array raises)
    from mit_spark.config import DetectorOptions
    from mit_spark.operators.detector import detect
    from mit_spark.operators.forward import synthetic_forward

    img = np.full((512, 512, 3), 255, dtype=np.uint8)
    img[100:140, 60:300] = 70  # one ink block for the stand-in forward
    img.flags.writeable = False
    out, ratio, pad_w, pad_h = ops.resize_aspect_ratio(img, 512)
    assert out is img and (ratio, pad_w, pad_h) == (1.0, 0, 0)
    opts = DetectorOptions(detect_size=512)
    quads, mask = detect(img, synthetic_forward, opts)
    want_quads, want_mask = detect(img.copy(), synthetic_forward, opts)
    assert quads
    assert [(q.pts.tolist(), q.score) for q in quads] == [
        (q.pts.tolist(), q.score) for q in want_quads
    ]
    assert np.array_equal(mask, want_mask)


def test_bilateral_filter_smooths_noise_keeps_edges():
    rng = np.random.RandomState(1)
    img = np.zeros((24, 24, 3), dtype=np.uint8)
    img[:, 12:] = 200
    noisy = np.clip(img.astype(int) + rng.randint(-10, 10, img.shape), 0, 255).astype(np.uint8)
    out = ops.bilateral_filter(noisy, d=7, sigma_color=30.0, sigma_space=30.0)
    # noise reduced on flat regions
    assert out[:, :8].std() < noisy[:, :8].std()
    # edge magnitude preserved
    assert abs(int(out[:, 14:].mean()) - int(out[:, :10].mean())) > 150


class TestConvolutionResize:
    """Interpolation enum parity (image/mod.rs:212-218): box, bicubic
    (CatmullRom), lanczos3 via the separable convolution resampler."""

    def test_constant_image_preserved(self):
        img = np.full((40, 56, 3), 173, dtype=np.uint8)
        for filt in ("box", "bicubic", "lanczos3"):
            out = ops.resize(img, 23, 17, filt)
            assert out.shape == (17, 23, 3)
            assert np.all(out == 173), filt

    def test_box_integer_downscale_is_block_mean(self):
        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, (32, 48, 3), dtype=np.uint8)
        out = ops.resize(img, 12, 8, "box")
        want = (
            img.reshape(8, 4, 12, 4, 3).astype(np.float64).mean(axis=(1, 3)) + 0.5
        ).astype(np.uint8)
        assert np.array_equal(out, want)

    def test_bicubic_upscale_tracks_linear_ramp(self):
        # a linear ramp is reproduced exactly by any interpolating cubic
        # (away from the clamped borders)
        ramp = np.tile(np.linspace(0, 255, 64, dtype=np.float64), (16, 1))
        img = (ramp + 0.5).astype(np.uint8)
        out = ops.resize(img, 128, 16, "bicubic").astype(np.float64)
        want = np.tile((np.arange(128) + 0.5) * (64 / 128) - 0.5, (16, 1))
        want = want * (255.0 / 63.0)
        inner = slice(8, 120)
        assert np.max(np.abs(out[:, inner] - want[:, inner])) <= 2.0

    def test_lanczos3_downscale_antialiases_stripes(self):
        # 1px stripes at Nyquist: an anti-aliased 4x downscale lands near
        # the mean gray, while nearest keeps full-contrast pixels
        img = np.zeros((64, 64), dtype=np.uint8)
        img[:, ::2] = 255
        out = ops.resize(img, 16, 16, "lanczos3").astype(np.float64)
        assert np.all(np.abs(out - 127.5) < 32)

    def test_unknown_filter_still_raises(self):
        img = np.zeros((8, 8, 3), dtype=np.uint8)
        with pytest.raises(NotImplementedError):
            ops.resize(img, 4, 4, "hamming")

    def test_grayscale_and_color_agree_per_channel(self):
        rng = np.random.RandomState(3)
        g = rng.randint(0, 256, (24, 24), dtype=np.uint8)
        color = np.stack([g, g, g], axis=2)
        for filt in ("box", "bicubic", "lanczos3"):
            a = ops.resize(g, 11, 9, filt)
            b = ops.resize(color, 11, 9, filt)
            assert np.array_equal(np.stack([a, a, a], axis=2), b), filt
