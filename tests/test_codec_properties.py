"""Property-based (hypothesis) round-trip laws for the pure-numpy
image codecs: arbitrary uint8 images survive PPM, BMP and PNG
encode→decode byte-exactly (any width — exercises every BMP row-padding
residue); nearest-resize output dimensions and value membership hold
for arbitrary geometries.  Pure CPU — no Spark
session, so the whole file runs in seconds."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mysql_data_quality_spark.functions import imageio as IIO

dims = st.integers(min_value=1, max_value=17)


def _img(h: int, w: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)


class TestImageProperties:
    @settings(max_examples=40, deadline=None)
    @given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1))
    def test_ppm_round_trip(self, h, w, seed):
        a = _img(h, w, seed)
        assert (IIO.decode_ppm(IIO.encode_ppm(a)) == a).all()

    @settings(max_examples=40, deadline=None)
    @given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1))
    def test_bmp_round_trip_any_padding(self, h, w, seed):
        # w mod 4 in {0,1,2,3} all appear across examples
        a = _img(h, w, seed)
        assert (IIO.decode_bmp(IIO.encode_bmp(a)) == a).all()

    @settings(max_examples=40, deadline=None)
    @given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1))
    def test_png_round_trip(self, h, w, seed):
        a = _img(h, w, seed)
        assert (IIO.decode_png(IIO.encode_png(a)) == a).all()

    @settings(max_examples=40, deadline=None)
    @given(h=dims, w=dims, th=dims, tw=dims, seed=st.integers(0, 2**31 - 1))
    def test_resize_shape_and_membership(self, h, w, th, tw, seed):
        a = _img(h, w, seed)
        out = IIO.resize_nearest(a, tw, th)
        assert out.shape == (th, tw, 3)
        # nearest-neighbor: every output pixel IS an input pixel
        flat_in = {bytes(p) for p in a.reshape(-1, 3)}
        assert all(bytes(p) in flat_in for p in out.reshape(-1, 3))

    @settings(max_examples=40, deadline=None)
    @given(h=dims, w=dims, seed=st.integers(0, 2**31 - 1))
    def test_resize_identity(self, h, w, seed):
        a = _img(h, w, seed)
        assert (IIO.resize_nearest(a, w, h) == a).all()
