"""Property-based (hypothesis) laws over pure-Python kernels: BPE
tokenization is lossless and its token count matches the encoding
length for any text, and the bloom double-hash bitset has no false
negatives for any geometry.  Pure CPU — no Spark session, so the whole
file runs in seconds."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


class TestBpeProperties:
    @settings(max_examples=60, deadline=None)
    @given(text=st.text(max_size=200))
    def test_tokenization_is_lossless(self, text):
        """BPE merges only ever JOIN adjacent symbols inside pre-tokens,
        and the pre-tokenizer is lossless — so concatenating the token
        stream must reproduce the text byte-for-byte for ANY input and
        ANY merge table."""
        from mysql_data_quality_spark.functions import bpe

        model = {"merges": [["t", "h"], ["th", "e"], ["1", "2"]]}
        toks = bpe.encode_batch([text], model)[0]
        assert "".join(toks) == text

    @settings(max_examples=60, deadline=None)
    @given(text=st.text(max_size=120))
    def test_count_matches_encode_length(self, text):
        from mysql_data_quality_spark.functions import bpe

        model = {"merges": [["a", "b"], ["e", "s"]]}
        assert bpe.token_count_batch([text], model)[0] == len(
            bpe.encode_batch([text], model)[0]
        )


class TestBloomProperties:
    @settings(max_examples=30, deadline=None)
    @given(
        n=st.integers(1, 300),
        seed=st.integers(0, 2**31 - 1),
        m_exp=st.integers(10, 16),
        k=st.integers(1, 6),
    )
    def test_membership_has_no_false_negatives(self, n, seed, m_exp, k):
        """Pure-numpy law on the double-hash bitset math itself (the
        Spark plumbing is covered in test_near_history): every inserted
        (h1, h2) tests positive for ANY geometry."""
        rng = np.random.RandomState(seed)
        m = 1 << m_exp
        h1 = rng.randint(0, 2**63, size=n).astype(np.uint64)
        h2 = rng.randint(0, 2**63, size=n).astype(np.uint64)
        bits = np.zeros(m // 8, dtype=np.uint8)
        mu = np.uint64(m)
        H1 = h1 % mu
        H2 = (h2 | np.uint64(1)) % mu
        for i in range(k):
            pos = (H1 + np.uint64(i) * H2) % mu
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).astype(np.int64),
                (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
            )
        ok = np.ones(n, dtype=bool)
        for i in range(k):
            pos = (H1 + np.uint64(i) * H2) % mu
            byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
            ok &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
        assert ok.all()
