"""FSST-specific tests: table build, escape disambiguation, roundtrip
on adversarial byte patterns (SURVEY.md §7.3 #1)."""

from __future__ import annotations

import numpy as np
import pytest

from parquet_converter_spark.codecs.fsst import (
    ESCAPE,
    build_symbol_table,
    compress,
    decompress,
)

rng = np.random.default_rng(11)


def _rt(data: bytes, symbols=None):
    syms = build_symbol_table(data) if symbols is None else symbols
    comp = compress(data, syms)
    out = decompress(comp, syms)
    assert out == data
    return comp, syms


def test_empty():
    assert compress(b"", []) == b""
    assert decompress(b"", []) == b""


def test_simple_text():
    data = b"the quick brown fox jumps over the lazy dog " * 200
    comp, _ = _rt(data)
    assert len(comp) < len(data) * 0.5


def test_no_symbols_all_escape():
    data = b"abcdef"
    comp = compress(data, [])
    assert len(comp) == 2 * len(data)
    assert decompress(comp, []) == data


def test_escape_byte_in_data():
    # 0xFF never appears in UTF-8, but the codec must survive raw bytes
    data = bytes([0xFF, 0xFF, 0x41, 0xFF, 0x42]) * 50
    _rt(data)


def test_symbol_table_caps():
    data = bytes(rng.integers(0, 256, 100_000, dtype=np.uint8).tobytes())
    syms = build_symbol_table(data)
    assert len(syms) <= 255
    assert all(1 <= len(s) <= 8 for s in syms)
    _rt(data, syms)


def test_longest_match_priority():
    # "abcd" and "ab" both symbols → compressor must prefer "abcd"
    syms = [b"abcd", b"ab", b"c", b"d", b"x"]
    data = b"abcdabcdxx"
    comp = compress(data, syms)
    assert comp[0] == 0 and comp[1] == 0  # two "abcd" codes first
    assert decompress(comp, syms) == data


def test_consecutive_escapes():
    # literals that are the escape byte, adjacent → run disambiguation
    syms = [b"A"]
    data = bytes([ESCAPE] * 7) + b"A" + bytes([ESCAPE])
    comp = compress(data, syms)
    assert decompress(comp, syms) == data


def test_unicode_text():
    data = ("héllo 🎉 wörld ✓ " * 500).encode("utf-8")
    comp, _ = _rt(data)
    assert len(comp) < len(data)


@pytest.mark.parametrize("size", [1, 2, 255, 4096])
def test_random_bytes_roundtrip(size):
    data = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
    _rt(data)


# ------------------------------------------------- vectorized kernel parity


from parquet_converter_spark.codecs.fsst import compress_vectorized  # noqa: E402


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"the quick brown the quick brown the quick" * 100,
        bytes([ESCAPE] * 9) + b"Aa" + bytes([ESCAPE]),
        ("héllo 🎉 wörld " * 300).encode(),
    ],
    ids=["empty", "one", "text", "escapes", "unicode"],
)
def test_vectorized_kernel_roundtrip(data):
    syms = build_symbol_table(data)
    comp = compress_vectorized(data, syms)
    assert decompress(comp, syms) == data


def test_vectorized_kernel_matches_regex_ratio():
    data = b"select a from t where b = c order by d " * 2000
    syms = build_symbol_table(data)
    c_re = compress(data, syms)
    c_np = compress_vectorized(data, syms)
    assert decompress(c_np, syms) == data
    # exact-greedy tokenization → identical (or better) ratio
    assert len(c_np) <= len(c_re) * 1.01


def test_vectorized_kernel_random_bytes():
    for size in [3, 257, 5000]:
        data = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        syms = build_symbol_table(data)
        assert decompress(compress_vectorized(data, syms), syms) == data


# ---- uint64 window packing ≡ the former void-dtype view ------------------
# build_symbol_table counts n-gram windows by packing each into a
# big-endian uint64 (fsst._pack_windows). The void-dtype view it
# replaced is the oracle: np.unique over void items compares them with
# memcmp, the order the packing must reproduce.


def _void_pack(arr: np.ndarray, length: int) -> np.ndarray:
    windows = np.lib.stride_tricks.sliding_window_view(arr, length)
    return np.ascontiguousarray(windows).view(np.dtype((np.void, length))).ravel()


def _void_unpack(uniq: np.ndarray, length: int) -> np.ndarray:
    return uniq.view(np.uint8).reshape(-1, length)


def _window_corpus() -> np.ndarray:
    """Repeated n-grams over the full byte range, 0x00 and 0xFF
    included, so high-bit and zero bytes meet in every window position."""
    g = np.random.default_rng(5)
    grams = [g.integers(0, 256, size=int(g.integers(1, 9)), dtype=np.uint8) for _ in range(40)]
    grams += [np.zeros(8, np.uint8), np.full(8, 0xFF, np.uint8)]
    grams.append(np.array([0xFF, 0, 0xFF], np.uint8))
    return np.concatenate([grams[i] for i in g.integers(0, len(grams), size=3_000)])


@pytest.mark.parametrize("length", range(1, 9))
def test_window_packing_matches_void_view(length):
    from parquet_converter_spark.codecs import fsst

    arr = _window_corpus()
    pu, pc = np.unique(fsst._pack_windows(arr, length), return_counts=True)
    vu, vc = np.unique(_void_pack(arr, length), return_counts=True)
    assert pu.size == vu.size > 1
    # same uniques, in the same order, with the same counts
    assert np.array_equal(fsst._unpack_windows(pu, length), _void_unpack(vu, length))
    assert np.array_equal(pc, vc)


def test_packed_training_gives_void_view_tables_and_blocks(monkeypatch):
    """Byte-identical symbol tables and encoded fsst blocks on a fixed
    corpus, trained once with the packing and once with the void view."""
    import pandas as pd

    from parquet_converter_spark.codecs import fsst
    from parquet_converter_spark.codecs.blocks import encode_block
    from parquet_converter_spark.synth import synth_pandas

    texts = synth_pandas(n_convs=40, seed=5)["text"]
    corpus = "\n".join(texts.dropna()).encode()
    raw = bytes(_window_corpus())
    packed = [build_symbol_table(corpus), build_symbol_table(raw)]
    blocks = [encode_block(texts, "str", codec="fsst"),
              encode_block(pd.Series([raw.decode("latin-1")] * 3), "str", codec="fsst")]

    monkeypatch.setattr(fsst, "_pack_windows", _void_pack)
    monkeypatch.setattr(fsst, "_unpack_windows", _void_unpack)
    assert [build_symbol_table(corpus), build_symbol_table(raw)] == packed
    assert len(packed[0]) == fsst.MAX_SYMBOLS
    assert [encode_block(texts, "str", codec="fsst"),
            encode_block(pd.Series([raw.decode("latin-1")] * 3), "str", codec="fsst")] == blocks
