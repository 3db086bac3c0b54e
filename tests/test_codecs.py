"""Known-answer + property-style roundtrip tests for every codec
(SURVEY.md §5 carry-over items 2 and 3). Spark-free — pure numpy."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from parquet_converter_spark.codecs import (
    CODECS,
    ELIGIBLE,
    block_codec,
    decode_block,
    encode_block,
)
from parquet_converter_spark.codecs.primitives import (
    bitpack,
    bitunpack,
    zigzag_decode,
    zigzag_encode,
)

rng = np.random.default_rng(7)


def _roundtrip(series: pd.Series, dtype: str, codec: str | None):
    blob = encode_block(series, dtype, codec)
    out, used = decode_block(blob)
    assert list(series.isna()) == list(out.isna()), (dtype, codec)
    a = series[series.notna()]
    b = out[out.notna()]
    if dtype == "ts_us":
        a = pd.to_datetime(a).astype("datetime64[us]")
        b = pd.to_datetime(b).astype("datetime64[us]")
        assert list(a) == list(b), (dtype, codec)
    else:
        assert list(a) == list(b), (dtype, codec)
    return blob, used


# ---------------------------------------------------------------- primitives


def test_bitpack_roundtrip():
    for width in [0, 1, 3, 7, 8, 13, 31, 33, 64]:
        n = 257
        vals = rng.integers(0, 2, n).astype(np.uint64) if width == 1 else (
            rng.integers(0, 2 ** min(width, 63), n, dtype=np.uint64)
            if width
            else np.zeros(n, dtype=np.uint64)
        )
        out = bitunpack(bitpack(vals, width), n, width)
        assert (out == vals).all(), width


def test_bitunpack_rejects_a_short_payload():
    """An empty payload made ``np.unpackbits`` return uninitialized
    memory and a short one was zero-padded; both must fail."""
    from parquet_converter_spark.codecs.core import _decode_uint_vec

    with pytest.raises(ValueError, match="need 2"):
        bitunpack(b"", 2, 8)
    with pytest.raises(ValueError, match="need 2"):
        bitunpack(b"\xff", 2, 8)
    assert list(bitunpack(b"\xff\xf0", 3, 4)) == [15, 15, 15]  # exact fit decodes
    with pytest.raises(ValueError):
        _decode_uint_vec(np.uint64(7).tobytes() + bytes([3]), 5)


def test_zigzag():
    vals = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), np.iinfo(np.int64).min + 1])
    assert (zigzag_decode(zigzag_encode(vals)) == vals).all()


# ------------------------------------------------------------- known answers


def test_rle_known_answer():
    # 3 runs: aaa bb c → run codes + lengths
    s = pd.Series(["a", "a", "a", "b", "b", "c"], dtype=object)
    blob = encode_block(s, "str", "rle")
    out, used = decode_block(blob)
    assert used == "rle"
    assert out.tolist() == ["a", "a", "a", "b", "b", "c"]


def test_dict_known_answer():
    s = pd.Series(["user", "assistant", "user", None, "user"], dtype=object)
    blob = encode_block(s, "str", "dict")
    out, _ = decode_block(blob)
    assert out.tolist()[:3] == ["user", "assistant", "user"]
    assert out.isna().tolist() == [False, False, False, True, False]


def test_delta_known_answer():
    s = pd.Series(np.array([100, 101, 102, 103], dtype=np.int64))
    blob = encode_block(s, "int64", "delta")
    out, _ = decode_block(blob)
    assert out.tolist() == [100, 101, 102, 103]
    # constant delta of 1 → tiny block
    assert len(blob) < 64


def test_forbp_known_answer():
    s = pd.Series(np.array([1_000_000, 1_000_003, 1_000_001], dtype=np.int64))
    out, _ = decode_block(encode_block(s, "int64", "forbp"))
    assert out.tolist() == [1_000_000, 1_000_003, 1_000_001]


# --------------------------------------------------------------- properties


INT_CASES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([42], dtype=np.int64),
    "constant": np.full(1000, -7, dtype=np.int64),
    "sequential": np.arange(5000, dtype=np.int64),
    "random": rng.integers(-(2**40), 2**40, 3000),
    "extremes": np.array(
        [np.iinfo(np.int64).min + 1, np.iinfo(np.int64).max, 0, -1, 1]
    ),
    "runs": np.repeat(rng.integers(0, 5, 50), rng.integers(1, 100, 50)),
}


@pytest.mark.parametrize("case", list(INT_CASES))
@pytest.mark.parametrize("codec", ELIGIBLE["int64"] + [None])
def test_int_roundtrip(case, codec):
    _roundtrip(pd.Series(INT_CASES[case]), "int64", codec)


STR_CASES = {
    "empty": [],
    "single": ["x"],
    "empties_and_nulls": ["", None, "", "a", None, ""],
    "unicode": ["héllo", "🎉🎊", "ünïcode ✓", "\x00zero", "tab\there"],
    "runs": ["user"] * 50 + ["assistant"] * 50 + ["tool"] * 3,
    "long": ["x" * 100_000, "short", "y" * 70_000],
    "random_words": [
        " ".join(rng.choice(["alpha", "beta", "gamma", "delta"], rng.integers(1, 20)))
        for _ in range(500)
    ],
    "all_null": [None, None, None],
}


@pytest.mark.parametrize("case", list(STR_CASES))
@pytest.mark.parametrize("codec", ELIGIBLE["str"] + [None])
def test_str_roundtrip(case, codec):
    _roundtrip(pd.Series(STR_CASES[case], dtype=object), "str", codec)


@pytest.mark.parametrize("codec", ELIGIBLE["ts_us"] + [None])
def test_ts_roundtrip(codec):
    base = pd.Timestamp("2024-03-01 12:00:00")
    ts = pd.Series(
        [base + pd.Timedelta(microseconds=int(d)) for d in np.cumsum(rng.integers(1, 10**7, 500))]
    )
    ts.iloc[5] = pd.NaT
    ts.iloc[499] = pd.NaT
    _roundtrip(ts, "ts_us", codec)


def test_ts_microsecond_precision():
    ts = pd.Series(pd.to_datetime(["2024-01-01 00:00:00.000001", "2024-01-01 00:00:00.999999"]))
    out, _ = decode_block(encode_block(ts, "ts_us", "delta"))
    assert out.astype("datetime64[us]").tolist() == ts.astype("datetime64[us]").tolist()


@pytest.mark.parametrize("codec", ELIGIBLE["int32"] + [None])
def test_int32_nullable_roundtrip(codec):
    s = pd.Series(pd.array([1, None, 3, 3, 3, -2, None, 0] * 40, dtype="Int32"))
    _roundtrip(s, "int32", codec)


def test_auto_selects_reasonably():
    # sequential ints → delta; low-cardinality runs → rle or dict
    seq = pd.Series(np.arange(10_000, dtype=np.int64))
    blob = encode_block(seq, "int64", None)
    assert block_codec(blob) == "delta"
    roles = pd.Series((["user"] * 30 + ["assistant"] * 30) * 100, dtype=object)
    blob = encode_block(roles, "str", None)
    assert block_codec(blob) in ("rle", "dict")


def test_f32list_vector_roundtrip():
    centers = rng.standard_normal((4, 16)).astype(np.float32)
    vecs = [
        (centers[i % 4] + np.float32(0.1) * rng.standard_normal(16).astype(np.float32)).tolist()
        for i in range(500)
    ]
    vecs[3] = None
    vecs[4] = []
    s = pd.Series(vecs, dtype=object)
    for codec in ["fplain", "ftrans", None]:
        blob = encode_block(s, "f32list", codec)
        out, used = decode_block(blob)
        assert s.isna().tolist() == out.isna().tolist()
        for a, b in zip(s.tolist(), out.tolist()):
            if a is not None:
                assert np.array_equal(np.float32(a), np.float32(b))  # bit-identical


def test_compression_beats_plain_on_text():
    words = ["the", "quick", "brown", "fox", "query", "spark", "encode"]
    texts = pd.Series(
        [" ".join(rng.choice(words, rng.integers(5, 40))) for _ in range(3000)],
        dtype=object,
    )
    auto = encode_block(texts, "str", None)
    raw = sum(len(t.encode()) for t in texts)
    assert len(auto) < raw * 0.5


def test_f32list_special_values_bit_identical():
    """Embedding payloads carry NaN/Inf/-0.0/subnormals — the vector
    codec must reproduce the exact float32 bit patterns, plus None and
    empty vectors."""
    import numpy as np
    import pandas as pd

    from parquet_converter_spark.codecs.blocks import decode_block, encode_block

    s = pd.Series([
        [1.0, float("nan"), float("inf")],
        [-0.0, 3.5e38, -float("inf")],   # 3.5e38 overflows float32 → inf
        None,
        [],
        [1.401298464324817e-45],          # smallest positive subnormal
    ])
    out, used = decode_block(encode_block(s, "f32list", None))
    for a, b in zip(s, out):
        if a is None:
            assert b is None
            continue
        with np.errstate(over="ignore"):  # 3.5e38→inf cast is the point
            aa = np.asarray(a, np.float32)
            bb = np.asarray(b, np.float32)
        assert aa.tobytes() == bb.tobytes()


# ------------------------------------------------------------- lossy vectors


def test_lossy_codecs_never_auto_selected():
    """fq16/fq8 are OPT-IN only: absent from ELIGIBLE (so the cost-model
    selector can never pick them) and auto-encode of a vector column
    always lands on a lossless codec."""
    from parquet_converter_spark.codecs.vectors import LOSSY_VEC_CODECS

    assert LOSSY_VEC_CODECS == {"fq16", "fq8", "fpq"}
    for dtype, names in ELIGIBLE.items():
        assert not (set(names) & LOSSY_VEC_CODECS), dtype
    vecs = pd.Series([rng.standard_normal(8).astype(np.float32).tolist()
                      for _ in range(64)], dtype=object)
    _, used = decode_block(encode_block(vecs, "f32list", None))
    assert used in ("fplain", "ftrans")


def test_fq16_roundtrip_within_half_precision_bound():
    """fq16 decode must equal float32(float16(x)) exactly — the error is
    precisely the IEEE half rounding, ≤ 2^-11 relative in the fp16
    normal range. Includes None and empty vectors."""
    vals = [
        (10.0 * rng.standard_normal(16)).astype(np.float32).tolist()
        for _ in range(200)
    ]
    vals[5] = None
    vals[6] = []
    s = pd.Series(vals, dtype=object)
    out, used = decode_block(encode_block(s, "f32list", "fq16"))
    assert used == "fq16"
    assert s.isna().tolist() == out.isna().tolist()
    for a, b in zip(s, out):
        if a is None:
            continue
        a32 = np.asarray(a, np.float32)
        expect = a32.astype(np.float16).astype(np.float32)
        assert np.array_equal(expect, np.asarray(b, np.float32))
        if a32.size:
            err = np.abs(a32.astype(np.float64) - expect.astype(np.float64))
            assert (err <= np.abs(a32) * 2.0**-11 + 1e-12).all()


def test_fq8_roundtrip_within_quantization_step():
    """fq8 per-vector symmetric int8: element error ≤ amax/254 (half a
    step), zero vectors decode to exact zeros, scale isolation keeps a
    huge-magnitude vector from degrading its neighbors."""
    vals = [
        (float(10.0 ** (i % 5)) * rng.standard_normal(12)).astype(np.float32).tolist()
        for i in range(100)
    ]
    vals[0] = [0.0, 0.0, 0.0]        # amax == 0 → exact
    vals[1] = None
    vals[2] = []
    s = pd.Series(vals, dtype=object)
    out, used = decode_block(encode_block(s, "f32list", "fq8"))
    assert used == "fq8"
    assert s.isna().tolist() == out.isna().tolist()
    assert np.asarray(out[0], np.float32).tolist() == [0.0, 0.0, 0.0]
    for a, b in zip(s, out):
        if a is None or len(a) == 0:
            continue
        a64 = np.asarray(a, np.float32).astype(np.float64)
        b64 = np.asarray(b, np.float32).astype(np.float64)
        amax = np.abs(a64).max()
        # half a quantization step + float32-scale representation slop
        assert (np.abs(a64 - b64) <= amax / 254.0 * (1 + 1e-5) + 1e-12).all()


def test_fq8_nonfinite_vector_poisons_only_itself():
    """A NaN/inf amax must not corrupt neighboring vectors — scales are
    per-vector. The clean vector roundtrips within its own bound."""
    clean = np.asarray([1.0, -2.0, 0.5], np.float32)
    s = pd.Series([[float("nan"), 1.0], clean.tolist(), [float("inf"), 3.0]],
                  dtype=object)
    out, _ = decode_block(encode_block(s, "f32list", "fq8"))
    got = np.asarray(out[1], np.float64)
    assert (np.abs(got - clean.astype(np.float64)) <= 2.0 / 254.0 * 1.01).all()


def test_fq8_compresses_better_than_lossless():
    """The point of opting in: ~4x fewer payload bytes than fplain on
    incompressible float noise (fq16 ~2x)."""
    vecs = pd.Series([rng.standard_normal(64).astype(np.float32).tolist()
                      for _ in range(512)], dtype=object)
    plain = len(encode_block(vecs, "f32list", "fplain"))
    h16 = len(encode_block(vecs, "f32list", "fq16"))
    q8 = len(encode_block(vecs, "f32list", "fq8"))
    assert h16 < plain * 0.60
    assert q8 < plain * 0.35


def test_fpq_roundtrip_quality_and_ratio_on_clustered_vectors():
    """Product quantization: per-block codebooks must reconstruct
    naturally-clustered embeddings at high cosine fidelity while
    beating scalar quantization's ratio by a wide margin. Empty/None
    vectors roundtrip structurally; encode is deterministic."""
    centers = rng.standard_normal((16, 64)).astype(np.float32) * 3
    vals = [
        (centers[i % 16] + 0.3 * rng.standard_normal(64)).astype(np.float32).tolist()
        for i in range(4000)
    ]
    vals[3] = None
    vals[4] = []
    s = pd.Series(vals, dtype=object)
    blob = encode_block(s, "f32list", "fpq")
    out, used = decode_block(blob)
    assert used == "fpq"
    assert s.isna().tolist() == out.isna().tolist()
    assert len(out[4]) == 0
    coss = []
    for a, b in zip(s, out):
        if a is None or len(a) == 0:
            continue
        a64 = np.asarray(a, np.float64)
        b64 = np.asarray(b, np.float64)
        assert len(a64) == len(b64)
        coss.append(a64 @ b64 / (np.linalg.norm(a64) * np.linalg.norm(b64)))
    assert float(np.mean(coss)) > 0.99
    assert float(np.min(coss)) > 0.95
    q8 = len(encode_block(s, "f32list", "fq8"))
    assert len(blob) < q8 * 0.45  # PQ lands well past int8's ~4x
    assert blob == encode_block(s, "f32list", "fpq")  # deterministic


def test_fpq_rejects_ragged_and_handles_empty_blocks():
    with pytest.raises(ValueError, match="fixed-dimension"):
        encode_block(
            pd.Series([[1.0, 2.0], [1.0, 2.0, 3.0]], dtype=object), "f32list", "fpq"
        )
    # a block of only null/empty vectors still roundtrips
    s = pd.Series([None, [], None], dtype=object)
    out, used = decode_block(encode_block(s, "f32list", "fpq"))
    assert used == "fpq"
    assert out.isna().tolist() == [True, False, True]
    assert len(out[1]) == 0
