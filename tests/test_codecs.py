"""Codec kernel round-trip tests — the analogue of the reference's
golden-output validation (reference test/validate.py:85-209: scalar +
nested value equality), run per-kernel on adversarial arrays.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from osm_pbf_parquet_spark.functions.codecs import (
    choose_codec,
    classify,
    codecs_for,
    decode_array,
    encode_array,
    fsst,
)

RNG = np.random.default_rng(42)


def bit_equal(a: pa.Array, b: pa.Array) -> bool:
    """Bit-exact equality (NaN == NaN, -0.0 != +0.0 distinction kept)."""
    if a.type != b.type or len(a) != len(b):
        return False
    if pa.types.is_floating(a.type):
        na = a.is_null().to_numpy(zero_copy_only=False)
        nb = b.is_null().to_numpy(zero_copy_only=False)
        if not np.array_equal(na, nb):
            return False
        va = a.fill_null(0.0).to_numpy(zero_copy_only=False)
        vb = b.fill_null(0.0).to_numpy(zero_copy_only=False)
        return np.array_equal(va.view(np.uint8), vb.view(np.uint8))
    return a.equals(b)


def roundtrip(arr: pa.Array, codec: str | None = None) -> pa.Array:
    name, params, payload = encode_array(arr, codec)
    out = decode_array(name, params, payload)
    assert out.type == arr.type, (out.type, arr.type)
    assert bit_equal(out, arr), f"codec={name} mismatch\nin={arr[:10]}\nout={out[:10]}"
    return out


INT_ARRAYS = {
    "empty": pa.array([], type=pa.int64()),
    "single": pa.array([7], type=pa.int64()),
    "all_equal": pa.array([3] * 1000, type=pa.int64()),
    "small_range": pa.array(RNG.integers(1000, 1031, 100_000), type=pa.int64()),
    "full_range": pa.array(
        [np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1], type=pa.int64()
    ),
    "sorted_ts_like": pa.array(
        np.cumsum(RNG.integers(0, 1000, 50_000)).astype(np.int64), type=pa.int64()
    ),
    "runs": pa.array(
        np.repeat(RNG.integers(0, 50, 300), RNG.integers(1, 200, 300)).astype(
            np.int64
        ),
        type=pa.int64(),
    ),
    "with_nulls": pa.array(
        [None if i % 7 == 0 else i * 3 for i in range(5000)], type=pa.int64()
    ),
    "all_null": pa.array([None] * 100, type=pa.int64()),
    "int32": pa.array(RNG.integers(-100, 100, 10_000), type=pa.int32()),
    "int16": pa.array(RNG.integers(-100, 100, 1000), type=pa.int16()),
    "uint64_high": pa.array([2**64 - 1, 0, 2**63], type=pa.uint64()),
    "date32": pa.array(
        RNG.integers(0, 20000, 1000).astype(np.int32), type=pa.date32()
    ),
    "timestamp_us": pa.array(
        np.cumsum(RNG.integers(0, 10**6, 10_000)).astype("datetime64[us]")
    ),
}


@pytest.mark.parametrize("name", list(INT_ARRAYS))
@pytest.mark.parametrize("codec", ["bitpack", "delta", "rle", "dictint", "plain", "zstd", None])
def test_int_roundtrip(name, codec):
    roundtrip(INT_ARRAYS[name], codec)


FLOAT_ARRAYS = {
    "empty": pa.array([], type=pa.float64()),
    "random": pa.array(RNG.normal(size=10_000)),
    "nan_inf": pa.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 1.5]),
    "constant": pa.array([2.5] * 10_000),
    "low_card": pa.array(RNG.choice([0.1, 0.25, 99.0], 10_000)),
    "with_nulls": pa.array([None if i % 3 == 0 else i / 7 for i in range(1000)]),
    "float32": pa.array(RNG.normal(size=1000).astype(np.float32)),
}


@pytest.mark.parametrize("name", list(FLOAT_ARRAYS))
@pytest.mark.parametrize("codec", ["alp", "xorf", "rle", "dictint", "plain", "zstd", None])
def test_float_roundtrip(name, codec):
    roundtrip(FLOAT_ARRAYS[name], codec)


def _rand_words(n, vocab, null_every=0):
    words = [f"word{i}" for i in range(vocab)]
    out = [" ".join(RNG.choice(words, RNG.integers(1, 30))) for _ in range(n)]
    if null_every:
        out = [None if i % null_every == 0 else v for i, v in enumerate(out)]
    return out


STR_ARRAYS = {
    "empty": pa.array([], type=pa.string()),
    "single": pa.array(["hello"]),
    "empty_strings": pa.array(["", "", "a", ""]),
    "low_card": pa.array(RNG.choice(["en", "de", "fr", "zh"], 20_000).tolist()),
    "texty": pa.array(_rand_words(2000, 50)),
    "with_nulls": pa.array(_rand_words(2000, 50, null_every=5)),
    "all_null": pa.array([None] * 50, type=pa.string()),
    "unicode": pa.array(["héllo wörld", "日本語テキスト", "🎉" * 100, "ascii"]),
    "long_one": pa.array(["x" * 1_000_000, "short"]),
    "large_string": pa.array(["a", "bb", None], type=pa.large_string()),
}

BIN_ARRAYS = {
    "binary_nonutf8": pa.array(
        [bytes(RNG.integers(0, 256, RNG.integers(1, 2000), dtype=np.uint8).tolist()) for _ in range(200)]
        + [b"", None],
        type=pa.binary(),
    ),
    "large_binary": pa.array([b"\xff\xfe", None, b""], type=pa.large_binary()),
}


@pytest.mark.parametrize("name", list(STR_ARRAYS))
@pytest.mark.parametrize(
    "codec", ["str_plain", "str_zstd", "str_dict", "str_fsst", "plain", "zstd", None]
)
def test_str_roundtrip(name, codec):
    roundtrip(STR_ARRAYS[name], codec)


@pytest.mark.parametrize("name", list(BIN_ARRAYS))
@pytest.mark.parametrize("codec", ["str_plain", "str_zstd", "str_dict", "str_fsst", None])
def test_binary_roundtrip(name, codec):
    roundtrip(BIN_ARRAYS[name], codec)


NESTED_ARRAYS = {
    "list_float": pa.array([[1.0, 2.0], None, [], [3.5]], type=pa.list_(pa.float32())),
    "map": pa.array(
        [[("k1", "v1"), ("k2", None)], None, []],
        type=pa.map_(pa.string(), pa.string()),
    ),
    "list_struct": pa.array(
        [[{"ref": 1}, {"ref": 2}], [], None],
        type=pa.list_(pa.struct([("ref", pa.int64())])),
    ),
}


@pytest.mark.parametrize("name", list(NESTED_ARRAYS))
@pytest.mark.parametrize("codec", ["plain", "zstd", None])
def test_nested_roundtrip(name, codec):
    roundtrip(NESTED_ARRAYS[name], codec)


BOOL_ARRAYS = {
    "mostly_true": pa.array([True] * 995 + [False] * 5),
    "with_nulls": pa.array([True, None, False] * 100),
}


@pytest.mark.parametrize("name", list(BOOL_ARRAYS))
@pytest.mark.parametrize("codec", ["bitpack", "rle", "plain", None])
def test_bool_roundtrip(name, codec):
    roundtrip(BOOL_ARRAYS[name], codec)


# ---- selector sanity: picks the obviously-right codec on extremes ----

def test_selector_picks_dict_for_low_card_strings():
    arr = pa.array(RNG.choice(["en", "de", "fr"], 50_000).tolist())
    assert choose_codec(arr, classify(arr.type)) == "str_dict"


def test_selector_picks_small_codec_for_small_range_ints():
    arr = pa.array(RNG.integers(0, 16, 100_000), type=pa.int64())
    chosen = choose_codec(arr, classify(arr.type))
    assert chosen in ("bitpack", "dictint", "zstd")
    _, p, payload = encode_array(arr, chosen)
    assert len(payload) < 100_000 * 8 / 4  # ≥4× smaller than raw


def test_selector_picks_run_codec_for_runs():
    arr = pa.array(np.repeat(np.arange(50), 10_000).astype(np.int64))
    assert choose_codec(arr, classify(arr.type)) in ("rle", "delta", "zstd")
    name, _, payload = encode_array(arr)
    assert len(payload) < len(arr) * 8 / 100


def test_selector_picks_alp_for_decimal_prices():
    arr = pa.array(np.round(RNG.uniform(1, 100000, 50_000), 2))
    assert choose_codec(arr, classify(arr.type)) == "alp"
    name, _, payload = encode_array(arr, "alp")
    assert len(payload) < arr.nbytes / 2


def test_selector_picks_xorf_for_smooth_measurements():
    """Slow-moving sensor-style doubles: neighbors share sign/exponent/
    mantissa top, aren't decimal-scaled (ALP patches out), aren't
    low-cardinality — the Gorilla-XOR regime."""
    arr = pa.array(np.cumsum(RNG.normal(0, 1e-7, 50_000)) + 12.5)
    assert choose_codec(arr, classify(arr.type)) == "xorf"
    _, _, payload = encode_array(arr, "xorf")
    assert len(payload) < arr.nbytes * 0.8


def test_selector_picks_delta_for_sorted_timestamps():
    arr = pa.array(np.cumsum(RNG.integers(0, 100, 100_000)).astype("datetime64[us]"))
    assert choose_codec(arr, classify(arr.type)) == "delta"


def test_auto_never_larger_than_plain_by_much():
    for group in (INT_ARRAYS, FLOAT_ARRAYS, STR_ARRAYS):
        for arr in group.values():
            if len(arr) < 100:
                continue
            _, _, auto_payload = encode_array(arr)
            _, _, plain_payload = encode_array(arr, "plain")
            assert len(auto_payload) <= len(plain_payload) * 1.25 + 4096


# ---- FSST symbol-table build: vectorized kernel == reference loop ----

def _oracle_symbol_table(sample: bytes, max_symbols: int = 255) -> list[bytes]:
    """The per-position Counter loop the numpy build must reproduce."""
    sample = sample[: fsst.SAMPLE_CAP]
    n = len(sample)
    if n == 0:
        return []
    counts: Counter = Counter()
    mv = memoryview(sample)
    for k in range(2, fsst.MAX_SYM_LEN + 1):
        if n < k:
            break
        step = 1 if n <= 8192 else 2
        for i in range(0, n - k + 1, step):
            counts[bytes(mv[i : i + k])] += 1
    scored = [(cnt * (len(s) - 1), s) for s, cnt in counts.items() if cnt > 1]
    scored.sort(key=lambda t: (-t[0], t[1]))
    by_len_gain: dict[int, int] = {}
    for gain, s in scored[:512]:
        by_len_gain[len(s)] = by_len_gain.get(len(s), 0) + gain
    kept_lengths = set(sorted(by_len_gain, key=by_len_gain.get, reverse=True)[:3])
    scored = [(g, s) for g, s in scored if len(s) in kept_lengths]
    table = [s for _, s in scored[: max_symbols - 64]]
    byte_counts = Counter(sample)
    for b, _ in byte_counts.most_common(min(64, max_symbols - len(table))):
        table.append(bytes([b]))
    return table[:max_symbols]


def _seeded_bytes(n: int, alphabet: int, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    return rng.integers(0, alphabet, n, dtype=np.uint8).tobytes()


def _fsst_edge_samples() -> list[bytes]:
    # a*9 and the abba sample tie two lengths' summed gains at the
    # top-3 cut, so the length order must be first-seen
    out = [b"", b"a", b"ab", b"aa", b"aaa", b"a" * 9, b"abbbaabbbabbba",
           b"ab\x00ab\x00ab\x00", b"\xff" * 300, b"\xff" * 9000,
           bytes(range(256)) * 3]
    for n in (7, 8, 9, 8191, 8192, 8193, fsst.SAMPLE_CAP + 100):
        for alphabet in (2, 26, 256):
            out.append(_seeded_bytes(n, alphabet, seed=n))
    return out


def _pages_columns() -> dict[str, pa.Array]:
    from osm_pbf_parquet_spark.sources.pages import generate_pages

    t = generate_pages(1500)
    return {c: t.column(c).combine_chunks() for c in ("url", "html", "text")}


def _flat_bytes(arr: pa.Array) -> bytes:
    offs = arr.buffers()[1]
    lo, hi = np.frombuffer(offs, dtype=np.int32)[[arr.offset, arr.offset + len(arr)]]
    return arr.buffers()[2].to_pybytes()[lo:hi]


def test_fsst_symbol_table_matches_oracle_on_edge_cases():
    for s in _fsst_edge_samples():
        # max_symbols < 64 exercises the oracle's negative-slice rules
        for max_symbols in (255, 100, 10, 0) if len(s) < 1000 else (255,):
            assert fsst.build_symbol_table(s, max_symbols) == _oracle_symbol_table(
                s, max_symbols), (len(s), max_symbols)


@settings(max_examples=25, deadline=None)
@given(st.one_of(
    st.binary(max_size=40_000),
    # full-length samples over small alphabets: many repeated windows
    # and gain ties, past the stride-2 and SAMPLE_CAP cut-offs
    st.builds(_seeded_bytes, st.integers(0, 40_000), st.integers(1, 256),
              st.integers(0, 2**32 - 1)),
))
def test_fsst_symbol_table_matches_oracle_any(sample):
    assert fsst.build_symbol_table(sample) == _oracle_symbol_table(sample)


def test_fsst_symbol_table_matches_oracle_on_pages():
    for name, arr in _pages_columns().items():
        data = _flat_bytes(arr)
        for off, ln in ((0, 300), (0, 16384), (5000, 8192), (1000, 40000)):
            s = data[off : off + ln]
            assert fsst.build_symbol_table(s) == _oracle_symbol_table(s), (name, off, ln)


def test_fsst_oracle_table_gives_same_codec_choice(monkeypatch):
    cols = _pages_columns()
    chosen = {c: choose_codec(a, classify(a.type)) for c, a in cols.items()}
    monkeypatch.setattr(fsst, "build_symbol_table", _oracle_symbol_table)
    assert chosen == {c: choose_codec(a, classify(a.type)) for c, a in cols.items()}
