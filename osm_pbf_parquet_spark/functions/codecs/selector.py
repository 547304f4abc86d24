"""Sampled per-column codec auto-selection.

Generalizes the reference's single adaptive knob (memory-derived batch
target, reference src/util.rs:97-101) into a per-column-chunk decision:
compute cheap statistics on a bounded sample (head of the chunk) —
cardinality, run count, value range, max delta, and *measured*
zstd/FSST compressibility of the sample — estimate the encoded size of
every applicable codec, and pick the argmin (with a small penalty on
the Python-speed FSST path so C-speed zstd wins near-ties).

Selection cost is O(sample), independent of chunk size, so it
amortizes at 100 TB exactly like the reference's per-blob batch cut
(reference src/sink.rs:100-106).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import envelope as env
from . import fsst as _fsst
from . import strcodecs as sc
from .primitives import bits_needed, zigzag_encode

SAMPLE_VALUES = 1 << 16
ZSTD_SAMPLE_BYTES = 1 << 16
FSST_SAMPLE_BYTES = 1 << 14
FSST_PENALTY = 1.3  # python-path speed tax vs C-speed zstd
_OVERHEAD = 128


def _zstd_ratio(data: bytes) -> float:
    if len(data) < 64:
        return 1.0
    sample = data[:ZSTD_SAMPLE_BYTES]
    # probe at the REAL level: a level-1 probe (tried in r6, ~18%
    # faster kernel) ranks identically on short-range-redundant data
    # but its fast match finder MISSES long-range repeats (measured: a
    # 37 KB-period repetition read 0.26 at level 1 vs ~0.13 at level
    # 3, flipping str_zstd -> str_dict for +1% table size) — and
    # multi-KB boilerplate periods are exactly the web-corpus regime
    # this engine targets. Ratio beats probe speed.
    return min(1.0, len(sc.zstd_compress(sample)) / len(sample))


def _fsst_ratio(data: bytes) -> float:
    """Measured FSST ratio on the sample head. Its cost is one
    symbol-table build (a numpy ``unique`` per symbol length) plus one
    compress of FSST_SAMPLE_BYTES."""
    if len(data) < 256:
        return 1.0
    sample = data[:FSST_SAMPLE_BYTES]
    table = _fsst.build_symbol_table(sample)
    enc = _fsst.fsst_compress(sample, table)
    return min(2.0, len(enc) / len(sample))


def _int_estimates(iv: np.ndarray, n_total: int, byte_width: int) -> dict[str, float]:
    n = len(iv)
    if n == 0:
        return {"plain": _OVERHEAD}
    lo, hi = int(iv.min()), int(iv.max())
    rng = (hi - lo) & 0xFFFFFFFFFFFFFFFF
    vw = bits_needed(rng)
    runs = 1 + int(np.count_nonzero(iv[1:] != iv[:-1]))
    run_scale = n_total / n
    distinct = len(np.unique(iv))
    with np.errstate(over="ignore"):
        deltas = zigzag_encode(np.diff(iv))
    dw = bits_needed(int(deltas.max())) if len(deltas) else 0
    cw = bits_needed(distinct - 1)
    est = {
        "bitpack": n_total * vw / 8 + _OVERHEAD,
        "delta": n_total * dw / 8 + _OVERHEAD,
        "rle": runs * run_scale * (vw + bits_needed(n_total)) / 8 + _OVERHEAD,
        "plain": n_total * byte_width + _OVERHEAD * 3,
    }
    if distinct < n / 2:
        est["dictint"] = distinct * vw / 8 + n_total * cw / 8 + _OVERHEAD
    raw = iv.tobytes()
    est["zstd"] = n_total * byte_width * _zstd_ratio(raw) + _OVERHEAD * 3
    return est


def _str_estimates(lens: np.ndarray, data: bytes, n_total: int, total_bytes_est: float) -> dict[str, float]:
    n = len(lens)
    if n == 0:
        return {"plain": _OVERHEAD}
    lens_cost = n_total * max(1, bits_needed(int(lens.max()))) / 8
    est = {
        "str_plain": total_bytes_est + lens_cost + _OVERHEAD,
        "str_zstd": total_bytes_est * _zstd_ratio(data) + lens_cost + _OVERHEAD,
    }
    # cardinality probe on the sampled slots — Arrow C++ unique over a
    # zero-copy binary view (r6: the per-slot Python slice+set loop was
    # 13% of the whole encode kernel)
    if n > 8:
        offs = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
        probe = min(n, 4096)
        if offs[probe] < 2**31:
            view = pa.Array.from_buffers(
                pa.binary(), probe,
                [None, pa.py_buffer(offs[: probe + 1].astype(np.int32)),
                 pa.py_buffer(data)],
            )
        else:  # >2 GiB of sampled bytes: int32 offsets would wrap
            view = pa.Array.from_buffers(
                pa.large_binary(), probe,
                [None, pa.py_buffer(offs[: probe + 1]), pa.py_buffer(data)],
            )
        uniq = pc.unique(view)
        card = len(uniq)
        if card < probe / 2:
            card_total = card  # low-card columns: sample card ≈ total card
            cw = bits_needed(card_total - 1)
            dict_bytes = (  # dict values zstd'd
                int(pc.sum(pc.binary_length(uniq)).as_py() or 0) * 0.6
            )
            est["str_dict"] = dict_bytes + n_total * max(1, cw) / 8 + _OVERHEAD
        if card > probe / 4:  # texty, not low-card → FSST candidate
            est["str_fsst"] = (
                total_bytes_est * _fsst_ratio(data) * FSST_PENALTY
                + lens_cost
                + 2048
            )
    return est


def choose_codec(arr: pa.Array, kind: str) -> str:
    n = len(arr)
    if n == 0:
        return "plain"
    if kind == "other":
        # nested types: IPC, optionally zstd'd — measure on a slice
        sample = env._ipc_bytes(arr.slice(0, min(n, 4096)))
        return "zstd" if _zstd_ratio(sample) < 0.85 else "plain"

    sample = arr.slice(0, min(n, SAMPLE_VALUES))
    scale = n / len(sample)
    if kind in ("int", "bool", "float"):
        iv = env._int_view(sample, kind)
        bw = 1 if kind == "bool" else np.dtype(env._np_dtype(arr.type)).itemsize
        est = _int_estimates(iv, n, bw)
        if kind == "float":
            est.pop("bitpack", None)
            est.pop("delta", None)
            if env._np_dtype(arr.type) == np.float64:
                from .alp import alp_estimate
                from .xor import xor_estimate

                est["alp"] = alp_estimate(iv.view(np.float64), n)
                est["xorf"] = xor_estimate(iv, n)
    else:
        lens, data = env._str_views(sample)
        est = _str_estimates(lens, data, n, len(data) * scale)
    return min(est.items(), key=lambda kv: kv[1])[0]
