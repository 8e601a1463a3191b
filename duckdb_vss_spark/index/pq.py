"""Quantization codecs for the IVF artifact: PQ, SQ8 and b1.

A beyond-reference scale extension (the reference's HNSW keeps full f32
vectors in RAM, reference: src/hnsw/hnsw_index.cpp:700-724 — fine for one
node, not for 100 TB): a quantized index stores a short code per row in its
OWN parquet columns next to the full vector, which makes the compression a
*column-pruning* story Spark already knows how to execute — the hot scan
selects only ``(id, <codec columns>)`` and parquet never materializes the
heavy ``vec`` column (asserted in tests/test_pq.py).

Each layout is one small codec object (:class:`PQ`, :class:`SQ8`,
:class:`B1`) that owns its parquet columns and schema suffix, its ``.npy``
artifact, training and encoding, its manifest re-rank key with the build
default, and ONE batch scorer, ``scorer(qmat, metric) -> prep(pdf) ->
score(q0, q1)``, returning ``(n, q1 - q0)`` approximate scores in the
metric's polarity. Every quantized scan runs that scorer: the point search
(``IVFIndex._quantized_search``, one query), the broadcast index join and
the distributed join's SQ8 cells (``operators/knn.py``, through the shared
``fold_topk``), and the build-time ``target_recall`` probe
(``ivf._auto_rerank``).

Scores returned to the user are always exact: the scorer picks a shortlist
of ``k * rerank`` rows per query, and the caller re-scores it with the full
vectors — only *membership* is approximate, the same contract as the flat
index and the reference (src/hnsw/hnsw_optimize_scan.cpp:164).

- **PQ** (``pq_m``): each vector is split into ``m`` subspaces, each
  quantized to 1 byte against a 256-codeword codebook trained on the build
  sample; the scan reads ``m`` bytes (+ a stored norm) per row. Asymmetric
  distance (ADC) lookup tables per query: ``l2sq`` lut[j, c] =
  ||q_j - cb[j, c]||^2; ``ip`` lut[j, c] = <q_j, cb[j, c]>; ``cosine`` the
  ip numerator divided by ``|q| * vnorm`` (the true vector norm is stored
  per row at encode time, so only the numerator is quantized). A row's
  score is the sum over subspaces of its codes' table entries, added in
  subspace order.
- **SQ8** (``quantization: 'i8'``, the storage analog of usearch's i8
  scalar kind, which the reference's map lists only as a TODO,
  src/hnsw/hnsw_index.cpp:277-290): a ``dim``-byte int8 code per row with a
  per-DIMENSION scale trained on the build sample (exact reconstruction
  bound |x - deq(x)| <= 1/(2*scale_d)), scored by dequantizing and one
  GEMM — 4x instead of PQ's 32x compression, no codebooks.
- **b1** (``quantization: 'b1'``, usearch's b1x8 scalar kind, vendored by
  the reference at usearch/index_plugins.hpp:125,228 but unmapped): bit d of
  a code is set iff x_d > threshold_d (the per-dimension mean of the build
  sample), packed little-endian into uint64 words; scored by Hamming
  distance (table-driven popcount), a monotone proxy for angular order,
  negated for descending metrics.
"""

from __future__ import annotations

import numpy as np

from ..functions.distance import METRIC_IS_DESCENDING
from ..functions.kernels import pairwise_scores

__all__ = ["PQ", "SQ8", "B1", "PQ_KS", "b1_words", "from_options", "load"]

PQ_KS = 256  # 8-bit codes: one byte per subspace
_TRAIN_CAP = 32768  # points used to train each subspace codebook
_TRAIN_ITERS = 10
_POP8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)


def _codes(pdf, col: str, dtype, width: int) -> np.ndarray:
    """A batch's binary code column as an (n, width) ``dtype`` matrix."""
    return np.frombuffer(b"".join(pdf[col].tolist()), dtype=dtype).reshape(-1, width)


class _Codec:
    """One quantized layout; ``array`` is its trained state, saved as
    ``artifact`` in the index version dir."""

    scan_cols: tuple  # parquet columns the quantized scan reads
    schema: str  # their DDL, appended to the data schema
    artifact: str
    rerank_key: str  # manifest key of the shortlist multiplier
    rerank_default: int

    def __init__(self, array: np.ndarray):
        self.array = array

    def rerank(self, manifest: dict) -> int:
        """Shortlist multiplier: the scan keeps ``k * rerank`` rows per
        query for the exact re-rank."""
        return int(manifest.get(self.rerank_key, self.rerank_default))

    def manifest_fields(self, opts: dict) -> dict:
        """What a build records in the manifest for this layout."""
        return {**self._layout_fields(), self.rerank_key: int(opts.get(self.rerank_key, self.rerank_default))}

    def encode_columns(self, mat: np.ndarray) -> dict:
        """(n, dim) vectors -> ``{column: values}`` of the codec columns."""
        return {self.scan_cols[0]: [c.tobytes() for c in self.encode(mat)]}


class PQ(_Codec):
    """Product quantization; ``array`` is the (m, 256, dim // m) float64
    codebooks."""

    scan_cols = ("codes", "vnorm")
    schema = ", codes binary, vnorm float"
    artifact = "pq_codebooks.npy"
    rerank_key, rerank_default = "pq_rerank", 4

    @classmethod
    def train(cls, sample: np.ndarray, m: int, seed: int = 42) -> "PQ":
        """Per-subspace k-means codebooks on the (n, dim) build sample.
        ``dim`` must be divisible by ``m``."""
        from .ivf import kmeans  # late import: ivf imports this module

        n, dim = sample.shape
        if dim % m != 0:
            raise ValueError(f"pq_m={m} must divide the vector dimension {dim}")
        dsub = dim // m
        rng = np.random.default_rng(seed)
        x = sample[rng.permutation(n)[:_TRAIN_CAP]] if n > _TRAIN_CAP else sample
        books = np.empty((m, PQ_KS, dsub), dtype=np.float64)
        # NOTE (round 12): a per-subspace thread pool was tried and measured
        # SLOWER (1.27 s vs 1.03 s at the bench geometry) — the k-means++
        # seeding loop is 256 sequential tiny numpy dispatches per subspace,
        # GIL-bound, so threads only add contention. The cost is
        # sample-bounded (a build-time constant, not a scale dimension).
        for j in range(m):
            sub = np.ascontiguousarray(x[:, j * dsub : (j + 1) * dsub])
            cb = kmeans(sub, PQ_KS, iters=_TRAIN_ITERS, seed=seed + j)
            if cb.shape[0] < PQ_KS:  # fewer distinct points than codewords
                pad = cb[np.zeros(PQ_KS - cb.shape[0], dtype=np.int64)]
                cb = np.vstack([cb, pad])
            books[j] = cb
        return cls(books)

    @property
    def label(self) -> str:
        return f"pq_m={self.array.shape[0]} (ADC+rerank)"

    def _layout_fields(self) -> dict:
        return {"pq_m": int(self.array.shape[0])}

    def encode(self, mat: np.ndarray) -> np.ndarray:
        """(n, dim) vectors -> (n, m) uint8 codes (nearest codeword per
        subspace, blocked GEMM per subspace)."""
        books = self.array
        n, dim = mat.shape
        m, ks, dsub = books.shape
        codes = np.empty((n, m), dtype=np.uint8)
        # distance/GEMM buffers shared across subspaces (same values, same
        # association as the one-expression form — just ``out=`` targets):
        # fresh multi-MB temporaries per subspace re-fault their pages on
        # every loop pass (see ivf._nearest_centroid, round 13)
        dt = np.result_type(mat, books)
        d2 = np.empty((n, ks), dtype=dt)
        g = np.empty((n, ks), dtype=dt)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            cb = books[j]
            np.add((sub * sub).sum(1)[:, None], (cb * cb).sum(1)[None, :], out=d2)
            np.matmul(sub, cb.T, out=g)
            np.multiply(g, 2.0, out=g)
            np.subtract(d2, g, out=d2)
            codes[:, j] = d2.argmin(axis=1).astype(np.uint8)
        return codes

    def encode_columns(self, mat: np.ndarray) -> dict:
        return {
            "codes": [c.tobytes() for c in self.encode(mat)],
            "vnorm": np.linalg.norm(mat, axis=1).astype(np.float32),
        }

    def scorer(self, qmat: np.ndarray, metric: str):
        """ADC: per-query lookup tables built once (``nq * m * 256``
        doubles), then per batch one table gather per subspace, summed in
        subspace order — never an ``(n, chunk, m)`` gather. ``cosine``
        divides the quantized numerator by the stored true vector norm."""
        books = self.array
        m, ks, dsub = books.shape
        nq = len(qmat)
        qsub = qmat.reshape(nq, m, dsub)
        lut = np.empty((nq, m, ks))
        for j in range(m):
            if metric == "l2sq":
                diff = qsub[:, j, None, :] - books[j][None, :, :]  # (nq, ks, dsub)
                lut[:, j, :] = (diff * diff).sum(axis=2)
            else:  # ip numerator serves both 'ip' and 'cosine'
                lut[:, j, :] = qsub[:, j, :] @ books[j].T
        qnorms = np.linalg.norm(qmat, axis=1) if metric == "cosine" else None

        def prep(pdf):
            codes = _codes(pdf, "codes", np.uint8, m)
            vn = pdf["vnorm"].to_numpy(np.float64) if qnorms is not None else None

            def score(q0, q1):
                s = np.zeros((len(codes), q1 - q0))
                for j in range(m):
                    s += lut[q0:q1, j, :][:, codes[:, j]].T  # (n, chunk)
                if vn is not None:
                    s = s / np.maximum(vn[:, None] * qnorms[q0:q1][None, :], 1e-30)
                return s

            return score

        return prep


class SQ8(_Codec):
    """Scalar quantization to int8; ``array`` is the per-dimension scale."""

    scan_cols = ("sq",)
    schema = ", sq binary"
    artifact = "sq_scale.npy"
    rerank_key, rerank_default = "sq_rerank", 4
    label = "quantization=i8 (SQ8+rerank)"

    @classmethod
    def train(cls, sample: np.ndarray) -> "SQ8":
        """scale_d = 127 / max|x_d| over the build sample (clamped away from
        0). Out-of-sample values saturate at +-127 — membership-harmless
        given the exact re-rank."""
        return cls(127.0 / np.maximum(np.abs(sample).max(axis=0), 1e-30))

    def _layout_fields(self) -> dict:
        return {"quantization": "i8"}

    def encode(self, mat: np.ndarray) -> np.ndarray:
        """(n, dim) float -> (n, dim) int8 codes."""
        return np.clip(np.rint(mat * self.array[None, :]), -127, 127).astype(np.int8)

    def decode(self, pdf) -> np.ndarray:
        """A batch's ``sq`` codes -> (n, dim) float64 dequantized matrix."""
        scale = self.array
        return _codes(pdf, "sq", np.int8, scale.shape[0]).astype(np.float64) / scale[None, :]

    def scorer(self, qmat: np.ndarray, metric: str):
        """Per batch: dequantize once, then one GEMM per probe chunk
        (``kernels.pairwise_scores``)."""

        def prep(pdf):
            mat = self.decode(pdf)
            return lambda q0, q1: pairwise_scores(mat, qmat[q0:q1], metric)

        return prep


def b1_words(dim: int) -> int:
    """uint64 words per b1 code for a given dimension."""
    return (dim + 63) // 64


class B1(_Codec):
    """Binary (sign-bit) quantization; ``array`` is the per-dimension
    thresholds."""

    scan_cols = ("b1",)
    schema = ", b1 binary"
    artifact = "b1_thresholds.npy"
    # 1-bit codes are far coarser than i8: a wider exact-re-rank shortlist
    # is the default posture (same lever as pq_rerank)
    rerank_key, rerank_default = "b1_rerank", 16
    label = "quantization=b1 (Hamming+rerank)"

    @classmethod
    def train(cls, sample: np.ndarray) -> "B1":
        """Thresholds = the per-dimension mean of the build sample: each bit
        splits the sample mass in half-ish, the maximum-entropy single-bit
        code for that dimension."""
        return cls(sample.mean(axis=0))

    def _layout_fields(self) -> dict:
        return {"quantization": "b1"}

    def encode(self, mat: np.ndarray) -> np.ndarray:
        """(n, dim) float -> (n, b1_words(dim)) uint64 packed sign codes."""
        bits = mat > self.array[None, :]
        n, dim = bits.shape
        pad = (-dim) % 64
        if pad:
            bits = np.concatenate([bits, np.zeros((n, pad), dtype=bool)], axis=1)
        packed = np.packbits(bits, axis=1, bitorder="little")
        return np.ascontiguousarray(packed).view(np.uint64)

    def scorer(self, qmat: np.ndarray, metric: str):
        """Hamming distance to each query's code by table-driven popcount
        on the byte view (no numpy>=2 bit_count dependency), as float64;
        negated for descending metrics so the shortlist's polarity holds."""
        qcodes = self.encode(np.asarray(qmat, dtype=np.float64))
        sign = -1.0 if METRIC_IS_DESCENDING[metric] else 1.0

        def prep(pdf):
            codes = _codes(pdf, "b1", np.uint64, qcodes.shape[1])

            def score(q0, q1):
                x = np.ascontiguousarray(np.bitwise_xor(codes[:, None, :], qcodes[None, q0:q1, :]))
                h = _POP8[x.view(np.uint8)].reshape(len(codes), q1 - q0, -1).sum(axis=2)
                return sign * h.astype(np.float64)

            return score

        return prep


def from_options(opts: dict, sample: np.ndarray, seed: int):
    """The codec a build's options ask for, trained on the (n, dim) build
    sample; None for an unquantized index."""
    pq_m, qz = opts.get("pq_m"), opts.get("quantization")
    if qz and pq_m:
        raise ValueError("IVF options 'pq_m' and 'quantization' are mutually exclusive")
    if pq_m:
        return PQ.train(sample, pq_m, seed=seed)
    if qz == "i8":
        return SQ8.train(sample)
    if qz == "b1":
        return B1.train(sample)
    return None


def load(manifest: dict, read_npy):
    """The codec an index manifest names, its artifact read by
    ``read_npy(file name)``; None for an unquantized index. Manifests from
    before 'b1' wrote ``quantization`` only as 'i8', so any other truthy
    value loads as SQ8."""
    qz = manifest.get("quantization")
    cls = PQ if manifest.get("pq_m") else B1 if qz == "b1" else SQ8 if qz else None
    return None if cls is None else cls(read_npy(cls.artifact))
