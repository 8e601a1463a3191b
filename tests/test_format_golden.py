"""The on-disk format, pinned: a fixed write sequence on an IVF index
(build, insert, delete, incremental compact) and on a MinHash store
(append twice, drop, vacuum) leaves exactly the ``manifest.json`` bytes and
the directory set recorded in ``format_golden.json``. Files are left out of
the set (parquet part names carry a per-write UUID); the manifests hold no
path, so nothing is stripped from them.

Regenerate the expected values (only when the format is meant to change)
with ``python -m tests.test_format_golden tests/format_golden.json``."""

from __future__ import annotations

import json
import os
import sys

import numpy as np

GOLDEN = os.path.join(os.path.dirname(__file__), "format_golden.json")
DIM = 8


def _dirs(root: str) -> list:
    """Every directory under ``root``, relative to it, sorted."""
    return sorted(os.path.relpath(os.path.join(r, d), root) for r, ds, _ in os.walk(root) for d in ds)


def _manifest(root: str) -> str:
    with open(os.path.join(root, "manifest.json"), encoding="utf-8") as f:
        return f.read()


def layouts(spark, base: str) -> dict:
    """Run the fixed sequences under ``base`` and return each artifact's
    manifest text and directory set."""
    from duckdb_vss_spark import MinHashStore
    from duckdb_vss_spark.index.ivf import build_ivf

    rng = np.random.default_rng(5)
    vec = rng.standard_normal((70, DIM)).astype(np.float32)
    rows = lambda lo, hi: spark.createDataFrame(
        [(i, vec[i].tolist()) for i in range(lo, hi)], "id long, vec array<float>"
    )
    ivf_root = os.path.join(base, "ivf")
    idx = build_ivf(rows(0, 60), "vec", "id", ivf_root, nlist=6)
    idx.insert(rows(60, 70), "vec", "id")
    idx.delete(spark, [3, 17, 64])
    idx.compact_incremental(spark)

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa"]
    docs = lambda lo, hi: spark.createDataFrame(
        [(i, " ".join(words[(i * j) % 10] for j in range(1, 12))) for i in range(lo, hi)],
        "doc_id long, text string",
    )
    store_root = os.path.join(base, "store")
    store = MinHashStore.create(spark, store_root)
    store.append_snapshot(docs(0, 12), "text", "doc_id", "s1")
    store.append_snapshot(docs(12, 20), "text", "doc_id", "s2")
    store.drop_snapshot("s1")
    store.vacuum()
    return {
        name: {"manifest": _manifest(root), "dirs": _dirs(root)}
        for name, root in (("ivf", ivf_root), ("minhash_store", store_root))
    }


def test_on_disk_format_matches_golden(spark, tmp_path):
    with open(GOLDEN, encoding="utf-8") as f:
        want = json.load(f)
    got = layouts(spark, str(tmp_path))
    for name in want:
        assert got[name]["manifest"] == want[name]["manifest"], name
        assert got[name]["dirs"] == want[name]["dirs"], name


if __name__ == "__main__":
    import tempfile

    from duckdb_vss_spark.session import get_spark

    with tempfile.TemporaryDirectory() as d:
        out = layouts(get_spark("format-golden", shuffle_partitions=8), d)
    with open(sys.argv[1], "w", encoding="utf-8") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")
