"""MinHashStore: incremental cross-snapshot dedup artifact."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark import oracle as O
from duckdb_vss_spark.index import dedup_store
from duckdb_vss_spark.index.dedup_store import MinHashStore

from .conftest import SF_DIR


@pytest.fixture()
def store_root():
    with tempfile.TemporaryDirectory(prefix="mhstore_") as d:
        yield d + "/store"


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


BASE = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "spark shuffles data between executors when wide dependencies appear in plans"),
    (3, "completely unrelated text about cooking pasta with garlic and olive oil"),
]
NEW = [
    # exact copy of doc 1 -> est_jaccard 1.0
    (101, "the quick brown fox jumps over the lazy dog near the river bank today"),
    # light edit of doc 2 -> high but < 1.0
    (102, "spark shuffles data between executors when wide dependencies appear in query plans"),
    # fresh text -> no match
    (103, "a brand new document mentioning neither foxes nor executors at all whatsoever"),
]


def test_lifecycle_and_matching(spark, store_root):
    st = MinHashStore.create(spark, store_root, num_perm=16, bands=4)
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", snapshot="cc-2026-01")
    assert st.info()["n_docs"] == 3

    m = MinHashStore.open(spark, store_root).match_against(
        _mk(spark, NEW), "text", "doc_id", threshold=0.5
    )
    hits = {(r["id"], r["store_id"]): r["est_jaccard"] for r in m.collect()}
    assert hits[(101, 1)] == 1.0
    assert all(r[0] != 103 for r in hits)
    snaps = {r["snapshot"] for r in m.collect()}
    assert snaps == {"cc-2026-01"}


def test_append_accumulates_and_name_collision(spark, store_root):
    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    st.append_snapshot(_mk(spark, [(10, BASE[2][1])]), "text", "doc_id", "s2")
    assert st.info()["n_docs"] == 4
    st.info()["snapshots"].clear()  # info() is a copy: the store is untouched
    assert len(st.info()["snapshots"]) == 2
    with pytest.raises(ValueError, match="already in store"):
        st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    # doc 3's copy now matches across snapshots
    m = st.match_against(_mk(spark, [(200, BASE[2][1])]), "text", "doc_id")
    got = {(r["id"], r["store_id"], r["snapshot"]) for r in m.collect()}
    assert (200, 3, "s1") in got and (200, 10, "s2") in got


def test_empty_store_and_flagging(spark, store_root):
    st = MinHashStore.create(spark, store_root)
    assert st.match_against(_mk(spark, NEW), "text", "doc_id").count() == 0
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    flagged = st.flag_batch(_mk(spark, NEW), "text", "doc_id")
    f = {r["doc_id"]: r["dup_of_store"] for r in flagged.collect()}
    assert f[101] is True and f[103] is False
    assert flagged.count() == 3  # flag, don't drop


def test_create_guard_and_overwrite(spark, store_root):
    MinHashStore.create(spark, store_root)
    with pytest.raises(ValueError, match="already exists"):
        MinHashStore.create(spark, store_root)
    MinHashStore.create(spark, store_root, overwrite=True)
    with pytest.raises(ValueError):
        MinHashStore.create(spark, store_root, num_perm=16, bands=5, overwrite=True)


def test_matches_duckdb_estimator(spark, ddb, store_root):
    """Cross-engine: store old = even docs of the sf0.001 fixture, match odd
    docs; duckdb recomputes signatures for both halves and the same
    agreement estimator."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    st = MinHashStore.create(spark, store_root, num_perm=16, bands=4)
    st.append_snapshot(docs.filter("doc_id % 2 = 0"), "text", "doc_id", "old")
    got = sorted(
        (r["id"], r["store_id"], round(r["est_jaccard"], 9))
        for r in st.match_against(
            docs.filter("doc_id % 2 = 1"), "text", "doc_id", threshold=0.5
        ).collect()
    )
    h1, h2 = O.sql_shingle_hash_halves("text", 3)
    sql = f"""
        WITH sig AS MATERIALIZED (
          SELECT doc_id, doc_id % 2 = 0 AS old,
                 {O.sql_minhash_from_halves('h1s', 'h2s', 16)} AS sig
          FROM (SELECT doc_id, {h1} AS h1s, {h2} AS h2s FROM documents)
        ),
        banded AS (
          SELECT doc_id, old, b,
                 {O.sql_hash64("array_to_string(list_transform(sig[b*4+1:b*4+4], x -> x::VARCHAR), ',')")} AS bucket
          FROM sig, range(0, 4) r(b)
        ),
        cand AS (
          SELECT DISTINCT n.doc_id AS id, o.doc_id AS store_id
          FROM banded n JOIN banded o USING (b, bucket)
          WHERE NOT n.old AND o.old
        )
        SELECT * FROM (
          SELECT id, store_id,
                 list_sum(list_transform(range(1, 17),
                          i -> CASE WHEN sn.sig[i] = so.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est
          FROM cand JOIN sig sn ON sn.doc_id = id JOIN sig so ON so.doc_id = store_id
        ) WHERE est >= 0.5
    """
    want = sorted((r[0], r[1], round(r[2], 9)) for r in ddb.execute(sql).fetchall())
    assert got == want


def test_drop_snapshot_and_vacuum(spark, store_root):
    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    st.append_snapshot(_mk(spark, [(10, BASE[0][1])]), "text", "doc_id", "s2")
    assert st.info()["n_docs"] == 4
    st.drop_snapshot("s1")
    assert st.info()["n_docs"] == 1
    # matches now come only from the surviving snapshot
    m = st.match_against(_mk(spark, [(100, BASE[0][1])]), "text", "doc_id")
    assert {(r["store_id"], r["snapshot"]) for r in m.collect()} == {(10, "s2")}
    # a reopened handle sees the drop (manifest is the commit point)
    assert MinHashStore.open(spark, store_root).info()["n_docs"] == 1
    with pytest.raises(ValueError, match="not in store"):
        st.drop_snapshot("s1")
    deleted = st.vacuum()
    assert deleted == ["snap-000000"]
    # store still fully functional after vacuum
    assert st.match_against(_mk(spark, [(100, BASE[0][1])]), "text", "doc_id").count() == 1


def test_empty_snapshot_commits(spark, store_root):
    """A batch where every row was filtered (all dups of history) still
    commits an empty snapshot — the crash found by the 500k crawl-ingest
    measurement (partitioned write of 0 rows leaves no readable files)."""
    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    st.append_snapshot(_mk(spark, []), "text", "doc_id", "s2")
    info = st.info()
    assert [s["name"] for s in info["snapshots"]] == ["s1", "s2"]
    assert info["snapshots"][-1]["n_docs"] == 0 and info["n_docs"] == 3
    # store still fully functional: reads skip the fileless snapshot dir
    m = st.match_against(_mk(spark, [(9, BASE[0][1])]), "text", "doc_id")
    assert m.count() == 1
    assert MinHashStore.open(spark, store_root).info()["n_docs"] == 3


def test_append_snapshot_needs_no_read_back(spark, store_root, monkeypatch):
    """The commit count comes from the write job itself (Observation
    fold, round 12), so a transient read failure of the freshly written
    snapshot dir cannot corrupt the commit — the historical failure mode
    (a read error after a good write silently committing n_docs=0, which
    made _store_df skip the snapshot forever — ADVICE r5) is structurally
    gone: the commit succeeds with the exact count even when every read
    of the snapshot dir fails."""
    import pyspark.sql.readwriter as rw

    st = MinHashStore.create(spark, store_root)
    orig = rw.DataFrameReader.parquet

    def boom(self, *paths, **kw):
        if any("snap-" in str(p) for p in paths):
            raise RuntimeError("transient fs failure")
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", boom)
    entry = st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    monkeypatch.undo()
    assert entry["n_docs"] == 3
    assert st.info()["snapshots"][-1]["n_docs"] == 3
    # and the committed fingerprints are really there for the next batch
    assert MinHashStore.open(spark, store_root).info()["n_docs"] == 3


# ---------------------------------------------------------------- audio store


def _aclip(i, n=4096):
    import numpy as np

    rng = np.random.default_rng(70 + i)
    t = np.arange(n)
    x = 0.4 * np.sin(2 * np.pi * (0.011 + 0.002 * i) * t) + 0.05 * rng.standard_normal(n)
    return np.clip(np.round(x * 32768), -32768, 32767).astype(np.int16)


def _awavs(spark, items):
    import pandas as pd

    from duckdb_vss_spark.operators import multimodal as M

    return spark.createDataFrame(pd.DataFrame({
        "clip_id": [i for i, _ in items],
        "content": [M.encode_wav(x, 8000) for _, x in items],
    }))


def test_audio_store_lifecycle_and_matching(spark, tmp_path):
    import numpy as np

    from duckdb_vss_spark.index.audio_store import AudioFingerprintStore

    root = str(tmp_path / "astore")
    st = AudioFingerprintStore.create(spark, root)
    # history: clips 0..4
    st.append_snapshot(
        _awavs(spark, [(i, _aclip(i)) for i in range(5)]), "content", "clip_id", "day-0"
    )
    assert st.info()["n_clips"] == 5
    # batch: a time-shifted copy of history clip 2 + one fresh clip
    shifted = np.concatenate(
        [np.zeros(512, dtype=np.int16), _aclip(2)]
    )[: 4096]
    batch = _awavs(spark, [(100, shifted), (101, _aclip(9))])
    m = {r["id"]: r for r in
         st.match_against(batch, "content", "clip_id", min_matches=5).collect()}
    assert 100 in m and m[100]["store_id"] == 2 and m[100]["snapshot"] == "day-0"
    assert m[100]["offset"] == 2  # 512 samples = 2 frames of 256
    assert 101 not in m
    flagged = {r["clip_id"]: r["dup_of_store"] for r in
               st.flag_batch(batch, "content", "clip_id", min_matches=5).collect()}
    assert flagged == {100: True, 101: False}
    # persistence: a fresh handle sees the same history
    st2 = AudioFingerprintStore.open(spark, root)
    assert st2.match_against(batch, "content", "clip_id", min_matches=5).count() == 1
    # retention: drop the snapshot -> no more matches; vacuum reclaims
    st2.drop_snapshot("day-0")
    assert st2.match_against(batch, "content", "clip_id", min_matches=5).count() == 0
    assert st2.vacuum() == ["snap-000000"]


@pytest.mark.slow  # opt-in: heavy steady-state/property tier (see pytest.ini)
def test_audio_store_incremental_loop_via_audio_curate(spark, tmp_path):
    """Batch N+1 dedups against what batch N KEPT: the audio edition of
    the crawl_ingest steady-state loop."""
    from duckdb_vss_spark.index.audio_store import AudioFingerprintStore
    from duckdb_vss_spark.pipelines import audio_curate

    st = AudioFingerprintStore.create(spark, str(tmp_path / "astore2"))
    b0 = _awavs(spark, [(i, _aclip(i)) for i in range(3)])
    out0 = audio_curate(b0, store=st, snapshot="b0")
    assert out0.filter("audio_keep").count() == 3
    assert st.info()["snapshots"][-1]["n_clips"] == 3
    # batch 1: an exact copy of batch-0 clip 1, plus a fresh clip
    b1 = _awavs(spark, [(200, _aclip(1)), (201, _aclip(8))])
    out1 = {r["clip_id"]: r for r in
            audio_curate(b1, store=st, snapshot="b1", min_matches=5).collect()}
    assert out1[200]["dup_of_store"] and not out1[200]["audio_keep"]
    assert not out1[201]["dup_of_store"] and out1[201]["audio_keep"]
    assert st.info()["snapshots"][-1]["n_clips"] == 1  # only the fresh clip committed


# --------------------------------------------------- snapshot dir allocation


def test_drop_then_append_never_reuses_dir(spark, store_root):
    """Dir names come from a persisted monotonic counter, NOT the snapshot
    count: after drop(s1) the next append must get a FRESH dir, or
    mode='overwrite' destroys a LIVE snapshot's data (ADVICE r9, high)."""
    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, [(1, BASE[0][1])]), "text", "doc_id", "s1")
    st.append_snapshot(_mk(spark, [(2, BASE[1][1])]), "text", "doc_id", "s2")
    st.drop_snapshot("s1")
    st.append_snapshot(_mk(spark, [(3, BASE[2][1])]), "text", "doc_id", "s3")
    dirs = [s["dir"] for s in st.info()["snapshots"]]
    assert dirs == ["snap-000001", "snap-000002"]  # s2 untouched, s3 fresh
    # s2's fingerprint rows survived: doc 2's text still matches from s2
    m = st.match_against(_mk(spark, [(90, BASE[1][1])]), "text", "doc_id")
    assert {(r["store_id"], r["snapshot"]) for r in m.collect()} == {(2, "s2")}
    # the drop-then-append pattern holds across a reopen too
    st2 = MinHashStore.open(spark, store_root)
    st2.drop_snapshot("s2")
    st2.append_snapshot(_mk(spark, [(4, BASE[0][1])]), "text", "doc_id", "s4")
    assert [s["dir"] for s in st2.info()["snapshots"]] == [
        "snap-000002", "snap-000003"
    ]
    assert sorted(st2.vacuum()) == ["snap-000000", "snap-000001"]


def test_legacy_manifest_without_counter_migrates_from_disk(spark, store_root):
    """A pre-counter manifest allocates 1 + max snap-* index ON DISK
    (orphans included), so neither a live dir nor a vacuum-pending orphan
    is ever overwritten."""
    from duckdb_vss_spark.index import fs

    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, [(1, BASE[0][1])]), "text", "doc_id", "s1")
    st.append_snapshot(_mk(spark, [(2, BASE[1][1])]), "text", "doc_id", "s2")
    st.drop_snapshot("s1")  # snap-000000 is now an on-disk orphan
    # simulate a legacy store: strip the counter and rewrite the manifest
    del st.manifest["next_snap_id"]
    fs.write_json(spark, fs.join(store_root, "manifest.json"), st.manifest)
    st3 = MinHashStore.open(spark, store_root)
    assert "next_snap_id" not in st3.manifest
    st3.append_snapshot(_mk(spark, [(3, BASE[2][1])]), "text", "doc_id", "s3")
    assert st3.info()["snapshots"][-1]["dir"] == "snap-000002"
    assert st3.info()["next_snap_id"] == 3


def _one_row_kinds(spark):
    """Per store kind: the class, one-row append/match helpers keyed by an
    item id (1-3, each a distinct item), and an empty-batch append. Image
    and video take precomputed hashes (no decode)."""
    import numpy as np

    from duckdb_vss_spark import (
        AudioFingerprintStore, ImageHashStore, VideoFingerprintStore,
    )

    def img(rows):
        return spark.createDataFrame(rows, "img_id long, phash long")

    def phash(i):
        return int(np.random.default_rng(500 + i).integers(-(2**62), 2**62))

    def frames(rows):
        return spark.createDataFrame(rows, "clip_id long, t long, key long")

    def clip_frames(clip_id, i):
        rng = np.random.default_rng(600 + i)
        return [(clip_id, t, int(v)) for t, v in
                enumerate(rng.integers(-(2**62), 2**62, size=8))]

    return {
        "minhash": (
            MinHashStore,
            lambda st, i, s: st.append_snapshot(
                _mk(spark, [(i, BASE[i - 1][1])]), "text", "doc_id", s),
            lambda st, i: st.match_against(
                _mk(spark, [(90, BASE[i - 1][1])]), "text", "doc_id"),
            lambda st, s: st.append_snapshot(_mk(spark, []), "text", "doc_id", s),
        ),
        "audio": (
            AudioFingerprintStore,
            lambda st, i, s: st.append_snapshot(
                _awavs(spark, [(i, _aclip(i))]), "content", "clip_id", s),
            lambda st, i: st.match_against(
                _awavs(spark, [(90, _aclip(i))]), "content", "clip_id", min_matches=5),
            lambda st, s: st.append_snapshot(
                spark.createDataFrame([], "clip_id long, content binary"),
                "content", "clip_id", s),
        ),
        "image": (
            ImageHashStore,
            lambda st, i, s: st.append_snapshot(
                img([(i, phash(i))]), "img_id", s, hash_col="phash"),
            lambda st, i: st.match_against(
                img([(90, phash(i))]), "img_id", hash_col="phash"),
            lambda st, s: st.append_snapshot(img([]), "img_id", s, hash_col="phash"),
        ),
        "video": (
            VideoFingerprintStore,
            lambda st, i, s: st.append_snapshot(
                None, "clip_id", s, keys_df=frames(clip_frames(i, i))),
            lambda st, i: st.match_against(
                None, "clip_id", keys_df=frames(clip_frames(90, i)), min_matches=5),
            lambda st, s: st.append_snapshot(None, "clip_id", s, keys_df=frames([])),
        ),
    }


@pytest.mark.parametrize("kind", ["minhash", "minhash-spark", "audio", "image", "video"])
def test_store_lifecycle_contract(spark, tmp_path, monkeypatch, kind):
    """The snapshot lifecycle every store shares, on one-row batches:
    create guard and overwrite, the open format guard, name collision,
    dropping a missing snapshot, drop-then-append never reusing a dir
    (mode='overwrite' would destroy a LIVE snapshot's data), an empty
    batch committing a count of 0, and vacuum deleting exactly the
    orphans. ``minhash-spark`` runs the MinHash case with every batch
    over the driver limit."""
    from duckdb_vss_spark.index import fs

    if kind == "minhash-spark":
        monkeypatch.setattr(dedup_store, "DRIVER_BATCH_DOCS", 0)
        kind = "minhash"
    kinds = _one_row_kinds(spark)
    cls, append, match, append_empty = kinds[kind]
    root = str(tmp_path / kind)
    count_key = cls.COUNT_KEY

    st = cls.create(spark, root)
    with pytest.raises(ValueError, match="already exists"):
        cls.create(spark, root)
    append(st, 1, "s1")
    st = cls.create(spark, root, overwrite=True)
    assert st.info()["snapshots"] == [] and st.info()[count_key] == 0
    assert not [n for n in fs.listdir(spark, root) if n.startswith("snap-")]

    other_kind = "image" if kind == "minhash" else "minhash"
    other = kinds[other_kind][0].create(spark, str(tmp_path / "other"))
    with pytest.raises(ValueError, match=f"not an? {cls.__name__}"):
        cls.open(spark, other.root)

    append(st, 1, "s1")
    append(st, 2, "s2")
    with pytest.raises(ValueError, match="already in store"):
        append(st, 3, "s1")
    with pytest.raises(ValueError, match="not in store"):
        st.drop_snapshot("missing")
    st.drop_snapshot("s1")
    append(st, 3, "s3")
    assert [s["dir"] for s in st.info()["snapshots"]] == [
        "snap-000001", "snap-000002"
    ]  # s2 untouched, s3 fresh
    assert st.info()[count_key] == 2
    # s2's fingerprints survived: a copy of item 2 still matches s2 only
    hits = {(r["store_id"], r["snapshot"]) for r in match(st, 2).collect()}
    assert hits == {(2, "s2")}

    entry = append_empty(st, "s4")
    assert entry[count_key] == 0 and st.info()[count_key] == 2
    fs.mkdirs(spark, fs.join(root, "snap-000099"))  # a crash orphan
    assert sorted(st.vacuum()) == ["snap-000000", "snap-000099"]
    assert sorted(n for n in fs.listdir(spark, root) if n.startswith("snap-")) == [
        "snap-000001", "snap-000002", "snap-000003"
    ]


def test_stale_handle_keeps_other_handles_commits(spark, store_root):
    """Two handles on one store: every write re-reads the manifest, so a
    handle that missed another handle's commits neither reuses its dir,
    nor drops its manifest entry, nor vacuums its data as an orphan."""
    a = MinHashStore.create(spark, store_root)
    b = MinHashStore.open(spark, store_root)
    a.append_snapshot(_mk(spark, [(1, BASE[0][1])]), "text", "doc_id", "s1")
    entry = b.append_snapshot(_mk(spark, [(2, BASE[1][1])]), "text", "doc_id", "s2")
    assert entry["dir"] == "snap-000001"  # not a's snap-000000 again
    b.append_snapshot(_mk(spark, [(3, BASE[2][1])]), "text", "doc_id", "s3")
    # `a` has not seen s2 or s3
    a.drop_snapshot("s3")
    assert a.vacuum() == ["snap-000002"]
    reopened = MinHashStore.open(spark, store_root)
    assert [(s["name"], s["dir"]) for s in reopened.info()["snapshots"]] == [
        ("s1", "snap-000000"), ("s2", "snap-000001")
    ]
    assert reopened.info()["n_docs"] == 2
    for st in (a, b, reopened):
        for i in (1, 2):
            m = st.match_against(_mk(spark, [(90, BASE[i - 1][1])]), "text", "doc_id")
            assert {(r["store_id"], r["snapshot"]) for r in m.collect()} == {(i, f"s{i}")}


def test_empty_store_schema_tracks_string_ids(spark, store_root, tmp_path):
    """match_against on an EMPTY store must return the caller's id dtype
    (string ids would otherwise flip schema between the empty and
    non-empty paths — ADVICE r9, low)."""
    import pandas as pd

    from duckdb_vss_spark.index.audio_store import AudioFingerprintStore
    from duckdb_vss_spark.operators import multimodal as M

    st = MinHashStore.create(spark, store_root)
    sdocs = spark.createDataFrame(
        [("u-1", BASE[0][1])], "doc_id: string, text: string"
    )
    empty = st.match_against(sdocs, "text", "doc_id")
    assert dict(empty.dtypes)["id"] == "string"
    assert dict(empty.dtypes)["store_id"] == "string"
    assert empty.count() == 0
    # flag_batch joins without implicit casts on either path
    assert st.flag_batch(sdocs, "text", "doc_id").collect()[0]["dup_of_store"] is False

    ast = AudioFingerprintStore.create(spark, str(tmp_path / "astore4"))
    sclips = spark.createDataFrame(pd.DataFrame({
        "clip_id": ["c-1"], "content": [M.encode_wav(_aclip(1), 8000)],
    }))
    aempty = ast.match_against(sclips, "content", "clip_id")
    assert dict(aempty.dtypes)["id"] == "string"
    assert dict(aempty.dtypes)["store_id"] == "string"
    assert ast.flag_batch(sclips, "content", "clip_id").collect()[0][
        "dup_of_store"
    ] is False


# ------------------------------------------------ driver path vs Spark path


class TestSparkPath:
    """The MinHash contracts above, with ``DRIVER_BATCH_DOCS`` forced to 0
    so every batch takes the Spark signature pipeline. The module-level
    tests run them at the default limit, on the driver path."""

    @pytest.fixture(autouse=True)
    def _spark_path(self):
        # not the test's own monkeypatch: some of these tests undo theirs
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup_store, "DRIVER_BATCH_DOCS", 0)
            yield

    test_lifecycle_and_matching = staticmethod(test_lifecycle_and_matching)
    test_empty_snapshot_commits = staticmethod(test_empty_snapshot_commits)
    test_empty_store_schema_tracks_string_ids = staticmethod(test_empty_store_schema_tracks_string_ids)
    test_append_snapshot_needs_no_read_back = staticmethod(test_append_snapshot_needs_no_read_back)
    test_stale_handle_keeps_other_handles_commits = staticmethod(
        test_stale_handle_keeps_other_handles_commits
    )


def _both_paths(monkeypatch, fn):
    """``fn()`` at the default limit (driver path), then with the limit
    at 0 (Spark path)."""
    out = [fn()]
    monkeypatch.setattr(dedup_store, "DRIVER_BATCH_DOCS", 0)
    out.append(fn())
    monkeypatch.undo()
    return out


@pytest.mark.parametrize("id_t", dedup_store._LOCAL_ID_TYPES)
def test_driver_and_spark_paths_agree(spark, tmp_path, monkeypatch, id_t):
    """The same flags, pairs, est_jaccard, manifest counts and snapshot
    parquet schema from both paths, for every id type the driver path
    takes. The store is written by the Spark path, as by the previous
    release, so an old store opens and flags identically under the driver
    path. The commit runs under a ``file://`` root and ends with an
    all-flagged (empty) kept batch; a fresh handle then scans the store
    (no resident copy) and matches the same pairs whichever path wrote
    it."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if id_t == "tinyint":
        # doc ids 0-255 shifted into the type's range, parity kept
        docs = docs.filter("doc_id < 256").withColumn("doc_id", F.col("doc_id") - 128)
    docs = docs.select(F.col("doc_id").cast(id_t).alias("doc_id"), "text")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1").toPandas()
    new_df = spark.createDataFrame(new, f"doc_id {id_t}, text string")
    with monkeypatch.context() as mp:
        mp.setattr(dedup_store, "DRIVER_BATCH_DOCS", 0)
        st = MinHashStore.create(spark, str(tmp_path / "old"))
        st.append_snapshot(old, "text", "doc_id", "old")
    st = MinHashStore.open(spark, st.root)

    pairs = _both_paths(monkeypatch, lambda: sorted(
        tuple(r) for r in st.match_against(new_df, "text", "doc_id").collect()
    ))
    assert pairs[0] == pairs[1] and pairs[0]
    flags = _both_paths(monkeypatch, lambda: sorted(
        tuple(r) for r in st.flag_batch(new_df, "text", "doc_id").collect()
    ))
    assert flags[0] == flags[1] and any(r[-1] for r in flags[0])
    assert len(flags[0]) == len(new)

    def commit():
        fresh = MinHashStore.create(spark, (tmp_path / "fresh").as_uri(), overwrite=True)
        entry = fresh.append_snapshot(new_df, "text", "doc_id", "b1")
        empty = fresh.append_snapshot(new_df.limit(0), "text", "doc_id", "b2")
        assert (tmp_path / "fresh" / empty["dir"]).is_dir()
        snap = spark.read.parquet(f"{fresh.root}/{entry['dir']}")
        rows = sorted((r.band, r.bucket, r.id, tuple(r.sig), r.snapshot) for r in snap.collect())
        reopened = MinHashStore.open(spark, fresh.root)
        hits = _scan(monkeypatch, lambda: sorted(
            tuple(r) for r in reopened.match_against(new_df, "text", "doc_id").collect()
        ))
        assert reopened.last_source == "scan"
        return entry["n_docs"], empty["n_docs"], fresh.info()["n_docs"], snap.dtypes, rows, hits

    driver, spark_path = _both_paths(monkeypatch, commit)
    assert driver == spark_path and driver[0] == len(new) and driver[1] == 0
    assert driver[3] == [
        ("bucket", "bigint"), ("id", id_t), ("sig", "array<bigint>"),
        ("snapshot", "string"), ("band", "int"),
    ]
    selfs = {r[0]: r[3] for r in driver[5] if r[0] == r[1]}
    assert len(selfs) == driver[0] and set(selfs.values()) == {1.0}


def test_over_limit_batch_takes_spark_path(spark, store_root, monkeypatch):
    """A batch over ``DRIVER_BATCH_DOCS`` runs the Spark signature
    pipeline (``band_rows``); one at the limit does not."""
    calls = []
    band_rows = MinHashStore.band_rows

    def spy(self, *a, **kw):
        calls.append(1)
        return band_rows(self, *a, **kw)

    monkeypatch.setattr(MinHashStore, "band_rows", spy)
    monkeypatch.setattr(dedup_store, "DRIVER_BATCH_DOCS", len(BASE))
    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    flags = st.flag_batch(_mk(spark, NEW), "text", "doc_id").collect()
    assert calls == [] and len(flags) == 3
    monkeypatch.setattr(dedup_store, "DRIVER_BATCH_DOCS", len(BASE) - 1)
    st.append_snapshot(_mk(spark, NEW), "text", "doc_id", "s2")
    assert len(calls) == 1 and st.info()["n_docs"] == 6
    hits = st.match_against(_mk(spark, BASE + NEW), "text", "doc_id").collect()
    assert len(calls) == 2 and {(r["id"], r["store_id"]) for r in hits} >= {(101, 1), (1, 101)}


def test_driver_batch_runs_no_spark_job(spark, store_root):
    """Flag plus append of a 200-doc pandas-built batch, the crawl loop's
    step, against a store resident on its handle, runs no Spark job (from
    each job group's statusTracker entry): the flag matches the copy and
    the driver writes the append's snapshot."""
    import pandas as pd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch = docs.limit(400).toPandas()
    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(spark.createDataFrame(batch[:200]), "text", "doc_id", "s0")
    df = spark.createDataFrame(pd.DataFrame(batch[200:]))
    sc = spark.sparkContext
    try:
        sc.setJobGroup("driver-flag", "driver-flag")
        flags = st.flag_batch(df, "text", "doc_id").select("doc_id", "dup_of_store").collect()
        sc.setJobGroup("driver-append", "driver-append")
        kept = df.filter(F.col("doc_id").isin([r[0] for r in flags if not r[1]]))
        st.append_snapshot(kept, "text", "doc_id", "s1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    flag_jobs = sc.statusTracker().getJobIdsForGroup("driver-flag")
    append_jobs = sc.statusTracker().getJobIdsForGroup("driver-append")
    assert st.last_source == "resident (200 docs)"
    assert len(flags) == 200 and len(flag_jobs) == 0 and len(append_jobs) == 0


def _scan(monkeypatch, fn):
    """``fn()`` with resident copies off: every store is scanned."""
    from duckdb_vss_spark.operators import knn

    with monkeypatch.context() as mp:
        mp.setattr(knn, "RESIDENT_BYTES_BUDGET", 0)
        return fn()


@pytest.mark.parametrize("id_t", ["bigint", "string"])
def test_resident_and_scan_paths_agree(spark, tmp_path, monkeypatch, id_t):
    """Matching against the resident copy gives the same pairs,
    est_jaccard, flags and schemas as scanning the store (a fresh handle
    with the budget at 0), at every step of create, append, another
    handle's append, drop and vacuum: for the handle whose commits feed
    its copy, for a stale handle that reads the other handle's dirs, for a
    fresh handle (one job to load, none to match), and for a handle on a
    store whose manifest entries predate the recorded id type."""
    from duckdb_vss_spark.index import fs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast(id_t).alias("doc_id"), "text"
    ).toPandas()
    part = [spark.createDataFrame(docs[k::3], f"doc_id {id_t}, text string") for k in range(3)]
    probe = spark.createDataFrame(docs[1::2], f"doc_id {id_t}, text string")
    root = str(tmp_path / "st")
    a = MinHashStore.create(spark, root)
    b = MinHashStore.open(spark, root)

    def run(st):
        m = st.match_against(probe, "text", "doc_id")
        f = st.flag_batch(probe, "text", "doc_id")
        return sorted(map(tuple, m.collect())), m.dtypes, sorted(map(tuple, f.collect())), f.dtypes

    def check(st):
        n = MinHashStore.open(spark, root).info()["n_docs"]
        got = run(st)
        assert st.last_source == f"resident ({n} docs)"
        scan = MinHashStore.open(spark, root)
        assert _scan(monkeypatch, lambda: run(scan)) == got
        # an empty copy fits any budget
        assert scan.last_source == ("scan" if n else "resident (0 docs)")
        return got

    assert check(a)[0] == []
    a.append_snapshot(part[0], "text", "doc_id", "s0")
    assert check(a)[0]
    assert a.info()["snapshots"][0]["id_type"] == id_t
    b.append_snapshot(part[1], "text", "doc_id", "s1")
    got = check(a)
    assert {r[2] for r in got[0]} == {"s0", "s1"}
    assert check(b) == got
    a.drop_snapshot("s0")
    a.append_snapshot(part[2], "text", "doc_id", "s2")
    got = check(a)
    assert {r[2] for r in got[0]} == {"s1", "s2"}
    assert check(b) == got
    assert a.vacuum() == ["snap-000000"]
    assert check(b) == got
    fresh = MinHashStore.open(spark, root)
    sc = spark.sparkContext
    load, match = f"copy-load-{id_t}", f"copy-match-{id_t}"
    try:
        sc.setJobGroup(load, load)
        fresh.match_against(probe, "text", "doc_id").collect()
        sc.setJobGroup(match, match)
        fresh.match_against(probe, "text", "doc_id").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(load)) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(match)) == 0
    assert check(fresh) == got
    # a store written before entries recorded the id type
    legacy = a.info()
    for entry in legacy["snapshots"]:
        del entry["id_type"]
    fs.write_json(spark, fs.join(root, "manifest.json"), legacy)
    assert check(MinHashStore.open(spark, root)) == got


def test_stale_handle_after_overwrite_matches_the_new_store(spark, store_root, monkeypatch):
    """A handle held across ``create(overwrite=True)`` at its root matches
    the new store, whose first snapshot reuses the old first snapshot's
    dir name, from its copy and from a scan alike."""
    for scan in (False, True):
        old = MinHashStore.create(spark, store_root, overwrite=True)
        old.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
        stale = MinHashStore.open(spark, store_root)

        def hits():
            m = stale.match_against(_mk(spark, NEW), "text", "doc_id")
            return {(r.store_id, r.snapshot) for r in m.collect()}

        assert (1, "s1") in (_scan(monkeypatch, hits) if scan else hits())
        new = MinHashStore.create(spark, store_root, overwrite=True)
        assert new.append_snapshot(_mk(spark, [(7, NEW[2][1])]), "text", "doc_id", "s2")["dir"] == "snap-000000"
        assert (_scan(monkeypatch, hits) if scan else hits()) == {(7, "s2")}


def test_store_copy_shares_the_budget_with_index_copies(spark, emb, store_root, tmp_path, monkeypatch):
    """Store copies and IVF copies count against one process-wide budget:
    with an index's copy held, a store copy that would go over the budget
    is not built and the store is scanned; once the index lets its copy
    go, the store is matched from its copy."""
    import gc

    from duckdb_vss_spark.index import segments
    from duckdb_vss_spark.index.ivf import build_ivf
    from duckdb_vss_spark.operators import knn

    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    size = st._copy.nbytes
    assert size == 3 * (8 + 4 + 8 * 16 + 12 * 4)
    st = MinHashStore.open(spark, store_root)
    gc.collect()
    idx = build_ivf(emb, "embedding", "vec_id", str(tmp_path / "idx"))
    assert idx._copy.parts
    before = segments.resident_bytes()
    monkeypatch.setattr(knn, "RESIDENT_BYTES_BUDGET", before + size - 1)
    assert st.match_against(_mk(spark, NEW), "text", "doc_id").count() >= 1
    assert st.last_source == "scan" and not st._copy.parts
    idx.drop()
    assert segments.resident_bytes() <= before - idx.manifest["count"] * (8 + 4 * idx.dim)
    assert st.match_against(_mk(spark, NEW), "text", "doc_id").count() >= 1
    assert st.last_source == "resident (3 docs)"
    assert segments.resident_bytes() <= knn.RESIDENT_BYTES_BUDGET


def test_append_signs_only_changed_ids(spark, store_root, monkeypatch):
    """The append of a flagged batch's kept rows reuses the flag pass's
    signature of an id only when its text rows are the ones that were
    signed: a kept row whose text changed is signed again, and the
    committed signatures equal a fresh signer's."""
    from duckdb_vss_spark.operators.dedup import minhash_bands_local

    st = MinHashStore.create(spark, store_root)
    st.append_snapshot(_mk(spark, BASE), "text", "doc_id", "s1")
    st.flag_batch(_mk(spark, NEW), "text", "doc_id").collect()
    signed = []

    def spy(ids, texts, *a):
        signed.extend(ids)
        return minhash_bands_local(ids, texts, *a)

    monkeypatch.setattr(dedup_store, "minhash_bands_local", spy)
    changed = "a rewritten third document that shares no words with the flagged one"
    kept = [NEW[0], (103, changed)]
    entry = st.append_snapshot(_mk(spark, kept), "text", "doc_id", "s2")
    assert signed == [103]
    snap = spark.read.parquet(f"{st.root}/{entry['dir']}")
    got = sorted((r.band, r.bucket, r.id, tuple(r.sig)) for r in snap.collect())
    ids, sig, buckets = minhash_bands_local([i for i, _ in kept], [t for _, t in kept], 3, 16, 4)
    assert got == sorted(
        (b, int(buckets[d, b]), ids[d], tuple(sig[d].tolist())) for d in range(2) for b in range(4)
    )
    hits = st.match_against(_mk(spark, [(9, changed)]), "text", "doc_id").collect()
    assert [(r.store_id, r.snapshot, r.est_jaccard) for r in hits] == [(103, "s2", 1.0)]


def _band_rows_match(spark, rows, id_t, shingle_n=3, num_perm=16, bands=4):
    """The driver signer's band rows equal ``band_rows(...).collect()``."""
    from duckdb_vss_spark.operators.dedup import minhash_bands_local

    st = MinHashStore(spark, "unused", {"shingle_n": shingle_n, "num_perm": num_perm, "bands": bands})
    df = spark.createDataFrame(rows, f"doc_id {id_t}, text string")
    want = sorted(
        (r["band"], r["bucket"], r["id"], tuple(r["sig"]))
        for r in st.band_rows(df, "text", "doc_id").collect()
    )
    ids, sig, buckets = minhash_bands_local(
        [r[0] for r in rows], [r[1] for r in rows], shingle_n, num_perm, bands
    )
    got = sorted(
        (b, int(buckets[d, b]), ids[d], tuple(sig[d].tolist()))
        for d in range(len(ids)) for b in range(bands)
    )
    assert got == want


def test_driver_signer_matches_band_rows(spark):
    """One batch with each input the tokenizer treats specially:
    whitespace Java's \\s does not match (U+00A0, U+2003, U+3000), tabs
    and newlines, leading and trailing spaces, empty and None text, docs
    shorter than the shingle, non-ASCII words and a repeated id."""
    rows = [
        (1, "  the quick\tbrown fox\njumps  "),
        (2, "a\u00a0b c\u2003d e\u3000f g"),
        (3, ""),
        (4, None),
        (5, "two words"),
        (6, "\tleading tab and trailing newline\n"),
        (7, "naïve café über straße 東京 タワー"),
        (7, "a second row for seven"),
        (8, "   "),
    ]
    _band_rows_match(spark, rows, "bigint")
    _band_rows_match(spark, [(f"s{i}", t) for i, t in rows], "string", shingle_n=2)


_WORDS = ["a", "b", "fox", "naïve", "東京", "x1", "", "ü"]
_SEPS = [" ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c", "\u00a0", "\u2003", "\u3000"]


@pytest.mark.slow  # opt-in: ~1 Spark job per example
def test_driver_signer_matches_band_rows_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as hs

    text = hs.one_of(
        hs.none(),
        hs.builds(
            lambda lead, parts, trail: lead + "".join(w + s for w, s in parts) + trail,
            hs.sampled_from(["", " ", "  ", "\t"]),
            hs.lists(hs.tuples(hs.sampled_from(_WORDS), hs.sampled_from(_SEPS)), max_size=12),
            hs.sampled_from(["", " ", "\n", "\u3000"]),
        ),
        hs.text(max_size=20),
    )

    @settings(max_examples=40, deadline=None)
    @given(
        rows=hs.lists(hs.tuples(hs.integers(0, 6), text), max_size=8),
        as_str=hs.booleans(),
        shape=hs.sampled_from([(1, 4, 2), (2, 8, 4), (3, 16, 4), (4, 6, 3)]),
    )
    def check(rows, as_str, shape):
        if as_str:
            rows = [(f"id-{i}", t) for i, t in rows]
        _band_rows_match(spark, rows, "string" if as_str else "bigint", *shape)

    check()


def test_create_validates_params(spark, store_root):
    """Zero or negative shingle_n, num_perm or bands raise ValueError
    (bands=0 used to raise ZeroDivisionError, shingle_n=0 signed unigrams
    and a negative num_perm divisible by bands passed)."""
    for kw in (dict(shingle_n=0), dict(num_perm=0), dict(bands=0), dict(num_perm=-16, bands=4)):
        with pytest.raises(ValueError, match="must be >= 1"):
            MinHashStore.create(spark, store_root, **kw)


# ---------------------------------------------------------------- image store


def test_image_store_lifecycle_and_matching(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from duckdb_vss_spark.index.image_store import ImageHashStore
    from duckdb_vss_spark.operators import multimodal as M
    from duckdb_vss_spark.operators.jpeg import encode_jpeg

    def photo(seed):
        rng = np.random.default_rng(700 + seed)
        low = rng.uniform(30, 225, size=(8, 8, 3))
        return np.clip(
            np.round(M._resize_kernel(low, 64, 64, "bilinear")), 0, 255
        ).astype(np.uint8)

    root = str(tmp_path / "istore")
    st = ImageHashStore.create(spark, root)
    hist = spark.createDataFrame(pd.DataFrame({
        "image_id": list(range(5)),
        "content": [M.encode_bmp(photo(i)) for i in range(5)],
    }))
    st.append_snapshot(hist, "image_id", "day-0")
    assert st.info()["n_images"] == 5
    # batch: a q50 JPEG re-encode of history image 2 + one fresh image
    batch = spark.createDataFrame(pd.DataFrame({
        "image_id": [100, 101],
        "content": [encode_jpeg(photo(2), quality=50), M.encode_bmp(photo(9))],
    }))
    m = {r["id"]: r for r in st.match_against(batch, "image_id").collect()}
    assert 100 in m and m[100]["store_id"] == 2 and m[100]["snapshot"] == "day-0"
    assert m[100]["hamming"] <= 10
    assert 101 not in m
    flagged = {r["image_id"]: r["dup_of_store"] for r in
               st.flag_batch(batch, "image_id").collect()}
    assert flagged == {100: True, 101: False}
    # hash_col path skips the decode and matches identically
    from duckdb_vss_spark.operators.image import phash

    hb = phash(batch, "image_id")
    m2 = {r["id"]: r["store_id"] for r in
          st.match_against(hb, "image_id", hash_col="phash").collect()}
    assert m2 == {100: 2}
    # persistence + retention: reopen, drop, then append gets a FRESH dir
    st2 = ImageHashStore.open(spark, root)
    assert st2.match_against(batch, "image_id").count() == 1
    st2.drop_snapshot("day-0")
    assert st2.match_against(batch, "image_id").count() == 0
    st2.append_snapshot(batch, "image_id", "day-1")
    assert st2.info()["snapshots"][-1]["dir"] == "snap-000001"
    assert st2.vacuum() == ["snap-000000"]
    # per-call bound above the store's bands is rejected
    with pytest.raises(ValueError, match="bands"):
        st2.match_against(batch, "image_id", max_hamming=16)
    # empty store tracks string id dtype
    st3 = ImageHashStore.create(spark, str(tmp_path / "istore3"))
    sb = spark.createDataFrame(
        [("u-1", bytes(M.encode_bmp(photo(1))))], "image_id: string, content: binary"
    )
    empty = st3.match_against(sb, "image_id")
    assert dict(empty.dtypes)["id"] == "string" and empty.count() == 0


# ---------------------------------------------------------------- video store


def _vclip(seed, n=8, q=85):
    import numpy as np

    from duckdb_vss_spark.operators import multimodal as M
    from duckdb_vss_spark.operators.video import encode_avi_mjpeg

    frames = []
    for k in range(n):
        rng = np.random.default_rng(seed * 100 + k)
        low = rng.uniform(30, 225, size=(8, 8, 3))
        frames.append(np.clip(
            np.round(M._resize_kernel(low, 48, 48, "bilinear")), 0, 255
        ).astype(np.uint8))
    return encode_avi_mjpeg(frames, quality=q), frames


def test_video_store_lifecycle_and_matching(spark, tmp_path):
    import pandas as pd

    from duckdb_vss_spark.index.video_store import VideoFingerprintStore
    from duckdb_vss_spark.operators.video import encode_avi_mjpeg

    root = str(tmp_path / "vstore")
    st = VideoFingerprintStore.create(spark, root)
    hist = spark.createDataFrame(pd.DataFrame({
        "clip_id": list(range(4)),
        "content": [_vclip(i)[0] for i in range(4)],
    }))
    st.append_snapshot(hist, "clip_id", "day-0")
    assert st.info()["n_clips"] == 4
    # batch: clip 2's frames delayed by 2 + harsher re-encode, plus fresh
    _, f2 = _vclip(2)
    _, filler = _vclip(9)
    shifted = encode_avi_mjpeg(filler[:2] + f2[:6], quality=60)
    batch = spark.createDataFrame(pd.DataFrame({
        "clip_id": [100, 101],
        "content": [shifted, _vclip(8)[0]],
    }))
    m = {r["id"]: r for r in
         st.match_against(batch, "clip_id", min_matches=5).collect()}
    assert 100 in m and m[100]["store_id"] == 2 and m[100]["snapshot"] == "day-0"
    assert m[100]["offset"] == 2 and m[100]["n_matches"] >= 5
    assert 101 not in m
    flagged = {r["clip_id"]: r["dup_of_store"] for r in
               st.flag_batch(batch, "clip_id", min_matches=5).collect()}
    assert flagged == {100: True, 101: False}
    # keys_df path (precomputed hashes) matches identically, no decode
    from duckdb_vss_spark.operators.image import frame_phash
    from duckdb_vss_spark.operators.multimodal import video_frames

    keys = frame_phash(
        video_frames(batch, "clip_id").filter("frame_idx >= 0"), "clip_id"
    )
    m2 = {r["id"]: r["store_id"] for r in
          st.match_against(None, "clip_id", keys_df=keys, min_matches=5).collect()}
    assert m2 == {100: 2}
    # reopen + retention: drop-then-append never reuses a dir
    st2 = VideoFingerprintStore.open(spark, root)
    st2.drop_snapshot("day-0")
    assert st2.match_against(batch, "clip_id", min_matches=5).count() == 0
    st2.append_snapshot(batch, "clip_id", "day-1")
    assert st2.info()["snapshots"][-1]["dir"] == "snap-000001"
    assert st2.vacuum() == ["snap-000000"]
    # empty store tracks the id dtype
    st3 = VideoFingerprintStore.create(spark, str(tmp_path / "vstore3"))
    sb = spark.createDataFrame(
        [("u-1", bytes(_vclip(1)[0]))], "clip_id: string, content: binary"
    )
    empty = st3.match_against(sb, "clip_id")
    assert dict(empty.dtypes)["id"] == "string" and empty.count() == 0
    with pytest.raises(ValueError, match="bands"):
        st3.match_against(sb, "clip_id", max_hamming=8)


def test_image_store_match_survives_hot_buckets_at_scale(spark, tmp_path):
    """Round-11 regression: 20k distinct stored hashes saturate the 4-bit
    combo=1 key space (every (band, bucket) holds > max_bucket=1000), and
    round 10's store+batch cap silently dropped EVERY match — the
    steady-state loop measured dup_of_store=0 across five batches. Now
    exact matches bypass banding (equi-join on the hash value, cap-
    immune) and near matches ride the auto-escalated combo=2 banding."""
    import warnings as _w

    import numpy as np

    from duckdb_vss_spark.index.image_store import ImageHashStore

    st = ImageHashStore.create(spark, str(tmp_path / "bigstore"))
    rng = np.random.default_rng(21)
    stored = sorted({int(v) for v in
                     rng.integers(-(2**62), 2**62, size=20000, dtype=np.int64)})
    sdf = spark.createDataFrame(
        [(i, h) for i, h in enumerate(stored)], "img_id long, phash long"
    ).repartition(8)
    st.append_snapshot(sdf, "img_id", "s0", hash_col="phash")
    # batch: 100 exact re-encounters, 50 near (2 bit flips), 100 fresh
    batch = (
        [(10**6 + j, stored[j]) for j in range(100)]
        + [(2 * 10**6 + j, stored[200 + j] ^ (1 << 3) ^ (1 << 44)) for j in range(50)]
        + [(3 * 10**6 + j, int(v)) for j, v in enumerate(
            rng.integers(-(2**62), 2**62, size=100, dtype=np.int64))]
    )
    bdf = spark.createDataFrame(batch, "img_id long, phash long")
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)  # combo=2 must not warn here
        hits = {r["id"]: r for r in
                st.match_against(bdf, "img_id", hash_col="phash").collect()}
    assert all(10**6 + j in hits and hits[10**6 + j]["hamming"] == 0
               for j in range(100))
    assert all(2 * 10**6 + j in hits and hits[2 * 10**6 + j]["hamming"] == 2
               for j in range(50))
    assert not any(3 * 10**6 + j in hits for j in range(100))
    assert len(hits) == 150


def test_image_store_match_rebands_on_observed_skew(spark, tmp_path):
    """Round 12: observed skew (not average saturation) used to warn and
    drop — the image-text loop measured 135k+ distinct pHashes whose
    AVERAGE load sat under the cap while a few skewed buckets went hot.
    match_against now escalates ONCE to same-chunk packed pair keys
    before accepting any drop: a near pair whose every
    single-chunk agreeing bucket is hot (diverse hot-bucket members) is
    recovered warning-free through the packed pair key, where the same
    buckets spread cold."""
    import warnings as _w

    import numpy as np

    from duckdb_vss_spark.index.image_store import ImageHashStore

    C0, C1 = 0x1234, 0x5678
    rng = np.random.default_rng(7)

    def r16():
        while True:
            v = int(rng.integers(1, 0x3FFF))
            if v not in (C0, C1):
                return v

    def pack(c0, c1, c2, c3):
        return c0 | (c1 << 16) | (c2 << 32) | (c3 << 48)

    # group A heats band0/C0 with DIVERSE other chunks; group B heats
    # band1/C1 likewise — under the cheapest bound-2 banding (4 chunks,
    # combo=1) BOTH agreeing buckets of the planted pair are hot, but
    # neither group shares the (C0, C1) packed pair key
    stored = [(i, pack(C0, r16(), r16(), r16())) for i in range(30)]
    stored += [(100 + i, pack(r16(), C1, r16(), r16())) for i in range(15)]
    s_hash = pack(C0, C1, 0x2AAA, 0x1555)
    stored.append((500, s_hash))
    st = ImageHashStore.create(spark, str(tmp_path / "skewstore"))
    st.append_snapshot(
        spark.createDataFrame(stored, "img_id long, phash long"),
        "img_id", "s0", hash_col="phash",
    )
    batch = spark.createDataFrame(
        [(9000, s_hash ^ (1 << 33) ^ (1 << 50))],  # hamming 2, agrees on chunks 0+1 only
        "img_id long, phash long",
    )
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)  # the re-band must not warn
        hits = st.match_against(
            batch, "img_id", hash_col="phash", max_hamming=2, max_bucket=4
        ).collect()
    assert [(r["id"], r["store_id"], r["hamming"]) for r in hits] == [(9000, 500, 2)]


def test_image_store_match_warns_when_escalation_still_hot(spark, tmp_path):
    """The honest-drop fallback survives the re-band: when the hot
    bucket's members are IDENTICAL in both agreeing chunks, the packed
    pair key is just as hot, the warning names the final banding, and
    exact matches still land via the cap-immune bypass."""
    import numpy as np

    from duckdb_vss_spark.index.image_store import ImageHashStore

    C0, C1 = 0x0F0F, 0x3CC3
    rng = np.random.default_rng(11)

    def pack(c0, c1, c2, c3):
        return c0 | (c1 << 16) | (c2 << 32) | (c3 << 48)

    stored = [
        (i, pack(C0, C1, int(rng.integers(1, 0x3FFF)), int(rng.integers(1, 0x3FFF))))
        for i in range(30)
    ]
    s_hash = pack(C0, C1, 0x2AAA, 0x1555)
    stored.append((500, s_hash))
    st = ImageHashStore.create(spark, str(tmp_path / "hotstore"))
    st.append_snapshot(
        spark.createDataFrame(stored, "img_id long, phash long"),
        "img_id", "s0", hash_col="phash",
    )
    batch = spark.createDataFrame(
        [(9000, s_hash ^ (1 << 33) ^ (1 << 50)),   # near: every agreeing chunk hot
         (9001, stored[3][1])],                     # exact: bypasses banding
        "img_id long, phash long",
    )
    with pytest.warns(RuntimeWarning, match="final banding"):
        hits = {r["id"]: r for r in st.match_against(
            batch, "img_id", hash_col="phash", max_hamming=2, max_bucket=4
        ).collect()}
    assert set(hits) == {9001}
    assert hits[9001]["store_id"] == 3 and hits[9001]["hamming"] == 0


def test_video_store_match_rebands_on_observed_skew(spark, tmp_path):
    """Video twin of the skew re-band: a frame vote whose every
    single-chunk agreeing bucket is hot (diverse members) survives
    through the packed pair key, warning-free, at its exact offset."""
    import warnings as _w

    import numpy as np

    from duckdb_vss_spark.index.video_store import VideoFingerprintStore

    C0, C1 = 0x1234, 0x5678
    rng = np.random.default_rng(13)

    def r16():
        while True:
            v = int(rng.integers(1, 0x3FFF))
            if v not in (C0, C1):
                return v

    def pack(c0, c1, c2, c3):
        return c0 | (c1 << 16) | (c2 << 32) | (c3 << 48)

    rows = [(i, 0, pack(C0, r16(), r16(), r16())) for i in range(30)]
    rows += [(100 + i, 0, pack(r16(), C1, r16(), r16())) for i in range(15)]
    # clip 500: two frames the batch clip re-encounters 2 frames later
    fa, fb = pack(C0, C1, 0x2AAA, 0x1555), pack(C0, C1, 0x0777, 0x3BBB)
    rows += [(500, 0, fa), (500, 1, fb)]
    st = VideoFingerprintStore.create(spark, str(tmp_path / "vskewstore"))
    st.append_snapshot(
        None, "clip_id", "s0",
        keys_df=spark.createDataFrame(rows, "clip_id long, t long, key long"),
    )
    bkeys = spark.createDataFrame(
        [(9000, 2, fa ^ (1 << 33) ^ (1 << 50)),
         (9000, 3, fb ^ (1 << 40) ^ (1 << 55))],
        "clip_id long, t long, key long",
    )
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        m = st.match_against(
            None, "clip_id", keys_df=bkeys, max_hamming=2, min_matches=2,
            max_bucket=4,
        ).collect()
    assert [(r["id"], r["store_id"], r["offset"], r["n_matches"]) for r in m] \
        == [(9000, 500, 2, 2)]


def test_image_store_capped_match_contract_property(spark, tmp_path):
    """Property pin for the matcher's capped regime (the store twin of
    hamming_pairs' contract property): for random skewed store+batch
    hash sets, capped matches must EQUAL the closed-form expectation —
    exact (hamming-0) matches always found via the cap-immune bypass,
    and a near match lost if and ONLY if every chunk the two hashes
    agree on is hot AT THE FINAL BANDING (initial auto choice, escalated
    once to same-chunk packed pair keys when the first pass ran hot). The model recomputes bucket membership and loss independently,
    reusing only the banding-choice functions."""
    import warnings as _w
    from collections import Counter
    from itertools import combinations

    import numpy as np

    from duckdb_vss_spark.index.image_store import ImageHashStore
    from duckdb_vss_spark.operators.dedup import _auto_banding, _escalate_banding

    BOUND, CAP = 2, 3

    def keyset(h, be, combo):
        w = 64 // be
        mask = (1 << w) - 1
        chunks = [(h >> (b * w)) & mask for b in range(be)]
        if combo == 1:
            return list(enumerate(chunks))
        out = []
        for ki, idx in enumerate(combinations(range(be), combo)):
            k = 0
            for b in idx:
                k = (k << w) | chunks[b]
            out.append((ki, k))
        return out

    def hot_keys(hs, be, combo):
        cnt = Counter(kk for h in hs for kk in keyset(h, be, combo))
        return {kk for kk, c in cnt.items() if c > CAP}

    def expected(stored, batch):
        sh, bh = {h for _, h in stored}, {h for _, h in batch}
        nd = len(sh) + len(bh)
        be, combo = _auto_banding(64, BOUND, nd, CAP)
        hot = hot_keys(sh | bh, be, combo)
        if hot:
            esc = _escalate_banding(64, BOUND, be, combo)
            if esc is not None:
                be, combo = esc
                hot = hot_keys(sh | bh, be, combo)
        exp = set()
        for bid, h in batch:
            for sid, s in stored:
                d = bin(h ^ s).count("1")
                if d == 0:
                    exp.add((bid, sid, 0))
                    continue
                if d > BOUND:
                    continue
                k2 = dict(keyset(s, be, combo))
                if any(v == k2[ki] and (ki, v) not in hot
                       for ki, v in keyset(h, be, combo)):
                    exp.add((bid, sid, d))
        return exp

    for seed in (3, 4):
        rng = np.random.default_rng(seed)
        # skew: a shared low 16-bit chunk heats single-chunk buckets
        C = int(rng.integers(1, 0xFFFF))
        def mk(n, share):
            out = []
            for _ in range(n):
                h = int(rng.integers(0, 1 << 62))
                if share:
                    h = (h & ~0xFFFF) | C
                out.append(h)
            return out
        stored_h = mk(8, True) + mk(6, False)
        batch_h = mk(3, True) + mk(3, False)
        # planted: exact dup + 1-bit and 2-bit neighbours of stored hashes
        batch_h += [stored_h[0], stored_h[1] ^ (1 << 7),
                    stored_h[9] ^ (1 << 20) ^ (1 << 50)]
        stored = [(i, h) for i, h in enumerate(stored_h)]
        batch = [(1000 + i, h) for i, h in enumerate(batch_h)]
        st = ImageHashStore.create(spark, str(tmp_path / f"prop{seed}"))
        st.append_snapshot(
            spark.createDataFrame(stored, "img_id long, phash long"),
            "img_id", "s0", hash_col="phash",
        )
        with _w.catch_warnings():
            _w.simplefilter("ignore", RuntimeWarning)
            got = {(r["id"], r["store_id"], r["hamming"]) for r in st.match_against(
                spark.createDataFrame(batch, "img_id long, phash long"),
                "img_id", hash_col="phash", max_hamming=BOUND, max_bucket=CAP,
            ).collect()}
        assert got == expected(stored, batch), seed


def test_audio_video_store_commit_needs_no_readback(spark, tmp_path, monkeypatch):
    """Round-13 pin: the audio/video store commit folds the distinct-clip
    count into the WRITE job (Observation over the t==0 marker rows), so
    the happy path must neither list the snapshot directory nor re-read
    the parquet it just wrote. Proven by poisoning the read-back surfaces
    for the duration of the append."""
    import numpy as np

    from duckdb_vss_spark.index import fs
    from duckdb_vss_spark.index.audio_store import AudioFingerprintStore
    from duckdb_vss_spark.index.video_store import VideoFingerprintStore
    from duckdb_vss_spark.operators.multimodal import encode_wav
    from duckdb_vss_spark.operators.video import encode_avi_mjpeg

    def synth_wav(g):
        j = np.arange(2048, dtype=np.int64)
        pcm = (((j * (4093 + g * 2) + g * 12289) % 65536) - 32768).astype(np.int16)
        return encode_wav(pcm, 8000)

    wavs = spark.createDataFrame(
        [(i, synth_wav(i % 3)) for i in range(6)], "clip_id long, content binary"
    )
    ast = AudioFingerprintStore.create(
        spark, str(tmp_path / "ast"), frame=128, blocks=8
    )
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 255, size=(16, 16, 3)).astype(np.uint8) for _ in range(3)]
    avis = spark.createDataFrame(
        [(i, encode_avi_mjpeg(frames, quality=70)) for i in range(4)],
        "clip_id long, content binary",
    )
    vst = VideoFingerprintStore.create(spark, str(tmp_path / "vst"))

    real_listdir = fs.listdir

    def poisoned_listdir(spark_, path):
        raise AssertionError(f"commit read back the snapshot dir: {path}")

    orig_read = spark.read.__class__.parquet
    committed_dirs = []

    def poisoned_parquet(self, *paths):
        for p in paths:
            for d in committed_dirs:
                if p.startswith(d):
                    raise AssertionError(f"commit re-read its own snapshot: {p}")
        return orig_read(self, *paths)

    monkeypatch.setattr(fs, "listdir", poisoned_listdir)
    monkeypatch.setattr(spark.read.__class__, "parquet", poisoned_parquet)
    committed_dirs.append(str(tmp_path / "ast"))
    committed_dirs.append(str(tmp_path / "vst"))
    entry_a = ast.append_snapshot(wavs, "content", "clip_id", "s1")
    entry_v = vst.append_snapshot(avis, "clip_id", "s1", content_col="content")
    monkeypatch.setattr(fs, "listdir", real_listdir)
    assert entry_a["n_clips"] == 6
    assert entry_v["n_clips"] == 4
