"""Incremental (id-bucketed) snapshot commits of ParquetPointsSink:
value-equality with the full-rewrite commit, dirty-bucket-only writes
(clean buckets carried over by hardlink), and the version-conflict
semantics of upsert_points preserved inside dirty buckets."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qdrant_spark import versioned
from qdrant_spark.operators.mutate import upsert_points
from qdrant_spark.streaming.ingest import BUCKET_COL, ParquetPointsSink


def _rows(df):
    return sorted(map(tuple, df.select("id", "payload", "v").collect()))


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, payload string, v long")


def _base(spark, n=500):
    return _mk(spark, [(i, f"p{i}", 1) for i in range(n)])


def test_incremental_equals_full_rewrite(spark, tmp_path):
    base = _base(spark)
    b1 = _mk(spark, [(7, "updated", 2), (1_000_001, "new", 1)])
    b2 = _mk(spark, [(7, "stale", 1), (123, "touched", 3)])

    full = ParquetPointsSink(spark, str(tmp_path / "full"),
                             id_col="id", version_col="v")
    inc = ParquetPointsSink(spark, str(tmp_path / "inc"),
                            id_col="id", version_col="v", id_buckets=8)
    for i, b in enumerate([base, b1, b2]):
        full.apply_batch(b, i)
        inc.apply_batch(b, i)
    assert _rows(full.read()) == _rows(inc.read())
    # same rows as the one-shot batch merge
    want = upsert_points(upsert_points(base, b1, id_col="id",
                                       version_col="v"),
                         b2, id_col="id", version_col="v")
    assert _rows(inc.read()) == _rows(want)
    # stale-op skip survived the bucketed path: id 7 keeps version 2
    got = {r["id"]: (r["payload"], r["v"]) for r in inc.read().collect()}
    assert got[7] == ("updated", 2)
    assert got[123] == ("touched", 3)
    # reader surface hides the commit-layout column
    assert BUCKET_COL not in inc.read().columns


def test_incremental_rewrites_only_dirty_buckets(spark, tmp_path):
    inc = ParquetPointsSink(spark, str(tmp_path / "t"),
                            id_col="id", id_buckets=8)
    base = _base(spark)
    inc.apply_batch(base, 0)
    # pick batch ids from ONE bucket so exactly one bucket is dirty
    v0 = os.path.join(str(tmp_path / "t"), "_v0")
    some = (spark.read.parquet(v0)
            .filter(F.col(BUCKET_COL) == 3).limit(5).collect())
    assert some, "bucket 3 unexpectedly empty"
    batch = _mk(spark, [(r["id"], "upd", 9) for r in some])
    inc.apply_batch(batch, 1)
    v1 = os.path.join(str(tmp_path / "t"), "_v1")
    written = {d for d in os.listdir(v1) if d.startswith(BUCKET_COL)}
    assert written == {f"{BUCKET_COL}={b}" for b in range(8)}
    # clean buckets are hardlinks of the previous snapshot's files
    # (st_nlink >= 2), the dirty bucket is freshly written
    def nlinks(bdir):
        files = [os.path.join(dp, f)
                 for dp, _dn, fn in os.walk(os.path.join(v1, bdir))
                 for f in fn]
        assert files
        return {os.stat(p).st_nlink for p in files}

    assert nlinks(f"{BUCKET_COL}=4") == {2}
    assert nlinks(f"{BUCKET_COL}=3") == {1}
    # the updated rows are served
    got = {r["id"]: r["payload"] for r in inc.read().collect()}
    for r in some:
        assert got[r["id"]] == "upd"


def test_incremental_empty_batch_is_pure_carry_over(spark, tmp_path):
    inc = ParquetPointsSink(spark, str(tmp_path / "t"),
                            id_col="id", id_buckets=4)
    base = _base(spark, n=50)
    inc.apply_batch(base, 0)
    inc.apply_batch(base.limit(0), 1)
    assert _rows(inc.read()) == _rows(base)


def test_unbucketed_previous_snapshot_upgrades_once(spark, tmp_path):
    # layout change: a sink that previously committed flat snapshots is
    # reopened with id_buckets set — the next batch re-buckets the
    # whole table, the one after commits incrementally
    d = str(tmp_path / "t")
    flat = ParquetPointsSink(spark, d, id_col="id")
    flat.apply_batch(_base(spark, n=50), 0)
    inc = ParquetPointsSink(spark, d, id_col="id", id_buckets=4)
    inc.apply_batch(_mk(spark, [(1, "x", 2)]), 1)
    v1 = os.path.join(d, "_v1")
    assert any(x.startswith(BUCKET_COL) for x in os.listdir(v1))
    got = {r["id"]: r["payload"] for r in inc.read().collect()}
    assert got[1] == "x" and len(got) == 50


def test_reopen_with_different_bucket_count_rebuckets(spark, tmp_path):
    # the r14 ADVICE corruption: a sink reopened with a different
    # id_buckets used to compute dirty buckets with the NEW modulus over
    # a snapshot partitioned by the OLD one — an updated id's old row
    # sat in a bucket the new modulus called clean and was carried over,
    # leaving the id twice. The per-snapshot _ID_BUCKETS metadata forces
    # the full re-bucketing commit on mismatch.
    d = str(tmp_path / "t")
    s4 = ParquetPointsSink(spark, d, id_col="id", id_buckets=4)
    s4.apply_batch(_base(spark, n=40), 0)
    s8 = ParquetPointsSink(spark, d, id_col="id", id_buckets=8)
    s8.apply_batch(_mk(spark, [(7, "updated", 9), (1_000, "new", 1)]), 1)
    rows = s8.read().collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)) == 41  # no duplicate id survived
    got = {r["id"]: r["payload"] for r in rows}
    assert got[7] == "updated" and got[1_000] == "new"
    # the re-bucketed snapshot recorded the new modulus, so the NEXT
    # commit is incremental again (clean buckets hardlink-carried)
    s8.apply_batch(_mk(spark, [(7, "again", 10)]), 2)
    v2 = os.path.join(d, "_v2")
    links = {os.stat(os.path.join(dp, f)).st_nlink
             for dp, _dn, fn in os.walk(v2) for f in fn
             if f.endswith(".parquet")}
    assert 2 in links  # at least one carried (clean) bucket file
    got2 = {r["id"]: r["payload"] for r in s8.read().collect()}
    assert got2[7] == "again" and len(got2) == 41


def test_pre_metadata_snapshot_upgrades_with_full_commit(spark, tmp_path):
    # bucketed snapshots written before _ID_BUCKETS existed have bucket
    # dirs but no recorded modulus: the next commit must take the full
    # path (unknown modulus = assume mismatch), after which incremental
    # commits resume
    d = str(tmp_path / "t")
    sink = ParquetPointsSink(spark, d, id_col="id", id_buckets=4)
    sink.apply_batch(_base(spark, n=40), 0)
    os.remove(os.path.join(d, "_v0", "_ID_BUCKETS"))
    assert sink._incremental_prev() is None
    sink.apply_batch(_mk(spark, [(3, "upd", 2)]), 1)
    v1 = os.path.join(d, "_v1")
    assert os.path.exists(os.path.join(v1, "_ID_BUCKETS"))
    # full commit: nothing hardlink-carried
    links = {os.stat(os.path.join(dp, f)).st_nlink
             for dp, _dn, fn in os.walk(v1) for f in fn
             if f.endswith(".parquet")}
    assert links == {1}
    got = {r["id"]: r["payload"] for r in sink.read().collect()}
    assert got[3] == "upd" and len(got) == 40
    assert sink._incremental_prev() is not None


def test_pairs_sink_bucketed_incremental_equals_full(spark, tmp_path):
    # the replace-posting-set merge (SparsePairsSink.apply_pairs) under
    # id-bucketed incremental commits: same final pairs as the
    # full-rewrite sink across upsert + clear, clean buckets carried by
    # hardlink
    from qdrant_spark.streaming.serve import SparsePairsSink

    def pairs_df(rows):
        return spark.createDataFrame(rows, "id long, dim long, v double")

    def ids_df(ids):
        return spark.createDataFrame([(i,) for i in ids], "id long")

    base = [(i, d, float(i + d)) for i in range(200) for d in (1, 2)]
    up1 = ([(7, 9, 1.0)], [7, 8])        # 7 re-posted, 8 cleared
    up2 = ([(300, 1, 2.0)], [300])       # new id
    full = SparsePairsSink(spark, str(tmp_path / "full"), id_col="id")
    inc = SparsePairsSink(spark, str(tmp_path / "inc"), id_col="id",
                          id_buckets=8)
    for sink in (full, inc):
        sink.apply_pairs(pairs_df(base), ids_df(range(200)), 0)
        sink.apply_pairs(pairs_df(up1[0]), ids_df(up1[1]), 1)
        sink.apply_pairs(pairs_df(up2[0]), ids_df(up2[1]), 2)

    def rows(s):
        return sorted(map(tuple, s.read().collect()))

    assert rows(inc) == rows(full)
    assert (7, 9, 1.0) in rows(inc)
    assert not any(r[0] == 8 for r in rows(inc))  # postings cleared
    # incremental commits carried clean buckets by hardlink
    v2 = os.path.join(str(tmp_path / "inc"), "_v2")
    links = {os.stat(os.path.join(dp, f)).st_nlink
             for dp, _dn, fn in os.walk(v2) for f in fn
             if f.endswith(".parquet")}
    assert 2 in links


def test_maxsim_invlist_sink_bucketed_prunes_and_matches(spark, tmp_path):
    # composing id_buckets UNDER the __cluster-partitioned invlist sink
    # (r15): the snapshot layout becomes __ibucket=*/__cluster=*, the
    # live search route still prunes files on __cluster (PartitionFilters)
    # and answers bit-identically to the unbucketed sink
    import re

    import numpy as np

    from qdrant_spark.operators.multivec import maxsim_knn_ivf
    from qdrant_spark.streaming.serve import (
        MaxSimInvlistSink, live_maxsim_ivf_index,
    )

    rng = np.random.default_rng(7)
    docs = [(i, [[float(x) for x in rng.normal(size=4)]
                 for _ in range(3)]) for i in range(60)]
    mv = spark.createDataFrame(docs, "vec_id long, mv array<array<double>>")
    cents = rng.normal(size=(4, 4))

    def feed(sink, batch, bid):
        from qdrant_spark.operators.ann import ivf_from_centroids
        ids = batch.select("vec_id").distinct()
        base = batch.filter(F.col("mv").isNotNull() & (F.size("mv") > 0))
        toks = base.select("vec_id", F.explode("mv").alias("__tok"))
        memb = (ivf_from_centroids(toks, cents, vec_col="__tok",
                                   id_col="vec_id")
                .assigned.select("vec_id", "__cluster").distinct())
        sink.apply_pairs(base.join(memb, "vec_id"), ids, bid)

    plain = MaxSimInvlistSink(spark, str(tmp_path / "plain"),
                              id_col="vec_id")
    bucketed = MaxSimInvlistSink(spark, str(tmp_path / "bucketed"),
                                 id_col="vec_id", id_buckets=4)
    upd = spark.createDataFrame(
        [(5, [[float(x) * 2 for x in t] for t in docs[5][1]])],
        mv.schema)
    for sink in (plain, bucketed):
        feed(sink, mv, 0)
        feed(sink, upd, 1)

    qmv = docs[0][1]
    want = [(r["vec_id"], round(r["score"], 9))
            for r in maxsim_knn_ivf(
                live_maxsim_ivf_index(plain, cents, mv_col="mv"),
                qmv, k=5, nprobe=2, metric="dot").collect()]
    live_b = live_maxsim_ivf_index(bucketed, cents, mv_col="mv")
    got_df = maxsim_knn_ivf(live_b, qmv, k=5, nprobe=2, metric="dot")
    got = [(r["vec_id"], round(r["score"], 9)) for r in got_df.collect()]
    assert got == want
    # file-level pruning on __cluster survives the nested bucket layout
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*__cluster[^\]]*IN", plan)


def test_bucketed_commit_writes_one_file_per_bucket_dir(spark, tmp_path):
    # the r15 layout-keyed shuffle before partitionBy writes (guide §6):
    # every bucket's rows hash to ONE task, so each bucket directory
    # holds exactly one data file — without the repartition every write
    # task that saw the bucket opened its own file (~tasks×buckets tiny
    # files at scale, 78k measured on the 2M composed snapshot)
    d = str(tmp_path / "t")
    sink = ParquetPointsSink(spark, d, id_col="id", id_buckets=8)
    sink.apply_batch(_base(spark, n=500), 0)
    v0 = os.path.join(d, "_v0")
    for b in os.listdir(v0):
        if not b.startswith(BUCKET_COL):
            continue
        files = [f for f in os.listdir(os.path.join(v0, b))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id long, dim int, v double")


@pytest.mark.parametrize("sink_kind,id_buckets",
                         [("points", 0), ("points", 8), ("pairs", 0),
                          ("pairs", 8)])
def test_replayed_batch_is_idempotent(spark, tmp_path, sink_kind,
                                      id_buckets):
    """foreachBatch is at-least-once: re-applying the committed batch id
    is a replay and leaves the snapshot as it was (the bucketed commit
    used to overwrite the _v dir it was reading — 1010 rows became a
    few hundred)."""
    from qdrant_spark.streaming.serve import SparsePairsSink

    d = str(tmp_path / "t")
    if sink_kind == "points":
        sink = ParquetPointsSink(spark, d, id_col="id", version_col="v",
                                 id_buckets=id_buckets)
        apply = sink.apply_batch
        b0 = _base(spark, n=1000)
        b1 = _mk(spark, [(i, "new", 1) for i in range(1000, 1010)]
                 + [(3, "upd", 2)])

        def rows():
            return _rows(sink.read())
    else:
        sink = SparsePairsSink(spark, d, id_col="id", id_buckets=id_buckets)

        def apply(pairs, batch_id):
            sink.apply_pairs(pairs, pairs.select("id").distinct(), batch_id)

        b0 = _pairs(spark, [(i, j, float(i + j)) for i in range(300)
                            for j in range(3)])
        b1 = _pairs(spark, [(i, 9, 1.0) for i in range(295, 310)])

        def rows():
            return sorted(map(tuple, sink.read().select(
                "id", "dim", "v").collect()))

    apply(b0, 0)
    apply(b1, 1)
    want = rows()
    assert len(want) == (1010 if sink_kind == "points" else 300 * 3 - 15 + 15)
    apply(b1, 1)
    assert rows() == want


def test_frame_read_before_commit_survives_gapped_ids(spark, tmp_path):
    """Retention keeps the snapshot a commit replaced, whatever the id
    gap: batch ids 5 then 7 keep _v5 for a frame read before 7."""
    d = str(tmp_path / "t")
    sink = ParquetPointsSink(spark, d, id_col="id")
    sink.apply_batch(_base(spark, n=40), 5)
    before = sink.read()
    sink.apply_batch(_mk(spark, [(1, "x", 2)]), 7)
    assert _rows(before) == _rows(_base(spark, n=40))
    assert sorted(x for x in os.listdir(d) if x.startswith("_v")) \
        == ["_v5", "_v7"]


def test_long_ingest_keeps_two_snapshots(spark, tmp_path):
    """A 100-batch ingest leaves at most 2 snapshot directories (every
    tenth batch updates a row; the empty ones commit a hardlinked
    carry-over through the same protocol)."""
    d = str(tmp_path / "t")
    sink = ParquetPointsSink(spark, d, id_col="id", id_buckets=2)
    sink.apply_batch(_base(spark, n=20), 0)
    for i in range(1, 100):
        rows = [(i // 10, f"p{i}", 1)] if i % 10 == 0 else []
        sink.apply_batch(_mk(spark, rows), i)
        assert len([x for x in os.listdir(d) if x.startswith("_v")]) <= 2
    assert versioned.read_pointer(d, "CURRENT") == "_v99"
    got = {r["id"]: r["payload"] for r in sink.read().collect()}
    assert len(got) == 20 and got[9] == "p90"


@pytest.mark.parametrize("id_buckets", [0, 4])
def test_crashed_commit_keeps_a_whole_snapshot(spark, tmp_path, fail_at,
                                               id_buckets):
    """A crash at any commit step leaves the previous snapshot or the new
    one readable (never an empty CURRENT or a half-written one), and the
    retried batch converges on the clean result."""
    from conftest import COMMIT_STEPS, InjectedCrash

    d = str(tmp_path / "t")
    sink = ParquetPointsSink(spark, d, id_col="id", version_col="v",
                             id_buckets=id_buckets)
    base = _base(spark, n=60)
    sink.apply_batch(base, 0)
    want = base
    for i, step in enumerate(COMMIT_STEPS, start=1):
        batch = _mk(spark, [(i, f"s{i}", 5), (1000 + i, "new", 1)])
        before = _rows(sink.read())
        with fail_at(step), pytest.raises(InjectedCrash):
            sink.apply_batch(batch, i)
        want = upsert_points(want, batch, id_col="id", version_col="v")
        assert _rows(sink.read()) == (_rows(want) if step == "retire"
                                      else before), step
        sink.apply_batch(batch, i)  # the stream retries the batch
        assert _rows(sink.read()) == _rows(want), step
