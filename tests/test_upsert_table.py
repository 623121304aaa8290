"""ParquetUpsertTable contract: dirty-bucket copy-on-write, manifest
reads, generation retention (the bounded-storage half of the
reference's sink contract — ``/root/reference/dags/jira/db_ops.py``
delegates it to Postgres; the parquet table must provide it itself)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from airflow_jira_etl_spark.sinks.parquet_upsert import (
    ParquetUpsertTable,
    hash_bucketer,
    range_bucketer,
)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _bucket_dirs(gen_dir: str) -> list[str]:
    return sorted(
        d for d in os.listdir(gen_dir) if d.startswith("__bucket=")
    )


@pytest.fixture()
def rows_df(spark):
    return spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )


def test_small_batch_rewrites_only_dirty_buckets(spark, tmp_path, rows_df):
    """Bytes written per batch must track the batch's key spread, not
    the table size — the core copy-on-write invariant."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=64)
    t.apply(rows_df)
    gen0 = t.current_generation()
    full_bytes = _dir_bytes(gen0)

    upd = spark.createDataFrame(
        [(7, -1.0), (8, -2.0), (4999, -3.0)], "k long, v double"
    )
    t.apply(upd)
    gen1 = t.current_generation()
    assert gen1 != gen0
    # at most one bucket dir per updated key was rewritten
    assert len(_bucket_dirs(gen1)) <= 3
    assert _dir_bytes(gen1) < full_bytes / 4

    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 5000
    assert got[7] == -1.0 and got[8] == -2.0 and got[4999] == -3.0
    assert got[0] == 0.0  # untouched bucket still readable via manifest


def test_replay_idempotent(spark, tmp_path, rows_df):
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=8)
    t.apply(rows_df)
    upd = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    t.apply(upd)
    first = sorted((r.k, r.v) for r in t.read().collect())
    t.apply(upd)  # replay
    assert sorted((r.k, r.v) for r in t.read().collect()) == first


def test_range_bucketer_key_locality(spark, tmp_path):
    """A contiguous key batch under a range bucketer dirties only the
    buckets its span covers (the cursor-page ingest shape)."""
    t = ParquetUpsertTable(
        spark,
        str(tmp_path / "t"),
        key="k",
        bucketer=range_bucketer(100),
    )
    base = spark.range(1000).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )
    t.apply(base)
    assert len(_bucket_dirs(t.current_generation())) == 10
    page = spark.range(150).select(
        (F.col("id") + 200).alias("k"), F.lit(1.0).alias("v")
    )
    t.apply(page)  # keys 200..349 span exactly buckets 2 and 3
    assert _bucket_dirs(t.current_generation()) == ["__bucket=2", "__bucket=3"]
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 1000
    assert got[200] == 1.0 and got[349] == 1.0 and got[199] == 0.0


def test_vacuum_retention_keeps_referenced_data(spark, tmp_path, rows_df):
    """Generations beyond retention are removed; every data directory a
    retained manifest references survives, so a reader holding the
    PRIOR pointer keeps working after vacuum."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=16)
    t.apply(rows_df)  # gen 0: all buckets
    for i in range(4):  # gens 1..4 each rewrite key 1's bucket
        upd = spark.createDataFrame([(1, float(-i))], "k long, v double")
        t.apply(upd)

    prior_gen = os.path.join(t.root, "gen_000003")
    prior_manifest = t._read_manifest(prior_gen)
    prior_paths = t._bucket_paths(prior_manifest)

    deleted = t.vacuum(retain_last=2)
    # gens 1 and 2's bucket rewrites were superseded by gens 3 and 4,
    # so no retained manifest references them -> gone
    assert "gen_000001" in deleted and "gen_000002" in deleted
    # gen 0 holds the clean buckets every later manifest still points
    # at -> it must survive even though it is far beyond retention
    assert os.path.isdir(os.path.join(t.root, "gen_000000"))

    # the concurrent reader who resolved the prior pointer still reads
    prior_df = spark.read.parquet(*prior_paths)
    assert prior_df.count() == 5000
    # and the current pointer reads the newest state
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == -3.0 and len(got) == 5000


def test_time_travel_reads_prior_generation(spark, tmp_path):
    t = ParquetUpsertTable(spark, str(tmp_path / "tt"), key="k", n_buckets=4)
    t.apply(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.apply(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"))
    now = {r.k: r.v for r in t.read().collect()}
    assert now == {1: "a", 2: "b2", 3: "c"}
    gen0 = {r.k: r.v for r in t.read(generation=0).collect()}
    assert gen0 == {1: "a", 2: "b"}
    with pytest.raises(ValueError, match="not committed"):
        t.read(generation=7)
    # a manifest on disk whose pointer flip never happened (crash
    # mid-apply) must not be readable as committed state
    import json as _json
    import os as _os

    fake = _os.path.join(str(tmp_path / "tt"), "gen_000009")
    _os.makedirs(fake)
    with open(_os.path.join(fake, "_MANIFEST.json"), "w") as f:
        _json.dump({"n_buckets": 4, "buckets": {}}, f)
    with pytest.raises(ValueError, match="not committed"):
        t.read(generation=9)


def test_reopen_with_different_bucketer_refuses_merge(spark, tmp_path):
    """The bucketer identity is part of the table's physical contract:
    merging with a different one would route keys away from their
    existing rows and silently break the upsert invariant — the table
    must refuse, not corrupt."""
    root = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, root, key="k", bucketer=range_bucketer(100))
    t.apply(spark.createDataFrame([(1, "a"), (250, "b")], "k long, v string"))

    upd = spark.createDataFrame([(1, "a2")], "k long, v string")
    # different bucketer family
    t_hash = ParquetUpsertTable(spark, root, key="k", bucketer=hash_bucketer)
    with pytest.raises(ValueError, match="bucketer mismatch"):
        t_hash.apply(upd)
    # same family, drifted width — exactly what deriving range width
    # from batch size would produce
    t_w = ParquetUpsertTable(spark, root, key="k", bucketer=range_bucketer(64))
    with pytest.raises(ValueError, match="bucketer mismatch"):
        t_w.apply(upd)
    # matching bucketer still merges fine
    t2 = ParquetUpsertTable(spark, root, key="k", bucketer=range_bucketer(100))
    t2.apply(upd)
    got = {r.k: r.v for r in t2.read().collect()}
    assert got == {1: "a2", 250: "b"}


def test_vacuum_ignores_uncommitted_orphan_manifest(spark, tmp_path):
    """A crash between manifest write and pointer flip leaves an orphan
    generation. vacuum must anchor retention on COMMITTED manifests only
    — with retain_last=1 it keeps the committed current generation (and
    GCs the orphan), never the other way around."""
    import json as _json

    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=4)
    t.apply(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.apply(spark.createDataFrame([(2, "b2")], "k long, v string"))
    cur = os.path.basename(t.current_generation())  # gen_000001

    # simulate crash mid-apply: manifest written, pointer never flipped
    orphan = os.path.join(t.root, "gen_000002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "_MANIFEST.json"), "w") as f:
        _json.dump({"n_buckets": 4, "buckets": {}, "schema": []}, f)

    deleted = t.vacuum(retain_last=1)
    assert "gen_000002" in deleted  # orphan GC'd
    assert os.path.isdir(os.path.join(t.root, cur))  # committed kept
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "b2"}  # _CURRENT still resolves


def test_compact_rewrites_to_single_generation(spark, tmp_path, rows_df):
    """compact() re-points every bucket at one new generation, one file
    per bucket dir; state is unchanged and a following vacuum reclaims
    every prior directory."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=16)
    t.apply(rows_df)
    for i in range(3):
        t.apply(
            spark.createDataFrame([(i * 7, float(-i))], "k long, v double")
        )
    before = sorted((r.k, r.v) for r in t.read().collect())
    # live manifest references bucket dirs across several generations
    m = t._read_manifest()
    assert len({p.split("/", 1)[0] for p in m["buckets"].values()}) > 1

    gen = t.compact()
    m2 = t._read_manifest()
    assert {p.split("/", 1)[0] for p in m2["buckets"].values()} == {gen}
    assert sorted((r.k, r.v) for r in t.read().collect()) == before
    # one data file per bucket dir — the compaction contract
    gen_dir = os.path.join(t.root, gen)
    for d in _bucket_dirs(gen_dir):
        parts = [
            f
            for f in os.listdir(os.path.join(gen_dir, d))
            if f.endswith(".parquet")
        ]
        assert len(parts) == 1, (d, parts)
    # nothing before the compact is referenced anymore
    deleted = t.vacuum(retain_last=1)
    assert set(t.generations()) == {gen}
    assert len(deleted) >= 1
    assert sorted((r.k, r.v) for r in t.read().collect()) == before


def test_compact_is_the_legitimate_bucketer_change_path(spark, tmp_path):
    """apply() refuses a bucketer change; compact() rewrites every row,
    so changing layout there is safe — and afterwards merges under the
    NEW fingerprint work while the old one is refused."""
    root = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, root, key="k", bucketer=range_bucketer(100))
    t.apply(
        spark.range(1000).select(
            F.col("id").alias("k"), F.lit(0.0).alias("v")
        )
    )
    t.compact(n_buckets=8, bucketer=hash_bucketer)
    assert t._read_manifest()["bucketer"] == "hash"
    # the same instance keeps merging (it adopted the new layout)
    t.apply(spark.createDataFrame([(5, 5.0)], "k long, v double"))
    # a reopen with the OLD bucketer is now the mismatch
    t_old = ParquetUpsertTable(
        spark, root, key="k", bucketer=range_bucketer(100)
    )
    with pytest.raises(ValueError, match="bucketer mismatch"):
        t_old.apply(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    # a reopen with the new bucketer merges fine
    t_new = ParquetUpsertTable(
        spark, root, key="k", n_buckets=8, bucketer=hash_bucketer
    )
    t_new.apply(spark.createDataFrame([(6, 6.0)], "k long, v double"))
    got = {r.k: r.v for r in t_new.read().collect()}
    assert len(got) == 1000 and got[5] == 5.0 and got[6] == 6.0


def test_combine_merge_folds_partials(spark, tmp_path):
    """apply(combine=...) folds batch partial aggregates into stored
    state (the incremental-MV refresh): the result equals the one-shot
    aggregate over all rows, and only the batch's buckets are touched."""
    t = ParquetUpsertTable(spark, str(tmp_path / "mv"), key="g", n_buckets=8)
    combine = {"n": "sum", "total": "sum", "hi": "max"}
    b1 = spark.createDataFrame(
        [("a", 2, 10.0, 5.0), ("b", 1, 3.0, 3.0)],
        "g string, n long, total double, hi double",
    )
    b2 = spark.createDataFrame(
        [("a", 3, 5.0, 9.0), ("c", 1, 1.0, 1.0)],
        "g string, n long, total double, hi double",
    )
    t.apply(b1, combine=combine)
    t.apply(b2, combine=combine)
    got = {r.g: (r.n, r.total, r.hi) for r in t.read().collect()}
    assert got == {
        "a": (5, 15.0, 9.0),
        "b": (1, 3.0, 3.0),
        "c": (1, 1.0, 1.0),
    }

    # a column without a combiner is ambiguous -> refuse
    from airflow_jira_etl_spark.operators.upsert import merge_aggregate

    with pytest.raises(ValueError, match="no combiner"):
        merge_aggregate(t.read(), b1, "g", {"n": "sum"})
    with pytest.raises(ValueError, match="unsupported combiner"):
        merge_aggregate(t.read(), b1, "g", {"n": "avg", "total": "sum", "hi": "max"})


def test_schema_evolution_adds_column_with_nulls(spark, tmp_path):
    """Fixed-DDL sink: a batch whose column set differs from the
    stored schema raises instead of evolving the table."""
    evolved = spark.createDataFrame(
        [(2, "b2", "extra2"), (3, "c", "extra3")], "k long, v string, note string"
    )
    t2 = ParquetUpsertTable(spark, str(tmp_path / "fx"), key="k", n_buckets=4)
    t2.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(Exception):
        t2.apply(evolved)


def test_lifecycle_merge_compact_vacuum_time_travel(spark, tmp_path):
    """The composed lifecycle walked end-to-end in ONE chain:
    create → merge×3 → compact → merge → vacuum → reads of old
    generations. Individual guards exist per step; this pins their
    interplay — compaction preserves state, vacuum after a compaction
    reclaims everything the compacted generation superseded, the
    time-travel surface shrinks to exactly the retained manifests, and
    a vacuumed generation refuses time travel loudly instead of
    serving partial data."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=8)
    base = spark.range(500).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v")
    )
    t.apply(base)  # gen 0: all buckets
    for i in range(1, 4):  # gens 1..3: single-key COW rewrites
        t.apply(
            spark.createDataFrame([(i, float(i))], "k long, v double")
        )
    state_g3 = sorted((r.k, r.v) for r in t.read().collect())

    t.compact()  # gen 4: one file per bucket, state unchanged
    assert sorted((r.k, r.v) for r in t.read().collect()) == state_g3
    t.apply(
        spark.createDataFrame([(0, -1.0)], "k long, v double")
    )  # gen 5

    # pre-vacuum, time travel still reaches the pre-compaction chain
    assert (
        sorted((r.k, r.v) for r in t.read(generation=3).collect())
        == state_g3
    )

    deleted = t.vacuum(retain_last=2)  # retains gens 4 and 5
    # the compaction superseded every pre-compact data dir: all gone
    assert deleted == [f"gen_{n:06d}" for n in range(4)]

    # the time-travel surface is now exactly the retained window
    assert (
        sorted((r.k, r.v) for r in t.read(generation=4).collect())
        == state_g3
    )
    got5 = {r.k: r.v for r in t.read(generation=5).collect()}
    assert got5[0] == -1.0 and len(got5) == 500
    with pytest.raises(ValueError, match="no retained manifest"):
        t.read(generation=3)

    # and the current pointer still serves the full, newest state
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 500 and got[0] == -1.0 and got[3] == 3.0


def test_vacuum_rejects_zero_retention(spark, tmp_path):
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=4)
    t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="retain_last"):
        t.vacuum(retain_last=0)


def test_concurrent_writer_lost_update_detected(spark, tmp_path):
    """Two writers merging from the same base generation: the second
    commit must refuse (its merge never saw the first writer's rows —
    flipping the pointer would silently drop them)."""
    root = str(tmp_path / "t")
    t1 = ParquetUpsertTable(spark, root, key="k", n_buckets=4)
    t1.apply(spark.createDataFrame([(1, "a")], "k long, v string"))

    # writer 2 commits while writer 1's merge (computed from gen 0)
    # is in flight — simulated by interleaving through the internals:
    # capture t1's base, let t2 commit, then drive t1's commit path
    base = t1.current_generation()
    t2 = ParquetUpsertTable(spark, root, key="k", n_buckets=4)
    t2.apply(spark.createDataFrame([(2, "b")], "k long, v string"))

    staging = os.path.join(root, ".staging_gen_999999_test")
    os.makedirs(staging)
    with pytest.raises(RuntimeError, match="concurrent modification"):
        t1._commit("gen_999999", staging, {"buckets": {}}, expected_base=base)
    assert not os.path.exists(staging)  # loser's staging cleaned up
    # the winner's committed generation is untouched by the refusal
    assert {r.k: r.v for r in t1.read().collect()} == {1: "a", 2: "b"}
    # and a clean retry on the current state succeeds
    t1.apply(spark.createDataFrame([(3, "c")], "k long, v string"))
    got = {r.k: r.v for r in t1.read().collect()}
    assert got == {1: "a", 2: "b", 3: "c"}


def test_apply_recovers_from_crash_orphan_generation(spark, tmp_path):
    """A crash between manifest write and pointer flip leaves a
    manifest-bearing gen dir BEYOND the pointer. The next apply()
    derives the same generation number; the commit must treat the
    orphan as crash garbage (committed = at-or-before the pointer, the
    same definition read()/vacuum() use) and replace it — not wedge
    every future merge with an unresolvable 'already published'
    error."""
    import json as _json

    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=4)
    t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))

    # simulate the crash: gen_000001 fully staged WITH manifest, but
    # _CURRENT still points at gen_000000
    orphan = os.path.join(t.root, "gen_000001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "_MANIFEST.json"), "w") as f:
        _json.dump({"n_buckets": 4, "buckets": {}, "schema": []}, f)

    t.apply(spark.createDataFrame([(2, "b")], "k long, v string"))
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "b"}
    assert os.path.basename(t.current_generation()) == "gen_000001"


def test_unlocked_commit_refuses_manifest_bearing_gen(
    spark, tmp_path, monkeypatch
):
    """On filesystems where fcntl.flock raises OSError (some
    object-store/NFS mounts), the crash-garbage deduction of
    test_apply_recovers_from_crash_orphan_generation no longer holds:
    a manifest-bearing gen dir beyond the pointer may be a LIVE
    concurrent publisher between its rename and pointer flip. The
    degraded path must refuse (concurrent modification) and leave the
    existing dir untouched — deleting it would be the lost update the
    commit protocol exists to prevent. A manifest-LESS dir is still
    replaceable: no publisher writes the manifest before the rename."""
    import fcntl
    import json as _json

    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=4)
    t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))

    def no_flock(fd, op):
        raise OSError("flock unsupported on this mount")

    monkeypatch.setattr(fcntl, "flock", no_flock)

    # a manifest-bearing gen_000001 beyond the pointer: possibly live
    orphan = os.path.join(t.root, "gen_000001")
    os.makedirs(orphan)
    marker = os.path.join(orphan, "_MANIFEST.json")
    with open(marker, "w") as f:
        _json.dump({"n_buckets": 4, "buckets": {}, "schema": []}, f)

    with pytest.raises(RuntimeError, match="concurrent modification"):
        t.apply(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert os.path.exists(marker)  # the possibly-live dir survives

    # manifest-less garbage is still replaced even without the lock
    os.remove(marker)
    t.apply(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "b"}


@pytest.mark.parametrize("n_buckets", [1, 8])
def test_apply_nondeterministic_batch_single_evaluation(
    spark, tmp_path, n_buckets
):
    """A multi-bucket apply() evaluates the update batch for the
    dirty-bucket set AND for the merge write; a nondeterministic source
    evaluated twice could land rows in buckets absent from the dirty
    set — files the manifest never points at (committed but invisible).
    Round 11 moved the batch materialization to localCheckpoint (a
    persist can evict and silently recompute through the source — the
    ranking family hit that exact class). A one-bucket table reads the
    batch once, inside the merge write, so the invariant holds by
    construction there. This pins it on both paths: with an
    unseeded-random key column, every written row is readable back and
    every bucket directory in the new generation is manifest-referenced,
    across repeated merges."""
    t = ParquetUpsertTable(
        spark, str(tmp_path / "t"), key="k", n_buckets=n_buckets
    )
    for batch in range(4):
        upd = spark.range(50).select(
            (F.rand() * 1000).cast("long").alias("k"),  # nondeterministic
            F.lit(f"b{batch}").alias("v"),
        )
        t.apply(upd)
        manifest = t._read_manifest()
        gen = os.path.basename(t.current_generation())
        referenced = {
            p.split("=", 1)[1]
            for p in manifest["buckets"].values()
            if p.startswith(gen + "/")
        }
        on_disk = {
            d.split("=", 1)[1]
            for d in os.listdir(t.current_generation())
            if d.startswith("__bucket=")
        }
        # every bucket dir the write produced is reachable through the
        # manifest — nothing committed-but-invisible
        assert on_disk == referenced, (gen, on_disk, referenced)
        # and the read-back covers every bucket's rows (counts match a
        # direct scan of the manifest-referenced files)
        got = t.read().count()
        direct = sum(
            spark.read.parquet(p).count()
            for p in t._bucket_paths(manifest)
        )
        assert got == direct > 0


@pytest.mark.parametrize("degraded", [False, True], ids=["flock", "no_flock"])
@pytest.mark.parametrize(
    "crash", ["after_rename", "after_manifest"], ids=["pre_manifest", "pre_flip"]
)
def test_publish_crash_matrix(spark, tmp_path, monkeypatch, degraded, crash):
    """Concurrent-publisher interleaving matrix: writer A dies mid-
    publish at each crash point (after the staging rename but before
    the manifest write / after the manifest write but before the
    pointer flip), then writer B publishes with and without a working
    flock. The pinned invariant: NO interleaving loses a COMMITTED
    generation (committed = referenced by ``_CURRENT``) — B either
    replaces provable crash garbage and commits, or refuses when the
    dir could be a live publisher it cannot disprove. The refusal arm
    then lets 'A' complete its pointer flip and proves both writers'
    rows survive a rerun — the exact lost update the degraded-path
    manifest check exists to prevent."""
    import fcntl
    import os as _os

    t = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=4)
    t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    base = t.current_generation()

    # ---- writer A: real apply(), killed at the parameterized point
    if crash == "after_rename":
        real_rename = _os.rename

        def rename_crash(src, dst, *a, **kw):
            out = real_rename(src, dst, *a, **kw)
            if os.path.basename(dst).startswith("gen_"):
                # the rename LANDED; the writer dies before it can
                # write the manifest into the renamed dir
                raise OSError("simulated crash before manifest write")
            return out

        monkeypatch.setattr(
            "airflow_jira_etl_spark.sinks.parquet_upsert.os.rename",
            rename_crash,
        )
    else:  # after_manifest: die on the pointer flip itself
        real_replace = _os.replace

        def replace_crash(src, dst, *a, **kw):
            if os.path.basename(dst) == "_CURRENT":
                raise OSError("simulated crash before pointer flip")
            return real_replace(src, dst, *a, **kw)

        monkeypatch.setattr(
            "airflow_jira_etl_spark.sinks.parquet_upsert.os.replace",
            replace_crash,
        )
    with pytest.raises(OSError, match="simulated crash"):
        t.apply(spark.createDataFrame([(2, "b")], "k long, v string"))
    monkeypatch.undo()
    orphan = os.path.join(t.root, "gen_000001")
    assert os.path.isdir(orphan)
    has_manifest = os.path.exists(os.path.join(orphan, "_MANIFEST.json"))
    assert has_manifest == (crash == "after_manifest")
    # A never flipped the pointer: the committed table is untouched
    assert t.current_generation() == base
    assert {r.k: r.v for r in t.read().collect()} == {1: "a"}

    # ---- writer B publishes, with/without an advisory lock
    if degraded:
        monkeypatch.setattr(
            fcntl,
            "flock",
            lambda fd, op: (_ for _ in ()).throw(OSError("no flock")),
        )
    b = ParquetUpsertTable(spark, str(tmp_path / "t"), key="k", n_buckets=4)
    b_rows = spark.createDataFrame([(3, "c")], "k long, v string")

    if degraded and crash == "after_manifest":
        # the dir may be a LIVE publisher between rename and flip; with
        # no lock to disprove it, B must refuse and touch nothing
        with pytest.raises(RuntimeError, match="concurrent modification"):
            b.apply(b_rows)
        assert os.path.exists(os.path.join(orphan, "_MANIFEST.json"))
        assert {r.k: r.v for r in b.read().collect()} == {1: "a"}
        # 'A' was indeed live: it completes its pointer flip; A's
        # generation — which deletion would have lost — is now committed
        tmp = b._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write("gen_000001")
        os.replace(tmp, b._pointer_path())
        assert {r.k: r.v for r in b.read().collect()} == {1: "a", 2: "b"}
        # B's rerun on the current state lands on top: nothing lost
        b.apply(b_rows)
        assert {r.k: r.v for r in b.read().collect()} == {
            1: "a", 2: "b", 3: "c",
        }
    else:
        # inside the lock (or manifest-less even without it) the orphan
        # is provable crash garbage: replaced, and B's publish commits
        b.apply(b_rows)
        assert {r.k: r.v for r in b.read().collect()} == {1: "a", 3: "c"}
        assert os.path.basename(b.current_generation()) == "gen_000001"
    # in EVERY arm the originally committed generation stayed readable
    assert {r.k: r.v for r in b.read(generation=0).collect()} == {1: "a"}


def test_null_bucket_ids_fail_loudly(spark, tmp_path):
    """A NULL bucket id (a NULL key under range_bucketer — CAST of NULL
    is NULL even under ANSI; non-numeric strings already raise at the
    ANSI CAST) must refuse the merge up front: committing would write
    rows to __HIVE_DEFAULT_PARTITION__ while the manifest records a
    __bucket=None path that never exists, wedging every later read.
    Compaction must refuse the same corruption."""
    # mixed null/non-null long keys (previously a TypeError from
    # sorted([None, 0]) at best, the manifest corruption at worst) —
    # since the round-11 null-KEY guard this is caught one step
    # earlier, as the key-contract violation it actually is
    t = ParquetUpsertTable(
        spark, str(tmp_path / "t"), key="k", bucketer=range_bucketer(100)
    )
    with pytest.raises(ValueError, match="non-null"):
        t.apply(spark.createDataFrame([(None, 1), (7, 2)], "k long, v long"))
    assert t.read() is None  # nothing was committed

    # compact() with a bucketer that NULLs keys refuses too
    def null_bucketer(df, keys, n):
        return F.lit(None).cast("int")

    null_bucketer.fingerprint = "null:test"
    t3 = ParquetUpsertTable(spark, str(tmp_path / "t3"), key="k")
    t3.apply(spark.createDataFrame([("x", 1)], "k string, v long"))
    with pytest.raises(ValueError, match="NULL bucket"):
        t3.compact(bucketer=null_bucketer)


def test_custom_bucketer_requires_explicit_fingerprint(spark, tmp_path):
    """A custom bucketer without .fingerprint must be rejected: the
    __name__/repr fallbacks either collide (two different functions
    both named 'bucketer' pass the mismatch guard — the key-misrouting
    bug it exists to prevent) or embed a per-run memory address (false
    mismatch on every restart)."""
    def bucketer(df, keys, n):
        return F.lit(0)

    t = ParquetUpsertTable(
        spark, str(tmp_path / "t"), key="k", bucketer=bucketer
    )
    with pytest.raises(ValueError, match="fingerprint"):
        t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    bucketer.fingerprint = "const:0"
    t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert {r.k: r.v for r in t.read().collect()} == {1: "a"}


def test_merge_aggregate_validation(spark):
    """combine entries naming grouping columns (duplicate output
    columns downstream) or columns absent from both frames must raise
    the semantic error, not a late analysis exception."""
    from airflow_jira_etl_spark.operators.upsert import merge_aggregate

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="key/cluster"):
        merge_aggregate(df, df, "k", {"k": "max", "v": "sum"})
    with pytest.raises(ValueError, match="absent"):
        merge_aggregate(df, df, "k", {"v": "sum", "ghost": "sum"})


def test_combine_with_int_column_survives_sum_widening(spark, tmp_path):
    """sum() WIDENS types (int->bigint): the manifest must record the
    merged files' actual types, not the batch's — a manifest saying
    'int' over INT64 files wedges every subsequent read with a parquet
    type-conversion error (and wedged means permanently: the next
    apply()'s base read fails too)."""
    t = ParquetUpsertTable(spark, str(tmp_path / "mvw"), key="g", n_buckets=4)
    combine = {"n": "sum"}
    b = spark.createDataFrame([("a", 2), ("b", 1)], "g string, n int")
    t.apply(b, combine=combine)
    # read-back works AND reports the widened type the files hold
    got1 = {r.g: r.n for r in t.read().collect()}
    assert got1 == {"a": 2, "b": 1}
    assert dict(t._read_manifest()["schema"])["n"] == "bigint"
    # a second int batch folds into the widened stored state (set-op
    # widening reconciles bigint vs int) and reads back again
    t.apply(
        spark.createDataFrame([("a", 3), ("c", 7)], "g string, n int"),
        combine=combine,
    )
    got2 = {r.g: r.n for r in t.read().collect()}
    assert got2 == {"a": 5, "b": 1, "c": 7}
    # a genuinely incompatible batch still raises the type error
    import pytest

    with pytest.raises(ValueError, match="type change"):
        t.apply(
            spark.createDataFrame([("a", "x")], "g string, n string"),
            combine={"n": "max"},
        )


def test_apply_rejects_null_keys_loudly(spark, tmp_path):
    """With the default hash_bucketer a NULL key still hashes to a
    valid bucket (xxhash64 of NULL returns the seed), so NULL-key rows
    passed the bucket guard and silently COLLAPSED to one arbitrary
    row in the merge window. The batch must be refused instead — the
    key is the table's primary key, which is NOT NULL by definition."""
    import pytest

    t = ParquetUpsertTable(spark, str(tmp_path / "nk"), key="k", n_buckets=4)
    bad = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c")], "k long, v string"
    )
    with pytest.raises(ValueError, match="non-null"):
        t.apply(bad)
    # the table stays usable (nothing committed)
    assert t.read() is None or t.read().count() == 0
    t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert t.read().count() == 1


def test_null_group_keys_fold_with_optin(spark, tmp_path):
    """null_keys='group' (round 12): the keys of an incremental MV are
    GROUP BY columns, and SQL aggregation has a NULL group — a fact
    row with a NULL dimension is legal data the MV must represent,
    not refuse. The NULL group must FOLD across batches like any
    other key; entity-key tables keep the default refusal."""
    t = ParquetUpsertTable(
        spark, str(tmp_path / "mvnull"), key="k", n_buckets=4,
        null_keys="group",
    )
    b1 = spark.createDataFrame(
        [(1, 10), (None, 5)], "k long, n long"
    )
    b2 = spark.createDataFrame(
        [(None, 7), (2, 1)], "k long, n long"
    )
    t.apply(b1, combine={"n": "sum"})
    t.apply(b2, combine={"n": "sum"})
    rows = {r.k: r.n for r in t.read().collect()}
    assert rows == {1: 10, None: 12, 2: 1}  # NULL group accumulated


def test_null_group_mode_requires_combine(spark, tmp_path):
    """null_keys='group' refuses a NON-combining apply() UP FRONT
    (round 13) — not just when a NULL key happens to arrive: a 'group'
    table's rows are aggregation state, and once a combining apply()
    has stored the NULL group, a later plain upsert touching that
    bucket would read the NULL-key row back as the merge BASE and trip
    the base-side guard mid-execution with entity-key advice that is
    wrong for this mode (a permanent, misdiagnosed dead-end). The
    refusal must name the mode mismatch and fire even for a clean
    batch with no NULL keys at all."""
    import pytest

    t = ParquetUpsertTable(
        spark, str(tmp_path / "nkg"), key="k", n_buckets=4,
        null_keys="group",
    )
    bad = spark.createDataFrame([(None, "a")], "k long, v string")
    with pytest.raises(ValueError, match="combining merge"):
        t.apply(bad)
    # the stored-NULL-group dead-end scenario: combine a NULL group in,
    # then attempt a plain upsert — must refuse with mode-mismatch
    # advice BEFORE execution, not the base-side entity-key guard
    t2 = ParquetUpsertTable(
        spark, str(tmp_path / "nkg2"), key="k", n_buckets=4,
        null_keys="group",
    )
    t2.apply(
        spark.createDataFrame([(None, 5), (1, 2)], "k long, n long"),
        combine={"n": "sum"},
    )
    clean = spark.createDataFrame([(1, 9)], "k long, n long")
    with pytest.raises(ValueError, match="mode mismatch"):
        t2.apply(clean)
    # the table is NOT a dead-end: the combining path still works
    t2.apply(clean, combine={"n": "sum"})
    rows = {r.k: r.n for r in t2.read().collect()}
    assert rows == {None: 5, 1: 11}
    with pytest.raises(ValueError, match="reject.*group|'group'"):
        ParquetUpsertTable(
            spark, str(tmp_path / "nkx"), key="k", null_keys="banana"
        )


def test_interval_batch_column_hits_the_clear_type_gate():
    """'interval day'.startswith('int') is True, so the old numeric
    prefix match classified interval types as numeric and let an
    interval-typed batch column through the early type gate — to die
    later in an opaque unionByName/write error. The gate must classify
    interval as NON-numeric so the clear 'type change ... unsupported'
    refusal fires."""
    from airflow_jira_etl_spark.sinks.parquet_upsert import _is_numeric_type

    assert _is_numeric_type("int") and _is_numeric_type("bigint")
    assert _is_numeric_type("decimal(10,2)") and _is_numeric_type("double")
    assert not _is_numeric_type("interval day")
    assert not _is_numeric_type("interval")
    assert not _is_numeric_type("string")


def _staging_dirs(root: str) -> list[str]:
    return [d for d in os.listdir(root) if d.startswith(".staging_")]


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_empty_first_batch_commits_no_bucket_dir(spark, tmp_path, n_buckets):
    """An empty first batch (an issues endpoint with total = 0, an empty
    users list) writes no bucket directory. The commit must re-point
    only the buckets the write produced: a manifest entry for a bucket
    that was never written would fail every later read."""
    t = ParquetUpsertTable(
        spark, str(tmp_path / "t"), key="k", n_buckets=n_buckets
    )
    t.apply(spark.createDataFrame([], "k long, v string"))
    assert t._read_manifest()["buckets"] == {}
    assert t.read().count() == 0
    t.apply(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "b"}
    assert os.path.basename(t.current_generation()) == "gen_000001"


def test_failed_one_bucket_write_leaves_no_staging(spark, tmp_path):
    """On a one-bucket table the NULL-key guard fires inside the merge
    write, after the staging path was chosen. The failure must surface
    as the key-contract ValueError, leave no .staging_* dir and no new
    generation, and leave the table accepting a clean batch."""
    root = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, root, key="k", n_buckets=1)
    t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    bad = spark.createDataFrame([(2, "b"), (None, "c")], "k long, v string")
    with pytest.raises(ValueError, match="non-null"):
        t.apply(bad)
    assert _staging_dirs(root) == []
    assert t.generations() == ["gen_000000"]
    t.apply(spark.createDataFrame([(2, "b")], "k long, v string"))
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "b"}


def test_null_bucket_write_is_refused_without_staging(spark, tmp_path):
    """A bucketer that yields NULL bucket ids for non-NULL keys writes
    its rows to __HIVE_DEFAULT_PARTITION__, which no manifest entry can
    name. apply() refuses the staged write, removes it and commits
    nothing."""
    def null_bucketer(df, keys, n):
        return F.lit(None).cast("int")

    null_bucketer.fingerprint = "null:test"
    root = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, root, key="k", bucketer=null_bucketer)
    with pytest.raises(ValueError, match="NULL bucket"):
        t.apply(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert _staging_dirs(root) == []
    assert t.read() is None


def _apply_counts(spark, t, batch, group):
    """(jobs, stages, tasks) of one apply() run under job group
    ``group``, read through statusTracker, and the physical plan of the
    last SQL execution it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "count the jobs of one apply")
    try:
        t.apply(batch)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [sid for j in jobs for sid in st.getJobInfo(j).stageIds]
    tasks = sum(st.getStageInfo(sid).numCompletedTasks for sid in stages)
    store = spark._jsparkSession.sharedState().statusStore()
    last = store.executionsList(store.executionsCount() - 1, 1).apply(0)
    return len(jobs), len(stages), tasks, last.physicalPlanDescription()


def test_one_bucket_apply_is_one_job_without_exchange(spark, tmp_path):
    """Job-count contract of the sink. On a one-bucket table that
    already holds a generation, an apply is its merge write alone: one
    job of one stage and one task, and the written plan has no Exchange.
    A 4-bucket table keeps its dirty-bucket job (and the shuffle of its
    merge), so more than one job runs there."""
    rows = [(k, "a") for k in range(200)]
    upd = [(k, "b") for k in range(100, 300)]
    schema = "k long, v string"
    t1 = ParquetUpsertTable(spark, str(tmp_path / "t1"), key="k", n_buckets=1)
    t1.apply(spark.createDataFrame(rows, schema))
    jobs, stages, tasks, plan = _apply_counts(
        spark, t1, spark.createDataFrame(upd, schema), "apply-one-bucket"
    )
    assert (jobs, stages, tasks) == (1, 1, 1), (jobs, stages, tasks)
    assert "InsertIntoHadoopFsRelationCommand" in plan
    assert "Exchange" not in plan, plan
    got = {r.k: r.v for r in t1.read().collect()}
    assert len(got) == 300 and got[0] == "a" and got[100] == "b"

    # a pipeline batch, the MAPPING flatten of raw JSON records: the
    # parse stays in the written plan and runs inside the one task
    from airflow_jira_etl_spark.entities import WORKLOG_MAPPING
    from airflow_jira_etl_spark.sources.paged_rest import records_to_flat_df

    def page(keys, desc):
        return records_to_flat_df(
            spark,
            [{"tempoWorklogId": str(k), "self": f"w{k}", "description": desc} for k in keys],
            WORKLOG_MAPPING,
        )

    tw = ParquetUpsertTable(spark, str(tmp_path / "tw"), key="tempo_worklog_id", n_buckets=1)
    tw.apply(page(range(200), "a"))
    jobs, stages, tasks, plan = _apply_counts(
        spark, tw, page(range(100, 300), "b"), "apply-one-bucket-flat"
    )
    assert (jobs, stages, tasks) == (1, 1, 1), (jobs, stages, tasks)
    assert "Exchange" not in plan, plan
    assert "from_json" in plan, plan
    got = {r.tempo_worklog_id: r.description for r in tw.read().collect()}
    assert len(got) == 300 and got["0"] == "a" and got["100"] == "b"

    t4 = ParquetUpsertTable(spark, str(tmp_path / "t4"), key="k", n_buckets=4)
    t4.apply(spark.createDataFrame(rows, schema))
    jobs, _, _, _ = _apply_counts(
        spark, t4, spark.createDataFrame(upd, schema), "apply-four-buckets"
    )
    assert jobs > 1
