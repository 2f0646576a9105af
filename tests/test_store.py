"""GridStore E2E tests — the system-test behavioral contract
(FIXTURES.md §8; reference tests/system/test_chirps.py:192-313)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import _tall, daily
from zarr_climate_etl_ipfs_spark.sources.store import GridStore, StoreError


@pytest.fixture
def store(tmp_path, desc, spark, initial_df):
    s = GridStore(tmp_path, desc, spark)
    s.write_initial(initial_df)
    yield s
    s.destroy()


def _point(df, t, lat, lon):
    rows = (
        df.filter(
            (F.col("time") == F.lit(t))
            & (F.col("latitude") == lat)
            & (F.col("longitude") == lon)
        )
        .select("data")
        .collect()
    )
    assert len(rows) == 1, f"expected exactly one cell, got {len(rows)}"
    return rows[0]["data"]


def test_initial_write_point_roundtrip(store, initial_pdf):
    """Scenario 1: initial write → exact float32 point read-back
    (test_chirps.py:192-235)."""
    t = dt.datetime(2021, 10, 1)
    src = initial_pdf[
        (initial_pdf.time == t)
        & (initial_pdf.latitude == 20.0)
        & (initial_pdf.longitude == 110.0)
    ]["data"].iloc[0]
    assert _point(store.dataset(), t, 20.0, 110.0) == src  # exact float32 equality


def test_initial_row_count_and_schema(store, desc, initial_df):
    ds = store.dataset()
    assert ds.count() == 138 * 16
    assert [f.name for f in ds.schema.fields] == desc.schema().fieldNames()
    assert dict(ds.dtypes)["data"] == "float"


def test_pure_append(store, spark, desc):
    """Scenario 2: contiguous append passes and is readable."""
    times = daily("2022-02-01", 5)
    pdf = _tall(times, seed=3)
    update = spark.createDataFrame(pdf, schema=desc.schema())
    res = store.update(update)
    assert res == {"inserts": 0, "appends": 5}
    ds = store.dataset()
    assert ds.count() == (138 + 5) * 16
    assert ds.agg(F.max("time")).first()[0] == dt.datetime(2022, 2, 5)


def test_append_with_hole_rejected(store, spark, desc):
    """Scenario 2b: append with missing bridge day raises
    (test_chirps.py:293-313)."""
    times = daily("2022-02-02", 4)  # skips 2022-02-01
    pdf = _tall(times, seed=4)
    update = spark.createDataFrame(pdf, schema=desc.schema())
    with pytest.raises(StoreError, match="append bridge broken"):
        store.update(update)


def test_mixed_update_insert_and_append(store, spark, desc, complex_update_df, complex_update_pdf):
    """Scenario 4: the canonical complex update — 24 inserts + 36 appends,
    but the appends here don't bridge (2022-02-01 follows 2022-01-31) — they
    do bridge. Inserted values must replace originals exactly; untouched
    neighbors must survive."""
    res = store.update(complex_update_df)
    assert res == {"inserts": 24, "appends": 36}
    ds = store.dataset()
    assert ds.count() == (138 + 36) * 16  # inserts replace, appends extend
    # inserted value replaced
    t = dt.datetime(2021, 10, 10)
    src = complex_update_pdf[
        (complex_update_pdf.time == t)
        & (complex_update_pdf.latitude == 10.0)
        & (complex_update_pdf.longitude == 100.0)
    ]["data"].iloc[0]
    assert _point(ds, t, 10.0, 100.0) == src
    # neighbor day (2021-10-11, not in update) retains original value
    assert ds.filter(F.col("time") == dt.datetime(2021, 10, 11)).count() == 16


def test_mixed_backfill_anchors_previous_end_on_append_leg(tmp_path, spark, desc):
    """With cadence_bounds set (irregular feed) a mixed update's append leg
    can be a backfill ending BELOW an overwritten existing time. The
    single-commit mixed path must still leave the APPEND leg's max in
    update_previous_end_date — what the old insert-commit-then-append-commit
    sequence left behind (its append commit wrote last), and what cadence
    anchoring reads — not the whole-batch max."""
    from dataclasses import replace

    irr = replace(
        desc,
        dataset_name="fake_obs_irr",
        update_cadence_bounds=(dt.timedelta(days=1), dt.timedelta(days=60)),
    )
    # gappy initial: 2021-09-16..20 and 24..25 (hole at 21-23)
    times = daily("2021-09-16", 5) + daily("2021-09-24", 2)
    s = GridStore(tmp_path, irr, spark)
    s.write_initial(spark.createDataFrame(_tall(times, seed=7), schema=irr.schema()))
    # mixed update: overwrite existing max (insert) + backfill the hole (appends)
    upd_times = daily("2021-09-21", 3) + [dt.datetime(2021, 9, 25)]
    res = s.update(spark.createDataFrame(_tall(upd_times, seed=8), schema=irr.schema()))
    assert res == {"inserts": 1, "appends": 3}
    props = s.properties()
    assert props["update_previous_end_date"] == "2021-09-23 00:00:00"
    # the whole-batch range still describes the update itself
    assert props["update_date_range"][1] == "2021-09-25 00:00:00"
    assert s.dataset().count() == 10 * 16
    s.destroy()


def test_insert_skipped_without_allow_overwrite(tmp_path, spark, initial_df, complex_update_df, desc):
    """Scenario 5: allow_overwrite=False → inserts skipped with a warning,
    appends still applied (publish.py:287-293)."""
    from dataclasses import replace

    import warnings as _warnings

    ro = replace(desc, dataset_name="fake_obs_ro", allow_overwrite=False)
    s = GridStore(tmp_path, ro, spark)
    s.write_initial(initial_df)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        res = s.update(complex_update_df)
    assert res == {"inserts": 0, "appends": 36}
    # the skip must be LOUD (reference parity: publish.py self.warn) — a
    # silent skip is a data-loss footgun (round-12 user-drive catch)
    assert any("allow_overwrite" in str(w.message) for w in caught)
    s.destroy()


def test_versions_and_properties(store):
    v = store.versions()
    assert [e["action"] for e in v] == ["initial"]
    props = store.properties()
    assert props["update_in_progress"] is False


def test_time_travel_versions(store, spark, desc, initial_pdf):
    """S12: a version is readable after later inserts rewrite its buckets
    (manifest version ↔ IPFS CID)."""
    t = dt.datetime(2021, 10, 10)
    v1 = store.current_version()
    original_value = _point(store.dataset(), t, 10.0, 100.0)

    # overwrite that day via insert
    pdf = _tall([t], seed=99)
    update = spark.createDataFrame(pdf, schema=desc.schema())
    store.update(update)
    v2 = store.current_version()
    assert v2 == v1 + 1

    new_value = _point(store.dataset(), t, 10.0, 100.0)
    old_value = _point(store.dataset(version=v1), t, 10.0, 100.0)
    assert old_value == original_value
    assert new_value != original_value
    assert [e["version"] for e in store.versions()] == [1, 2]


def test_time_sliced_prunes_and_matches(store):
    sl = store.time_sliced(dt.datetime(2021, 10, 1), dt.datetime(2021, 10, 31))
    assert sl.count() == 31 * 16
    # out-of-range slice is empty
    assert store.time_sliced(dt.datetime(2030, 1, 1), dt.datetime(2030, 2, 1)).count() == 0


def test_vacuum_reclaims_old_files(store, spark, desc):
    t = dt.datetime(2021, 11, 1)
    update = spark.createDataFrame(_tall([t], seed=5), schema=desc.schema())
    store.update(update)
    n_before = sum(1 for _ in store.data_path.rglob("*.parquet"))
    removed = store.vacuum(retention=dt.timedelta(0))  # single-writer test
    n_after = sum(1 for _ in store.data_path.rglob("*.parquet"))
    assert removed > 0 and n_after == n_before - removed
    # latest still fully readable, exactly one manifest left
    assert store.dataset().count() == 138 * 16
    assert [e["version"] for e in store.versions()] == [store.current_version()]


def test_update_with_10k_distinct_times_plan_safe(store, spark, desc):
    """A 10k-step mixed update — 138 overwrites of every existing step plus
    9,862 appends — commits as one version and reads back exactly: every
    step once, every cell once."""
    times = daily("2021-09-16", 10_000)  # covers all 138 existing + bridges
    pdf = _tall(times, seed=7)
    update = spark.createDataFrame(pdf, schema=desc.schema())
    res = store.update(update)
    assert res == {"inserts": 138, "appends": 9_862}
    ds = store.dataset()
    assert ds.count() == 10_000 * 16
    assert ds.select("time").distinct().count() == 10_000


def test_update_routes_read_input_twice_and_keep_their_actions(store, spark, desc):
    """A pure-insert update() evaluates its input frame twice: once in the
    validator's aggregation and once in the staged write. The replaced
    times and touched buckets come from the validator, so no third pass
    collects them again. Each route commits one version under its own
    action: insert, update (both legs) and append."""
    seen = spark.sparkContext.accumulator(0)

    def counted(t):
        seen.add(1)
        return t

    # nondeterministic, so the optimizer cannot copy the UDF into the
    # pushed-down NOT NULL filter: each count of a row is one pass
    ident = F.udf(counted, desc.schema()["time"].dataType).asNondeterministic()
    pdf = _tall(daily("2021-10-05", 3), seed=51)  # existing steps only
    df = spark.createDataFrame(pdf, schema=desc.schema())
    assert store.update(df.withColumn("time", ident("time"))) == {"inserts": 3, "appends": 0}
    assert seen.value == 2 * len(pdf)

    mixed = daily("2022-01-30", 4)  # two existing steps, two appends
    store.update(spark.createDataFrame(_tall(mixed, seed=52), schema=desc.schema()))
    appended = daily("2022-02-03", 2)
    store.update(spark.createDataFrame(_tall(appended, seed=53), schema=desc.schema()))
    actions = [e["action"] for e in store.versions()]
    assert actions == ["initial", "insert", "update", "append"]
    assert store.dataset().count() == (138 + 4) * 16


def test_column_encoding_gardening_roundtrip(store):
    """M6 (metadata.py:835-946): whitelist-constrained per-column encoding
    edit, metadata-only, round-trips through the properties file."""
    store.update_column_encoding("time", {"units": "days since 2021-09-16"})
    store.update_column_encoding("time", {"calendar": "proleptic_gregorian"})
    store.update_column_encoding("latitude", {"dtype": "float32"})
    enc = store.column_encodings()
    assert enc["time"] == {"units": "days since 2021-09-16", "calendar": "proleptic_gregorian"}
    assert enc["latitude"] == {"dtype": "float32"}
    store.remove_column_encoding("time", "calendar")
    assert store.column_encodings()["time"] == {"units": "days since 2021-09-16"}
    # removing an absent key is a no-op, like attrs.pop(key, None)
    store.remove_column_encoding("latitude", "missing")


def test_column_encoding_gardening_guards(store):
    with pytest.raises(ValueError, match="no changes"):
        store._modify_column_encoding("time")
    with pytest.raises(ValueError, match="invalid key"):
        store.update_column_encoding("time", {"totally_made_up": 1})
    with pytest.raises(ValueError, match="coordinate dimensions"):
        store.update_column_encoding("data", {"dtype": "float64"})  # data var -> re-parse


def test_compact_consolidates_buckets(store, spark, desc):
    """Maintenance: repeated appends accumulate one file per commit per
    bucket; compact() rewrites crowded buckets into consolidated files,
    preserves every row bit-for-bit, keeps prior versions readable until
    vacuum, and is a no-op when nothing is crowded."""
    # two appends into the same (monthly) buckets as the tail of the initial
    for seed, start in ((11, "2022-02-01"), (12, "2022-02-04")):
        upd = spark.createDataFrame(_tall(daily(start, 3), seed=seed), schema=desc.schema())
        store.append(upd)
    before = store.dataset()
    rows_before = before.count()
    sums_before = before.agg(F.sum(F.col("data").cast("double"))).first()[0]
    by_bucket: dict[str, int] = {}
    for f in store.manifest()["files"]:
        b = f.split("/")[0]
        by_bucket[b] = by_bucket.get(b, 0) + 1
    assert max(by_bucket.values()) > 1  # something to compact
    v_before = store.current_version()

    rewritten = store.compact(max_files_per_bucket=1)
    assert rewritten and all(n > 1 for n in rewritten.values())
    after_by_bucket: dict[str, int] = {}
    for f in store.manifest()["files"]:
        b = f.split("/")[0]
        after_by_bucket[b] = after_by_bucket.get(b, 0) + 1
    assert all(n == 1 for n in after_by_bucket.values())
    after = store.dataset()
    assert after.count() == rows_before
    assert after.agg(F.sum(F.col("data").cast("double"))).first()[0] == pytest.approx(
        sums_before
    )
    # time travel: the pre-compact version still reads
    assert store.dataset(version=v_before).count() == rows_before
    # idempotent: nothing crowded now
    assert store.compact(max_files_per_bucket=1) == {}
    # vacuum reclaims the replaced small files
    assert store.vacuum(retention=dt.timedelta(0)) > 0
    assert store.dataset().count() == rows_before


def test_content_addressing_and_integrity(store, spark, desc):
    """S23 analog: every manifest pins its files by sha256 with a Merkle-style
    content digest over the set; verify_integrity catches corruption, and
    carried-over files keep their digests across commits (CID stability)."""
    m1 = store.manifest()
    assert set(m1["file_digests"]) == set(m1["files"]) and m1["content_digest"]
    store.verify_integrity()

    upd = spark.createDataFrame(_tall(daily("2022-02-01", 2), seed=21), schema=desc.schema())
    store.append(upd)
    m2 = store.manifest()
    # unchanged files keep their digest; the set digest changed
    for f in m1["files"]:
        assert m2["file_digests"][f] == m1["file_digests"][f]
    assert m2["content_digest"] != m1["content_digest"]
    store.verify_integrity()

    # flip a byte in one live file → named failure
    victim = store.data_path / m2["files"][0]
    blob = bytearray(victim.read_bytes())
    blob[len(blob) // 2] ^= 0xFF
    victim.write_bytes(bytes(blob))
    with pytest.raises(StoreError, match="content mismatch"):
        store.verify_integrity()


def test_commit_conflict_put_if_absent(store):
    """Two writers that both computed version N: the commit point is a
    put-if-absent hard link, so exactly one wins and the loser raises a
    commit-conflict StoreError — POSIX rename would let the second writer
    silently clobber the first (the Delta mutual-exclusion property)."""
    prev = store.manifest()["files"]
    rng = store._rng_of(store.dataset())
    # both writers observed version 1 (the race window)
    assert store._commit("append", prev, rng, base_version=1) == 2
    with pytest.raises(StoreError, match="commit conflict"):
        store._commit("append", prev, rng, base_version=1)
    # exactly one v2 exists and the loser left no staging debris
    assert sorted(p.name for p in store.manifest_path.iterdir()) == [
        "v1.json",
        "v2.json",
    ]


def test_two_writer_race_no_lost_update(store, spark, desc):
    """Genuinely concurrent appends from two threads: with Delta-style
    append conflict retry (a loser re-reads the winner's manifest and
    recombines its already-staged files) BOTH must succeed, serialized as
    v2 then v3, with no rows lost from either."""
    import threading

    df_a = spark.createDataFrame(_tall(daily("2022-02-01", 3), seed=11), schema=desc.schema())
    df_b = spark.createDataFrame(_tall(daily("2022-02-04", 3), seed=12), schema=desc.schema())
    barrier = threading.Barrier(2)
    errs: dict[str, Exception] = {}

    def run(tag, df):
        barrier.wait()
        try:
            store.append(df)
        except StoreError as e:
            errs[tag] = e

    threads = [
        threading.Thread(target=run, args=("a", df_a)),
        threading.Thread(target=run, args=("b", df_b)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errs, errs
    assert store.current_version() == 3  # one version per append
    times = {r[0] for r in store.dataset().select("time").distinct().collect()}
    assert set(daily("2022-02-01", 3)) <= times
    assert set(daily("2022-02-04", 3)) <= times
    store.verify_integrity()


def test_append_conflict_retry_exhaustion_and_flag_hygiene(store, spark, desc, monkeypatch):
    """An append that loses every version race raises the commit-conflict
    StoreError once its retry budget is spent, and the update-in-progress
    flag clears even on that failure path (a stuck True would wedge every
    later update's guard)."""
    df = spark.createDataFrame(_tall(daily("2022-05-01", 2), seed=41), schema=desc.schema())
    real_commit = GridStore._commit

    def always_conflict(self, *a, **kw):
        kw["base_version"] = 0  # v1 exists → guaranteed put-if-absent loss
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(GridStore, "_commit", always_conflict)
    with pytest.raises(StoreError, match="commit conflict"):
        store.append(df)
    monkeypatch.undo()
    assert store.properties()["update_in_progress"] is False
    store.append(df)  # guard not wedged; append succeeds afterward
    assert store.current_version() == 2


def test_vacuum_retention_protects_inflight_writer(store, spark, desc):
    """The Delta-style retention window: files a concurrent writer staged
    into the live partition dirs but has not yet committed are younger
    than any sane retention, so vacuum must NOT delete them — an
    unwindowed vacuum racing a writer destroys its staged files and the
    writer's subsequent commit points at nothing."""
    # create an unreferenced file the way a racing writer would: staged
    # into a live partition dir, no manifest entry yet
    update = spark.createDataFrame(_tall(daily("2022-03-01", 2), seed=31), schema=desc.schema())
    staged = store._stage_files(update)
    assert staged  # present on disk, referenced by no manifest
    removed = store.vacuum()  # default retention
    for rel in staged:
        assert (store.data_path / rel).exists(), rel
    assert removed == 0
    # the "writer" now commits them — the table must read cleanly
    m = store.manifest()
    store._commit(
        "append", m["files"] + staged, store._rng_of(update), base_version=m["version"]
    )
    store.verify_integrity()
    # with retention waived (single-writer), nothing is live-unreferenced
    assert store.vacuum(retention=dt.timedelta(0)) == 0


def test_vacuum_retention_keeps_young_old_versions_travelable(store, spark, desc):
    """Old versions whose files all survive the retention window stay
    time-travelable; vacuum only retires manifests whose files are gone."""
    v1_rows = store.dataset().count()
    upd = spark.createDataFrame(_tall(daily("2022-04-01", 2), seed=33), schema=desc.schema())
    store.append(upd)
    assert store.vacuum() == 0  # everything younger than the window
    assert [e["version"] for e in store.versions()] == [1, 2]
    assert store.dataset(version=1).count() == v1_rows  # still readable


def test_zarr_export_ingest_roundtrip(tmp_path, desc, spark):
    """Zarr v2 interop: publish the store as a real zarr group
    (publish.py:240-261 analog), re-ingest it into a fresh store, and get
    the identical dataset back — NULL data cells surviving as NULL via the
    NaN fill_value round trip (transform.py:341-369 missing-value model)."""
    import numpy as np

    from zarr_climate_etl_ipfs_spark.sources import zarr2 as z

    pdf = _tall(daily("2021-09-16", 10), seed=9)
    pdf.loc[3, "data"] = np.nan  # one missing cell
    df = spark.createDataFrame(pdf, schema=desc.schema())
    df = df.withColumn(
        "data", F.when(F.isnan("data"), F.lit(None)).otherwise(F.col("data"))
    )
    src = GridStore(tmp_path / "src", desc, spark)
    src.write_initial(df)

    summary = src.export_zarr(tmp_path / "pub")
    assert summary["cells"] == 10 * 16 and summary["shape"] == [10, 4, 4]
    metas = z.open_group(str(tmp_path / "pub"))
    assert metas["data"].dims == ["time", "latitude", "longitude"]
    assert metas["data"].attrs["dataset_name"] == desc.dataset_name
    assert z.parse_fill(metas["data"].fill_value, metas["data"].np_dtype) is not None

    dst = GridStore(tmp_path / "dst", desc, spark)
    dst.ingest_zarr(tmp_path / "pub")
    a = sorted(map(tuple, src.dataset().collect()), key=lambda r: r[:3])
    b = sorted(map(tuple, dst.dataset().collect()), key=lambda r: r[:3])
    assert a == b
    assert sum(1 for r in b if r[3] is None) == 1  # the NULL survived

    # existing target refuses a silent clobber
    with pytest.raises(z.ZarrError, match="overwrite"):
        src.export_zarr(tmp_path / "pub")
    src.destroy()
    dst.destroy()


def test_zarr_encrypted_export_roundtrip(tmp_path, desc, spark):
    """Encrypted publish (metadata.py:711-717: EncryptionFilter on the data
    variable): chunk files are ciphertext on disk, and both the distributed
    read and a full ingest_zarr migration recover the data given the
    registered key — including across Spark's separate worker processes,
    which receive the resolved key through the kernel closure."""
    from zarr_climate_etl_ipfs_spark.sources import encryption
    from zarr_climate_etl_ipfs_spark.sources import zarr2 as z

    pdf = _tall(daily("2021-09-16", 6), seed=11)
    df = spark.createDataFrame(pdf, schema=desc.schema())
    src = GridStore(tmp_path / "src", desc, spark)
    src.write_initial(df)

    kh = encryption.register_key(bytes(range(32, 64)))
    pub = tmp_path / "pub_enc"
    src.export_zarr(pub, filters=[{"id": "xchacha20poly1305", "key_hash": kh}])
    # data chunks are ciphertext; coordinate axes stay browsable plaintext
    meta = z.open_group(str(pub))["data"]
    assert meta.filters[0]["id"] == "xchacha20poly1305"
    chunk0 = next(p for p in (pub / "data").iterdir() if not p.name.startswith("."))
    plain_probe = pdf["data"].to_numpy().tobytes()[:8]
    assert plain_probe not in chunk0.read_bytes()
    assert z.open_group(str(pub))["latitude"].filters == []

    back = z.read_zarr_tall(spark, str(pub), "data", skip_fill=False)
    assert back.count() == len(pdf)
    dst = GridStore(tmp_path / "dst", desc, spark)
    dst.ingest_zarr(pub)
    a = sorted(map(tuple, src.dataset().collect()), key=lambda r: r[:3])
    b = sorted(map(tuple, dst.dataset().collect()), key=lambda r: r[:3])
    assert a == b
    src.destroy()
    dst.destroy()


def test_diff_change_feed_between_versions(store, spark, desc, complex_update_df):
    """S12 extension: the cell-level change feed. Appends surface as
    'added' (no old value), slice-replacing inserts as 'changed' where the
    value moved, a self-diff is empty, and a compaction (same data, new
    files) correctly yields zero rows even though its buckets are
    re-scanned (the manifest prune is an over-approximation the join
    refines)."""
    v1 = store.current_version()
    res = store.update(complex_update_df)
    assert res == {"inserts": 24, "appends": 36}
    d = store.diff(v1)
    by_kind = {r["change"]: r["n"] for r in d.groupBy("change").agg(F.count("*").alias("n")).collect()}
    assert by_kind.get("added") == 36 * 16  # appended days
    assert by_kind.get("removed") is None  # full-grid inserts drop nothing
    assert 0 < by_kind.get("changed", 0) <= 24 * 16
    one_added = d.filter(F.col("change") == "added").limit(1).collect()[0]
    assert one_added["old_value"] is None and one_added["new_value"] is not None
    one_changed = d.filter(F.col("change") == "changed").limit(1).collect()[0]
    assert one_changed["old_value"] != one_changed["new_value"]
    # self-diff and across-compaction diff are both empty
    assert store.diff(store.current_version()).count() == 0
    # two separate single-day appends land extra files in the 2022-03
    # bucket so compact() has something to rewrite
    store.append(spark.createDataFrame(_tall(daily("2022-03-09", 1), seed=7)))
    store.append(spark.createDataFrame(_tall(daily("2022-03-10", 1), seed=8)))
    v2 = store.current_version()
    store.compact()
    assert store.current_version() > v2
    assert store.diff(v2).count() == 0


def test_restore_rolls_back_as_new_version(store, spark, desc, complex_update_df):
    """Delta RESTORE analog: a restore re-commits the old file list as a
    NEW version (forward history), the restored dataset equals the
    original exactly, a self-restore is a no-op, and a vacuumed target
    raises instead of committing dangling references."""
    v1 = store.current_version()
    store.update(complex_update_df)
    v2 = store.current_version()
    assert v2 > v1
    v3 = store.restore(v1)
    assert v3 > v2
    assert store.versions()[-1]["action"] == "restore"
    # restored content == v1 content, cell for cell
    assert store.diff(v1, v3).count() == 0
    # and it differs from v2 exactly inversely to the update's diff
    fwd = {(r["change"],) for r in store.diff(v1, v2).select("change").distinct().collect()}
    back = {(r["change"],) for r in store.diff(v2, v3).select("change").distinct().collect()}
    assert ("added",) in fwd and ("removed",) in back
    # self-restore is a no-op
    assert store.restore(store.current_version()) == v3
    # vacuum reclaims v2's files AND its manifest -> v2 is gone either way
    # (the "no longer restorable" branch guards the defensive case of a
    # manifest that outlives its files)
    store.vacuum(retention=dt.timedelta(0))
    with pytest.raises(StoreError, match="no manifest|no longer restorable"):
        store.restore(v2)


def test_restore_detects_concurrent_vacuum_toctou(store, spark, desc, complex_update_df):
    """A vacuum(retention=0) racing restore can reclaim the target's files
    BETWEEN restore's pre-commit existence check and its commit; the
    post-commit re-verify must fail loudly (naming the dangling version)
    rather than return a version with dangling references."""
    from zarr_climate_etl_ipfs_spark.sources.store import GridStore

    v1 = store.current_version()
    store.update(complex_update_df)
    v1_files = store.manifest(v1)["files"]
    orig_commit = GridStore._commit

    def racing_commit(self, *a, **k):
        v = orig_commit(self, *a, **k)
        # simulate the concurrent vacuum landing inside the race window
        for f in v1_files:
            (self.data_path / f).unlink(missing_ok=True)
        return v

    GridStore._commit = racing_commit
    try:
        with pytest.raises(StoreError, match="concurrent vacuum"):
            store.restore(v1)
    finally:
        GridStore._commit = orig_commit


def test_timestamp_as_of_time_travel(store, spark, desc):
    """Delta timestampAsOf twin: a wall-clock instant resolves to the
    latest version committed at or before it; instants before the first
    commit raise; version= and as_of= are mutually exclusive."""
    import time as _time

    v1 = store.current_version()
    t_v1 = dt.datetime.now(dt.timezone.utc)
    _time.sleep(0.05)
    upd = spark.createDataFrame(_tall(daily("2022-02-01", 2), seed=41), schema=desc.schema())
    store.append(upd)
    v2 = store.current_version()
    assert store.version_as_of(t_v1) == v1
    assert store.version_as_of(dt.datetime.now(dt.timezone.utc)) == v2
    assert store.dataset(as_of=t_v1).count() == 138 * 16
    assert store.dataset(as_of=dt.datetime.now(dt.timezone.utc)).count() == 140 * 16
    # naive datetimes are taken as UTC
    assert store.version_as_of(t_v1.replace(tzinfo=None)) == v1
    with pytest.raises(StoreError, match="no version committed"):
        store.version_as_of(t_v1 - dt.timedelta(days=1))
    with pytest.raises(StoreError, match="not both"):
        store.dataset(version=v1, as_of=t_v1)
    # the log surfaces the commit instants
    assert all("committed_utc" in e for e in store.versions())


def test_write_initial_empty_refuses_to_brick_store(tmp_path, desc, spark, initial_df):
    """An empty initial publish must raise StoreError instead of committing
    files=[] — that manifest would make has_existing() True while dataset()
    has no paths to read, wedging every later call (round-14 review catch).
    The store stays clean for a subsequent real write."""
    s = GridStore(tmp_path, desc, spark)
    with pytest.raises(StoreError, match="empty"):
        s.write_initial(initial_df.limit(0))
    assert not s.has_existing()  # no manifest committed
    s.write_initial(initial_df)  # still usable afterwards
    assert s.has_existing() and s.dataset().count() == initial_df.count()
    s.destroy()


def test_empty_batch_append_and_insert_are_clean_noops(store, spark, desc):
    """r16 /verify catch: an EMPTY batch fed to the low-level append() or
    insert() primitives staged zero files and then crashed on
    Observation.get with a bare java AssertionError (the metrics never
    materialize when the staging write runs zero tasks). Both now warn
    and skip the commit — no new version for no data. (update() keeps its
    validator's explicit StoreError("empty update").)"""
    empty = spark.createDataFrame([], schema=desc.schema())
    before = [v["version"] for v in store.versions()]
    with pytest.warns(UserWarning, match="no data files"):
        store.append(empty)
    with pytest.warns(UserWarning, match="no data files"):
        store.insert(empty)
    assert [v["version"] for v in store.versions()] == before
