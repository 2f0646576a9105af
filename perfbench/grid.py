"""Gridded workloads: the publish lifecycle and consumer reads on the store.

Inputs are seeded synthetic daily NetCDF3 provider files written with the
package's own ``write_netcdf3``: one file per issued day, longitudes on the
0..360 convention so ``canonicalize`` remaps them, and a -9999 sentinel on a
fixed number of cells per day so the NaN share per step is exact. A numpy
truth grid (last writer wins, sentinels as NaN) checks every output.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import math
import shutil
import warnings
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from harness import Tracer, dir_bytes, plan_fingerprint

START = dt.datetime(2020, 1, 1)
SENTINEL = -9999.0
LAT0, LON0, STEP = -20.0, 160.0, 0.5
#: bytes of one new tall row: int64 time + float32 latitude, longitude, value
ROW_BYTES = 20


@dataclass(frozen=True)
class Shape:
    ny: int = 24
    nx: int = 32
    history: int = 90  # days in the initial publish
    updates: int = 5  # daily updates after it
    reissue: int = 5  # preliminary days each daily update re-issues
    nan_cells: int = 12  # sentinel cells per day

    @property
    def days(self) -> int:
        return self.history + self.updates

    @property
    def cells(self) -> int:
        return self.ny * self.nx

    def backfill_days(self) -> range:
        """A quarter of the initial history, older than the re-issue window."""
        q = self.history // 4
        return range(q, 2 * q)


def descriptor(shape: Shape):
    from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor

    return DatasetDescriptor(
        dataset_name="bench_precip",
        data_var="precip",
        time_resolution="daily",
        unit_of_measurement="mm",
        missing_value=SENTINEL,
        dataset_start_date=START,
        has_nans=True,
        expected_nan_frequency=shape.nan_cells / shape.cells,
        allow_overwrite=True,
        time_bucket="month",
    )


@dataclass
class Inputs:
    """Provider files per publish step plus the truth they imply."""

    shape: Shape
    steps: list[tuple[str, Path, list[int]]] = field(default_factory=list)
    truth: np.ndarray | None = None  # (days, ny, nx), canonical lon order
    lats: np.ndarray | None = None
    lons: np.ndarray | None = None  # canonical, ascending

    def cells(self, names: set[str] | None = None) -> int:
        return sum(
            len(days) * self.shape.cells
            for name, _, days in self.steps
            if names is None or name in names
        )


def generate(root: Path, seed: int, shape: Shape, backfill: bool) -> Inputs:
    """Write the provider files for one lifecycle under ``root``."""
    from zarr_climate_etl_ipfs_spark.sources.netcdf3 import write_netcdf3

    rng = np.random.default_rng(seed)
    ny, nx = shape.ny, shape.nx
    lats = LAT0 + STEP * np.arange(ny)
    raw_lons = LON0 + STEP * np.arange(nx)
    canon = ((raw_lons + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    order = np.argsort(canon, kind="stable")
    climate = rng.gamma(2.0, 3.0, (ny, nx))
    truth = np.full((shape.days, ny, nx), np.inf, dtype=np.float32)
    shutil.rmtree(root, ignore_errors=True)
    inp = Inputs(shape, lats=lats, lons=canon[order])

    def issue(step: str, days: list[int]) -> None:
        d = root / step
        d.mkdir(parents=True)
        for day in days:
            vals = (climate * rng.gamma(1.5, 0.7, (ny, nx))).astype(np.float32)
            flat = vals.reshape(-1)
            flat[rng.choice(flat.size, shape.nan_cells, replace=False)] = SENTINEL
            truth[day] = np.where(vals == SENTINEL, np.nan, vals)[:, order]
            nc = write_netcdf3(
                dims={"time": 1, "latitude": ny, "longitude": nx},
                variables={
                    "time": (("time",), np.array([day], dtype="float64"),
                             {"units": "days since 2020-01-01"}),
                    "latitude": (("latitude",), lats, {}),
                    "longitude": (("longitude",), raw_lons, {}),
                    "precip": (("time", "latitude", "longitude"), vals[None],
                               {"missing_value": SENTINEL}),
                },
            )
            (d / f"precip_{day:04d}.nc").write_bytes(nc)
        inp.steps.append((step, d, days))

    issue("initial", list(range(shape.history)))
    for u in range(1, shape.updates + 1):
        last = shape.history + u - 1
        issue(f"update_{u:02d}", list(range(last - shape.reissue, last + 1)))
    if backfill:
        issue("backfill", list(shape.backfill_days()))
    inp.truth = truth
    return inp


def timestamps(days) -> list[dt.datetime]:
    return [START + dt.timedelta(days=int(d)) for d in days]


# -- output checks -----------------------------------------------------------


def grid_from_tall(pdf, inp: Inputs) -> np.ndarray:
    """Scatter a tall (time, latitude, longitude, precip) frame onto the
    truth's grid; cells absent from the frame stay +inf."""
    out = np.full(inp.truth.shape, np.inf, dtype=np.float32)
    t = ((pdf["time"].to_numpy().astype("datetime64[us]") - np.datetime64(START, "us"))
         // np.timedelta64(1, "D")).astype(int)
    y = np.rint((pdf["latitude"].to_numpy() - LAT0) / STEP).astype(int)
    x = np.searchsorted(inp.lons, pdf["longitude"].to_numpy())
    out[t, y, x] = pdf["precip"].to_numpy(dtype=np.float32, na_value=np.nan)
    return out


def same_grid(a: np.ndarray, b: np.ndarray) -> bool:
    return a.shape == b.shape and bool(np.array_equal(a, b, equal_nan=True))


def close(got, want, rtol: float = 1e-6) -> bool:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    return got.shape == want.shape and bool(
        np.allclose(got, want, rtol=rtol, atol=1e-9, equal_nan=True)
    )


# -- etl_lifecycle -----------------------------------------------------------


class Lifecycle:
    """One publish lifecycle per call to :meth:`run`, on a fresh store."""

    def __init__(self, spark, inp: Inputs, work: Path):
        from zarr_climate_etl_ipfs_spark.sources.netcdf3 import netcdf3_decoder

        self.spark = spark
        self.inp = inp
        self.work = work
        self.desc = descriptor(inp.shape)
        self.decoder = netcdf3_decoder(self.desc)
        self.n = 0

    def frame(self, path: Path):
        from zarr_climate_etl_ipfs_spark.sources.ingest import (
            canonicalize,
            read_binary_gridded,
        )

        raw = read_binary_gridded(self.spark, str(path), self.desc, decoder=self.decoder)
        return canonicalize(raw, self.desc)

    def publish(self, tr: Tracer, root: Path, res: dict):
        """Initial write, then every update step in order; returns the store."""
        from zarr_climate_etl_ipfs_spark.sources.store import GridStore

        store = GridStore(root, self.desc, self.spark)
        for name, path, days in self.inp.steps:
            if name == "initial":
                label, fn = "store.write_initial", store.write_initial
            else:
                label = "store.backfill" if name == "backfill" else "store.update"
                fn = store.update
            self._op(tr, res, label, lambda p=path, fn=fn: fn(self.frame(p)),
                     writes=store.data_path, new_cells=len(days) * self.inp.shape.cells)
        return store

    @staticmethod
    def _op(tr: Tracer, res: dict, label: str, fn, *args, writes: Path | None = None,
            new_cells: int = 0):
        """One timed call; when tracing, note what it wrote under ``writes``."""
        before = dir_bytes(writes) if (tr.enabled and writes is not None) else None
        res["ops"] += 1
        out, sec = tr.call(label, fn, *args)
        res["seconds"] += sec
        res["op_s"].setdefault(label, []).append(sec)
        if before is not None:
            after = dir_bytes(writes)
            tr.note(files=after[0] - before[0], bytes=after[1] - before[1],
                    new_bytes=new_cells * ROW_BYTES)
        return out, sec

    def run(self, tr: Tracer, probe_decode: bool = False) -> dict:
        """One lifecycle on a fresh store: publish, QC, export, then check
        every output against the truth. Returns timings and counts."""
        from zarr_climate_etl_ipfs_spark.operators import qc

        self.n += 1
        root = self.work / f"store_{self.n}"
        zpath = self.work / f"zarr_{self.n}"
        desc = self.desc
        res = {"ops": 0, "failed": 0, "seconds": 0.0, "op_s": {}, "cells": self.inp.cells()}
        store = self.publish(tr, root, res)

        ds = store.dataset()
        op = functools.partial(self._op, tr, res)
        op("qc.check_dtype", qc.check_dtype, ds, desc)
        op("qc.sample_value", qc.sample_value_check, ds, desc)
        op("qc.nan_binomial", qc.nan_binomial_check, ds, desc)
        backfill = dict((name, path) for name, path, _ in self.inp.steps)["backfill"]
        bad, _ = op("qc.compare",
                    lambda: qc.compare_datasets(self.frame(backfill), store.dataset(), desc).count())
        op("zarr2.export", lambda: store.export_zarr(str(zpath), overwrite=True), writes=zpath)

        if probe_decode:
            # the decode is lazy and fused into the write; drive it once more
            # to a noop sink so its own cost shows
            initial = self.inp.steps[0][1]
            tr.call("ingest.decode",
                    lambda: self.frame(initial).write.format("noop").mode("overwrite").save())
            tr.note(cells=self.inp.cells({"initial"}))

        # output checks, outside the timed calls
        res["failed"] += int(bad != 0)
        res["failed"] += int(not self.store_ok(store))
        res["failed"] += int(not self._zarr_ok(zpath))
        res["live_files"] = len(store.manifest()["files"])
        res["files_per_bucket"] = live_files_per_bucket(store)
        res["bytes_per_cell"] = store_bytes_per_cell(store)
        chunks = [p for p in (zpath / "precip").iterdir() if not p.name.startswith(".")]
        res["zarr_chunks"] = len(chunks)
        res["zarr_bytes"] = sum(p.stat().st_size for p in chunks)
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(zpath, ignore_errors=True)
        return res

    def store_ok(self, store) -> bool:
        """The published table equals the truth and its digests verify."""
        from zarr_climate_etl_ipfs_spark.sources.store import StoreError

        try:
            store.verify_integrity()
        except StoreError:
            return False
        pdf = store.dataset().toPandas()
        return len(pdf) == self.inp.truth.size and same_grid(
            grid_from_tall(pdf, self.inp), self.inp.truth)

    def _zarr_ok(self, zpath: Path) -> bool:
        from zarr_climate_etl_ipfs_spark.sources.zarr2 import read_zarr_array_local

        return same_grid(read_zarr_array_local(str(zpath), "precip"), self.inp.truth)


def live_files_per_bucket(store) -> float:
    """Live data files per time bucket: what a read of one bucket opens."""
    files = store.manifest()["files"]
    return len(files) / len({f.split("/", 1)[0] for f in files})


def store_bytes_per_cell(store) -> float:
    """Bytes under the store root, time-travel files included, per live cell."""
    return dir_bytes(store.root)[1] / store.manifest()["rows"]


# -- grid_reads --------------------------------------------------------------

WHOLE_HISTORY = ("climatology", "anomaly", "resample_time", "rolling_time_agg")
READ_KINDS = ("point", "window", "coarsen") + WHOLE_HISTORY
#: one block of the read mix: fixed counts per kind, so the median falls
#: among the point reads and the 75th percentile among the slower window,
#: coarsen and whole-history reads, not on the edge between two clusters
BLOCK = {"point": 14, "window": 1, "coarsen": 1, "whole_history": 4}
BLOCK_SIZE = sum(BLOCK.values())
WINDOW_DAYS, SEASON_DAYS, BOX = 30, 90, 8
COARSE = BOX * STEP


def read_plan(seed: int, blocks: int, shape: Shape) -> list[tuple]:
    """Seeded read sequence of (kind, day, y, x): each block holds the
    ``BLOCK`` counts in shuffled order, the whole-history operators taken in
    turn, and every read draws its own day and 8x8 box."""
    rng = np.random.default_rng(seed)
    out, turn = [], 0
    for _ in range(blocks):
        kinds = []
        for kind, n in BLOCK.items():
            if kind == "whole_history":
                kinds += [WHOLE_HISTORY[(turn + i) % len(WHOLE_HISTORY)] for i in range(n)]
                turn += n
            else:
                kinds += [kind] * n
        for i in rng.permutation(len(kinds)):
            kind = kinds[i]
            span = {"window": WINDOW_DAYS, "coarsen": SEASON_DAYS}.get(kind, 1)
            day = int(rng.integers(0, shape.days - span + 1))
            y = int(rng.integers(0, shape.ny - BOX + 1))
            x = int(rng.integers(0, shape.nx - BOX + 1))
            out.append((kind, day, y, x))
    return out


class Reads:
    """Consumer reads against a published store, each checked against the
    truth grid. ``run`` returns (seconds, ok, plan sha)."""

    def __init__(self, spark, inp: Inputs, store):
        self.spark = spark
        self.inp = inp
        self.store = store
        self.truth = inp.truth.astype(np.float64)

    def run(self, tr: Tracer, read: tuple) -> tuple[float, bool, str | None]:
        kind, day, y, x = read
        return getattr(self, f"_{kind}")(tr, day, y, x)

    def _base(self, tr: Tracer, day: int, span: int):
        a, b = timestamps([day, day + span - 1])
        df, sec = tr.call("store.time_sliced", self.store.time_sliced, a, b)
        if tr.enabled:
            tr.note(files=len(df.inputFiles()))
        return df, sec

    def _whole(self, tr: Tracer):
        df, sec = tr.call("store.dataset", self.store.dataset)
        if tr.enabled:
            tr.note(files=len(df.inputFiles()))
        return df, sec

    def _finish(self, tr, label, build, sec0):
        (df, out), sec = tr.call(label, build)
        sha = plan_fingerprint(df) if tr.enabled else None
        return out, sec0 + sec, sha

    def _point(self, tr, day, y, x):
        from pyspark.sql import functions as F

        base, s0 = self._base(tr, day, 1)
        lat, lon = float(self.inp.lats[y]), float(self.inp.lons[x])

        def build():
            df = base.filter((F.col("latitude") == lat) & (F.col("longitude") == lon)).select("precip")
            return df, df.collect()

        rows, sec, sha = self._finish(tr, "read.point", build, s0)
        want = self.truth[day, y, x]
        got = rows[0][0] if len(rows) == 1 else "missing"
        ok = got != "missing" and (
            (got is None and math.isnan(want)) or (got is not None and got == want)
        )
        return sec, ok, sha

    def _box(self, df, y, x):
        from pyspark.sql import functions as F

        la, lo = self.inp.lats[y:y + BOX], self.inp.lons[x:x + BOX]
        return df.filter(
            F.col("latitude").between(float(la[0]), float(la[-1]))
            & F.col("longitude").between(float(lo[0]), float(lo[-1]))
        )

    def _window(self, tr, day, y, x):
        from pyspark.sql import functions as F

        base, s0 = self._base(tr, day, WINDOW_DAYS)

        def build():
            df = self._box(base, y, x).groupBy("latitude", "longitude").agg(
                F.avg("precip").alias("mean"), F.max("precip").alias("max"),
                F.count("precip").alias("n"))
            return df, df.toPandas()

        pdf, sec, sha = self._finish(tr, "read.window", build, s0)
        pdf = pdf.sort_values(["latitude", "longitude"], ignore_index=True)
        blk = self.truth[day:day + WINDOW_DAYS, y:y + BOX, x:x + BOX]
        with _quiet():
            want_mean = np.nanmean(blk, axis=0).reshape(-1)
            want_max = np.nanmax(blk, axis=0).reshape(-1)
        want_n = (~np.isnan(blk)).sum(axis=0).reshape(-1)
        ok = (len(pdf) == BOX * BOX and close(pdf["mean"], want_mean)
              and close(pdf["max"], want_max) and np.array_equal(pdf["n"], want_n))
        return sec, ok, sha

    def _coarsen(self, tr, day, y, x):
        from zarr_climate_etl_ipfs_spark.operators.climate import coarsen

        base, s0 = self._base(tr, day, SEASON_DAYS)

        def build():
            df = coarsen(base, "precip", COARSE, COARSE)
            return df, df.toPandas()

        pdf, sec, sha = self._finish(tr, "climate.coarsen", build, s0)
        pdf = pdf.sort_values(["time", "latitude", "longitude"], ignore_index=True)
        blk = self.truth[day:day + SEASON_DAYS]
        lat_b = np.floor(self.inp.lats / COARSE) * COARSE
        lon_b = np.floor(self.inp.lons / COARSE) * COARSE
        ulat, ulon = np.unique(lat_b), np.unique(lon_b)
        want_sum, want_n = [], []
        for t in range(SEASON_DAYS):
            for a in ulat:
                for b in ulon:
                    cell = blk[t][np.ix_(lat_b == a, lon_b == b)]
                    want_sum.append(np.nansum(cell) if (~np.isnan(cell)).any() else np.nan)
                    want_n.append(cell.size)
        ok = (len(pdf) == len(want_sum) and close(pdf["precip_sum"], want_sum)
              and np.array_equal(pdf["n_cells"], want_n))
        return sec, ok, sha

    def _climatology(self, tr, day, y, x):
        from zarr_climate_etl_ipfs_spark.operators.climate import climatology

        base, s0 = self._whole(tr)

        def build():
            df = climatology(base, "precip", freq="month")
            return df, df.toPandas()

        pdf, sec, sha = self._finish(tr, "climate.climatology", build, s0)
        pdf = pdf.sort_values(["period", "latitude", "longitude"], ignore_index=True)
        months = np.array([d.month for d in timestamps(range(self.inp.shape.days))])
        want_mean, want_max, want_n = [], [], []
        for m in np.unique(months):
            blk = self.truth[months == m]
            with _quiet():
                want_mean.append(np.nanmean(blk, axis=0).reshape(-1))
                want_max.append(np.nanmax(blk, axis=0).reshape(-1))
            want_n.append((~np.isnan(blk)).sum(axis=0).reshape(-1))
        ok = (len(pdf) == sum(len(v) for v in want_n)
              and close(pdf["clim_mean"], np.concatenate(want_mean))
              and close(pdf["clim_max"], np.concatenate(want_max))
              and np.array_equal(pdf["n"], np.concatenate(want_n)))
        return sec, ok, sha

    def _anomaly(self, tr, day, y, x):
        from pyspark.sql import functions as F

        from zarr_climate_etl_ipfs_spark.operators.climate import anomaly

        base, s0 = self._whole(tr)

        def build():
            df = anomaly(base, "precip", freq="month").agg(
                F.sum(F.abs("anomaly")).alias("abs_sum"), F.count("anomaly").alias("n"))
            return df, df.collect()

        rows, sec, sha = self._finish(tr, "climate.anomaly", build, s0)
        months = np.array([d.month for d in timestamps(range(self.inp.shape.days))])
        abs_sum, n = 0.0, 0
        for m in np.unique(months):
            blk = self.truth[months == m]
            with _quiet():
                abs_sum += np.nansum(np.abs(blk - np.nanmean(blk, axis=0)))
            n += int((~np.isnan(blk)).sum())
        ok = len(rows) == 1 and rows[0]["n"] == n and close(rows[0]["abs_sum"], abs_sum)
        return sec, ok, sha

    def _resample_time(self, tr, day, y, x):
        from zarr_climate_etl_ipfs_spark.operators.climate import resample_time

        base, s0 = self._whole(tr)

        def build():
            df = resample_time(base, "precip", "month")
            return df, df.toPandas()

        pdf, sec, sha = self._finish(tr, "climate.resample_time", build, s0)
        pdf = pdf.sort_values(["period", "latitude", "longitude"], ignore_index=True)
        months = np.array([d.month for d in timestamps(range(self.inp.shape.days))])
        want_sum, want_n = [], []
        for m in np.unique(months):
            blk = self.truth[months == m]
            want_sum.append(np.nansum(blk, axis=0).reshape(-1))
            want_n.append((~np.isnan(blk)).sum(axis=0).reshape(-1))
        ok = (len(pdf) == sum(len(v) for v in want_n)
              and close(pdf["precip_sum"], np.concatenate(want_sum))
              and np.array_equal(pdf["n"], np.concatenate(want_n)))
        return sec, ok, sha

    def _rolling_time_agg(self, tr, day, y, x):
        from pyspark.sql import functions as F

        from zarr_climate_etl_ipfs_spark.operators.climate import rolling_time_agg

        base, s0 = self._whole(tr)

        def build():
            df = rolling_time_agg(base, "precip", days=7).agg(
                F.sum("rolling_mean_7d").alias("mean_sum"), F.count("rolling_mean_7d").alias("n"))
            return df, df.collect()

        rows, sec, sha = self._finish(tr, "climate.rolling_time_agg", build, s0)
        v = np.nan_to_num(self.truth, nan=0.0)
        c = (~np.isnan(self.truth)).astype(np.float64)
        cs_v = np.cumsum(np.concatenate([np.zeros((1,) + v.shape[1:]), v]), axis=0)
        cs_c = np.cumsum(np.concatenate([np.zeros((1,) + c.shape[1:]), c]), axis=0)
        lo = np.maximum(np.arange(v.shape[0]) - 6, 0)
        hi = np.arange(v.shape[0]) + 1
        wsum, wcnt = cs_v[hi] - cs_v[lo], cs_c[hi] - cs_c[lo]
        has = wcnt > 0
        ok = (len(rows) == 1 and rows[0]["n"] == int(has.sum())
              and close(rows[0]["mean_sum"], (wsum[has] / wcnt[has]).sum()))
        return sec, ok, sha


@contextlib.contextmanager
def _quiet():
    """Silence numpy's all-NaN slice warnings inside the truth reductions."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        yield
