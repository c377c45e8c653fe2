"""The four workloads: seeded inputs on disk, one-time preparation, one
job, its expected result and its output check.

A workload object lives for one benchmark process.  ``generate`` and
``prepare`` are set-up; ``job`` is one closed-loop batch job and returns
what the job computed (digests or collected rows); ``check`` compares that
with ``expected``, which is computed once per seed by :mod:`oracles`
without the engine and cached on disk.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles
from harness import frame_digest, node_metric, plan_nodes, plan_rows, rows_digest

import rosreestr_xml_to_gis_converter_spark.operators.attrs as attrs_mod
import rosreestr_xml_to_gis_converter_spark.operators.spatial_join as sj_mod
import rosreestr_xml_to_gis_converter_spark.pipeline as pipeline_mod
import rosreestr_xml_to_gis_converter_spark.sinks as sinks_mod
from rosreestr_xml_to_gis_converter_spark.checkpoint import CheckpointedWriter
from rosreestr_xml_to_gis_converter_spark.functions.geometry import pack_rings, unpack_rings
from rosreestr_xml_to_gis_converter_spark.operators.dedupe import minhash_lsh_pairs
from rosreestr_xml_to_gis_converter_spark.operators.knn import knn_grid
from rosreestr_xml_to_gis_converter_spark.operators.similarity import lsh_topk
from rosreestr_xml_to_gis_converter_spark.operators.spatial_join import (
    build_parcel_cover,
    prepare_cover,
    spatial_join,
)
from rosreestr_xml_to_gis_converter_spark.operators.tiling import tile_masks
from rosreestr_xml_to_gis_converter_spark.pipeline import (
    build_parcel_layer,
    contours_of,
    export_outputs,
)
from rosreestr_xml_to_gis_converter_spark.sources import synth_xml
from rosreestr_xml_to_gis_converter_spark.sources.xml_extract import (
    extract_zip_contents,
    read_extract_dir,
)
from rosreestr_xml_to_gis_converter_spark.synth import TESTDATA_BOX, GeoBox, gen_parcels

ORACLE_VERSION = 2
RES = 12  # parcel cover resolution
K = 3  # kNN k
KNN_RES = 14  # kNN grid resolution
KNN_INNER = 2  # images need >= K centroids within this many kNN cells ...
KNN_DISK = int(np.ceil((KNN_INNER + 1) * np.sqrt(5.0))) + 1  # ... so this disk is exact

SIZES = {
    "full": dict(images=30000, parcels=1000, files=40, docs=5000, twins=250,
                 vecs=2000, vtwins=200, queries=500),
    "smoke": dict(images=2000, parcels=1000, files=20, docs=400, twins=20,
                  vecs=300, vtwins=20, queries=60),
}


def _write_parquet(table: pa.Table, out_dir: Path, files: int) -> None:
    """``files`` parquet files of one row group each, so the scan has at
    least that many splits."""
    out_dir.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, out_dir / f"part-{i:03d}.parquet", row_group_size=max(1, step))


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Workload:
    name = ""
    extra_conf: dict[str, str] = {}

    def __init__(self, seed: int, work: Path, scale: str, tracer, cores: int, cache: Path):
        self.seed = seed
        self.work = work
        self.scale = scale
        self.size = SIZES[scale]
        self.tracer = tracer
        self.cores = cores
        self.cache = cache
        self.records = 0  # input records finished by one job
        self.out_bytes_per_in_byte = 0.0
        self.planted_recall = 0.0

    # set-up ---------------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """One-time layer preparation (counts in set-up)."""

    # the job ----------------------------------------------------------------
    def job(self, spark) -> dict:
        raise NotImplementedError

    def after_job(self) -> None:
        """Remove per-job output; never touches engine caches."""

    def check(self, got: dict, expected: dict) -> bool:
        return all(tuple(got[k]) == tuple(expected[k]) for k in expected)

    def layer_alive(self) -> bool | None:
        """Is the prepared layer's broadcast still usable (None: none)."""
        return None

    # expected result (cached per seed) ------------------------------------------
    def expected(self) -> dict:
        """Cached under a hash of the input files, so any change to the
        generator invalidates it."""
        h = hashlib.sha256(str(ORACLE_VERSION).encode())
        for f in sorted((self.work / "in").rglob("*")):
            if f.is_file():
                h.update(str(f.relative_to(self.work)).encode())
                h.update(f.read_bytes())
        path = self.cache / f"{self.name}-{h.hexdigest()[:20]}.json"
        if path.exists():
            return json.loads(path.read_text())
        exp = self.compute_expected()
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(exp))
        tmp.replace(path)
        return exp

    def compute_expected(self) -> dict:
        raise NotImplementedError

    def trace_counters(self, spark) -> None:
        """Per-layer counters recorded once in a traced run."""


# ---------------------------------------------------------------------------
# images x parcels
# ---------------------------------------------------------------------------


def _phash_for(lon, lat, box: GeoBox) -> np.ndarray:
    """Inverse of the geotag rule: (lon, lat) -> phash bits."""
    lo = np.floor((lon - box.lon0) / box.dlon * 2.0**32).astype(np.uint64)
    hi = np.floor((lat - box.lat0) / box.dlat * 2.0**32).astype(np.uint64)
    return ((hi << np.uint64(32)) | lo).view(np.int64)


def _centroid(rings) -> tuple[float, float]:
    outer = rings[0][:-1]
    return float(outer[:, 0].mean()), float(outer[:, 1].mean())


class _ImagesParcels(Workload):
    """Shared generator: ``gen_parcels`` polygons in a 3 x 1.5 degree part
    of ``TESTDATA_BOX`` plus seeded points where the parcels lie; the
    points are geotagged through ``TESTDATA_BOX``."""

    box = TESTDATA_BOX
    layer_box = GeoBox(lon0=34.5, lat0=52.25, dlon=3.0, dlat=1.5)

    def _layer(self):
        parcels = gen_parcels(self.seed, self.size["parcels"], self.layer_box)
        cads = [c for c, _ in parcels]
        cen = np.array([_centroid(r) for _, r in parcels])
        return parcels, cads, cen[:, 0], cen[:, 1]

    def _uniform(self, rng, n):
        b = self.layer_box
        lon = b.lon0 + b.dlon * rng.uniform(0.1, 0.9, n)
        lat = b.lat0 + b.dlat * rng.uniform(0.1, 0.9, n)
        return lon, lat

    def _points(self, rng, n):
        lon, lat = self._uniform(rng, n)
        return _phash_for(lon, lat, self.box)

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.parcels, self.cads, self.clon, self.clat = self._layer()
        self.phash = self._points(rng, self.size["images"])
        self.image_ids = np.array([f"img-{i:09d}" for i in range(len(self.phash))], dtype=object)
        self.records = len(self.phash)
        shutil.rmtree(self.work / "in", ignore_errors=True)
        _write_parquet(
            pa.table({"image_id": self.image_ids, "phash": self.phash}),
            self.work / "in" / "images", self.cores,
        )
        _write_parquet(
            pa.table({"geom_key": self.cads, "doc_id": self.cads,
                      "geom": [pack_rings(r) for _, r in self.parcels]}),
            self.work / "in" / "contours", 1,
        )
        _write_parquet(
            pa.table({"cad_number": self.cads, "clon": self.clon, "clat": self.clat}),
            self.work / "in" / "centroids", 1,
        )

    def _read_contours(self):
        t = pq.read_table(self.work / "in" / "contours")
        return [(k, unpack_rings(g)) for k, g in zip(t["geom_key"].to_pylist(),
                                                    t["geom"].to_pylist())]

    def _images(self, spark):
        return spark.read.parquet(str(self.work / "in" / "images"))

    def _join_expected(self) -> tuple[int, int, int]:
        lon, lat = oracles.lonlat_of(self.phash, self.box)
        pi, pj = oracles.join_pairs(lon, lat, self.parcels)
        cells = oracles.cell_of(lon, lat, RES)
        ids, cads = self.image_ids, self.cads
        return rows_digest((ids[i], cads[j], int(cells[i])) for i, j in zip(pi.tolist(), pj.tolist()))

    def _join_counters(self, joined) -> None:
        """Candidates of the cell equi-join (every join node of the traced
        join's executed plan), the boundary ones (the join under the Arrow
        refine) and the refine's keep rate (rows the refine returned)."""
        cand = bnd = kept = 0
        for cls, node, up in plan_nodes(joined):
            if cls.endswith("JoinExec"):
                rows = node_metric(node, "numOutputRows")
                cand += rows
                bnd += rows if "MapInArrowExec" in up else 0
            elif cls == "MapInArrowExec":
                kept += node_metric(node, "pythonNumRowsReceived")
        self.tracer.count("spatial_join.candidates", cand)
        self.tracer.count("spatial_join.boundary_candidates", bnd)
        self.tracer.count("spatial_join.refine_kept_frac", kept / bnd if bnd else 0.0)

    def _cover_counters(self, cover) -> None:
        full = cover.select("full").toPandas()["full"].to_numpy(bool)
        self.tracer.count("grid.cover_rows", len(full))
        self.tracer.count("grid.boundary_frac", float((~full).mean()))
        self.tracer.count("spatial_join.task_skew", self.tracer.task_skew("spatial_join.spatial_join"))


class Geotag(_ImagesParcels):
    """Broadcast join against a prepared cover, then kNN to centroids."""

    name = "geotag"

    def _points(self, rng, n):
        # keep only points with >= K centroids within KNN_INNER cells: for
        # them the KNN_DISK candidate disk provably holds the true kNN
        # (the exactness condition knn_grid documents)
        cx, cy = oracles.grid_ij(self.clon, self.clat, KNN_RES)
        x0, y0 = cx.min() - KNN_INNER, cy.min() - KNN_INNER
        grid = np.zeros((cx.max() - x0 + KNN_INNER + 1, cy.max() - y0 + KNN_INNER + 1), np.int64)
        np.add.at(grid, (cx - x0, cy - y0), 1)
        w = 2 * KNN_INNER + 1
        integ = np.pad(grid.cumsum(0).cumsum(1), ((1, 0), (1, 0)))
        box = integ[w:, w:] - integ[:-w, w:] - integ[w:, :-w] + integ[:-w, :-w]
        kept: list[np.ndarray] = []
        have = 0
        while have < n:
            lon, lat = self._uniform(rng, n)
            ix, iy = oracles.grid_ij(lon, lat, KNN_RES)
            ix, iy = ix - x0 - KNN_INNER, iy - y0 - KNN_INNER
            ok = (ix >= 0) & (iy >= 0) & (ix < box.shape[0]) & (iy < box.shape[1])
            ok[ok] = box[ix[ok], iy[ok]] >= K
            ph = _phash_for(lon[ok], lat[ok], self.box)
            kept.append(ph)
            have += len(ph)
        return np.concatenate(kept)[:n]

    def prepare(self, spark) -> None:
        with self.tracer.span("spatial_join.prepare_cover"):
            cover = build_parcel_cover(spark, self._read_contours(), RES)
            self.pc = prepare_cover(cover)
        self.cover = cover

    def layer_alive(self) -> bool:
        return bool(self.pc.geom_bc._jbroadcast.isValid())

    def job(self, spark) -> dict:
        from pyspark.sql import functions as F

        images = self._images(spark)
        cen = spark.read.parquet(str(self.work / "in" / "centroids"))
        joined = self.tracer.call("spatial_join.spatial_join", spatial_join, images, self.pc, self.box)
        out = {"join": frame_digest(joined, ["image_id", "cad_number", "cell"])}
        if self.tracer.enabled:
            self._join_counters(joined)
        knn = self.tracer.call(
            "knn.knn_grid", knn_grid, images, cen, self.box, K, KNN_RES, KNN_DISK, layer_fallback=True
        )
        out["knn"] = frame_digest(
            knn, ["image_id", "cad_number", "rank", F.floor(F.col("dist") * F.lit(1e12))]
        )
        return out

    def compute_expected(self) -> dict:
        lon, lat = oracles.lonlat_of(self.phash, self.box)
        ii, jj, dd = oracles.knn_numpy(lon, lat, self.clon, self.clat, self.cads, K)
        rank = np.tile(np.arange(1, K + 1), len(lon))
        # the SQL realization must agree on a seeded sample
        sample = np.random.default_rng(self.seed + 1).choice(len(lon), min(len(lon), 2000), replace=False)
        got = oracles.knn_duckdb(lon, lat, self.clon, self.clat, self.cads, K, sample)
        sel = np.isin(ii, sample)
        mine = {(int(i), self.cads[j], int(r), float(d))
                for i, j, r, d in zip(ii[sel], jj[sel], rank[sel], dd[sel])}
        if got != mine:
            raise RuntimeError("kNN oracles disagree (numpy vs DuckDB)")
        ids, cads = self.image_ids, self.cads
        knn = rows_digest((ids[i], cads[j], int(r), oracles.dist_key(d))
                          for i, j, r, d in zip(ii.tolist(), jj.tolist(), rank.tolist(), dd.tolist()))
        return {"join": self._join_expected(), "knn": knn}

    def trace_counters(self, spark) -> None:
        self._cover_counters(self.cover)
        # centroids within the candidate disk, from the inputs: knn_grid
        # keeps its candidates in per-cell arrays, so no plan node counts
        # them; every image has >= K of them by construction (_points)
        lon, lat = oracles.lonlat_of(self.phash, self.box)
        ix, iy = oracles.grid_ij(lon, lat, KNN_RES)
        cx, cy = oracles.grid_ij(self.clon, self.clat, KNN_RES)
        n_in = np.zeros(len(ix), np.int64)
        for s in range(0, len(ix), 4096):
            dx = np.abs(ix[s:s + 4096, None] - cx[None, :])
            dy = np.abs(iy[s:s + 4096, None] - cy[None, :])
            n_in[s:s + 4096] = ((dx <= KNN_DISK) & (dy <= KNN_DISK)).sum(axis=1)
        self.tracer.count("knn.candidates_per_image", float(n_in.mean()))


class SkewShuffled(_ImagesParcels):
    """Shuffled join (no broadcast anywhere) with a hot boundary cell."""

    name = "skew_shuffled"
    extra_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    HOT = 0.4

    def _points(self, rng, n):
        n_hot = int(n * self.HOT)
        lon, lat = self._uniform(rng, n - n_hot)
        # one boundary cell of the largest polygon: the cell holding its
        # first outer vertex, which an edge always crosses
        areas = [np.ptp(r[0][:, 0]) * np.ptp(r[0][:, 1]) for _, r in self.parcels]
        v = self.parcels[int(np.argmax(areas))][1][0][0]
        ix, iy = oracles.grid_ij(np.array([v[0]]), np.array([v[1]]), RES)
        w, h = 360.0 / (1 << RES), 180.0 / (1 << RES)
        hlon = -180.0 + (ix[0] + rng.uniform(0.001, 0.999, n_hot)) * w
        hlat = -90.0 + (iy[0] + rng.uniform(0.001, 0.999, n_hot)) * h
        lon, lat = np.concatenate([lon, hlon]), np.concatenate([lat, hlat])
        perm = rng.permutation(n)
        return _phash_for(lon[perm], lat[perm], self.box)

    def prepare(self, spark) -> None:
        with self.tracer.span("spatial_join.prepare_cover"):
            self.cover = build_parcel_cover(spark, self._read_contours(), RES).cache()
            self.cover.count()

    def job(self, spark) -> dict:
        joined = self.tracer.call(
            "spatial_join.spatial_join", spatial_join, self._images(spark), self.cover, self.box,
            broadcast_cover=False,
        )
        out = {"join": frame_digest(joined, ["image_id", "cad_number", "cell"])}
        if self.tracer.enabled:
            self._join_counters(joined)
        return out

    def compute_expected(self) -> dict:
        return {"join": self._join_expected()}

    def trace_counters(self, spark) -> None:
        self._cover_counters(self.cover)


# ---------------------------------------------------------------------------
# EGRN extract conversion
# ---------------------------------------------------------------------------

EXTRACT_BOX = GeoBox(lon0=33.0, lat0=52.0, dlon=1.2, dlat=0.6)
OWNERS = ["Иванов Иван Иванович", "Петрова Анна Сергеевна", "Сидоров Пётр Ильич"]


def _zip_entry(name: str) -> zipfile.ZipInfo:
    """A fixed timestamp, so a seed's ZIPs are byte-identical per run."""
    return zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))


class ExtractConvert(Workload):
    """XML extracts (some zipped twice, some broken) -> parcel layer ->
    SHP + XLSX export, and the layer's tile masks through the
    checkpointed writer."""

    name = "extract_convert"
    BUCKETS = 4

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.size["files"]
        pool = iter(gen_parcels(self.seed, 3 * n, EXTRACT_BOX))
        src = self.work / "in"
        shutil.rmtree(src, ignore_errors=True)
        src.mkdir(parents=True)
        docs, ok, errors = [], [], []
        # the same mix for every seed (shuffled): 5% broken, 45% KVZU, 35%
        # land_record, 15% KVOKS; 1-3 contours and rights in equal shares
        kinds = rng.permutation(np.searchsorted([0.05, 0.50, 0.85], (np.arange(n) + 0.5) / n))
        n_cs = rng.permutation(np.arange(n) % 3 + 1)
        n_rs = rng.permutation(np.arange(n) % 3 + 1)
        for i in range(n):
            name = f"doc-{i:05d}.xml"
            kind, n_c, n_r = int(kinds[i]), int(n_cs[i]), int(n_rs[i])
            cad = f"{50 + i % 40}:{i % 97:02d}:{1000000 + i}:{i + 1}"
            rings = [next(pool)[1] for _ in range(n_c)]
            if kind == 0:
                if i % 2:
                    xml = synth_xml.kvzu_xml(cad, rings[0])[: -40]  # truncated
                    errors.append((name, "parse_error"))
                else:
                    xml = synth_xml.unsupported_xml()
                    errors.append((name, "unsupported_schema"))
            elif kind == 1:
                rights = [{"code": "001001000000", "owner": OWNERS[r % 3], "share": (1, n_r)}
                          for r in range(n_r)]
                if n_c == 1:
                    xml = synth_xml.kvzu_xml(cad, rings[0], rights=rights)
                    keys = [cad]
                else:
                    cr = {str(c + 1): rings[c] for c in range(n_c)}
                    xml = synth_xml.kvzu_xml(cad, None, contour_rings=cr, rights=rights)
                    keys = [f"{cad}({c + 1})" for c in range(n_c)]
                ok.append((name, cad, keys))
            elif kind == 2:
                rr = synth_xml.egrn_right_records(
                    [{"type": "Собственность", "holders": [("individual", OWNERS[r % 3])],
                      "share": (1, n_r)} for r in range(n_r)]
                )
                cts = {f"{cad}({c + 1})": rings[c] for c in range(n_c)}
                xml = synth_xml.land_record_xml(cad, None, contours=cts, right_records=rr)
                ok.append((name, cad, list(cts)))
            else:
                xml = synth_xml.kvoks_xml(cad, rings[0])
                ok.append((name, cad, [cad]))
            docs.append((name, xml.encode()))
        # ~10% of the documents travel inside two-level ZIPs (with a .sig
        # companion that the unpacker drops)
        zipped = set(rng.choice(n, n // 10, replace=False).tolist())
        outer_names = {}
        for i, (name, data) in enumerate(docs):
            if i not in zipped:
                (src / name).write_bytes(data)
                continue
            inner = io.BytesIO()
            with zipfile.ZipFile(inner, "w") as z:
                z.writestr(_zip_entry(name), data)
                z.writestr(_zip_entry(name + ".sig"), b"signature")
            zname = f"pkg-{i:05d}.zip"
            with zipfile.ZipFile(src / zname, "w") as z:
                z.writestr(_zip_entry(f"inner-{i:05d}.zip"), inner.getvalue())
            outer_names[name] = f"{zname}!inner-{i:05d}.zip!{name}"
        self.ok = [(outer_names.get(nm, nm), cad, keys) for nm, cad, keys in ok]
        self.errors = [(outer_names.get(nm, nm), cls) for nm, cls in errors]
        self.records = n
        self.in_bytes = _dir_bytes(src)

    def job(self, spark) -> dict:
        from pyspark.sql import functions as F

        t = self.tracer
        src = str(self.work / "in")
        out = self.work / "out"  # removed by after_job, so fresh every job
        base = F.substring_index(F.col("doc_id"), "/", -1)

        xml = t.call("xml_extract.read_extract_dir", read_extract_dir, spark, src)
        zips = (spark.read.format("binaryFile").option("pathGlobFilter", "*.zip")
                .load(src).select("path", "content"))
        unzipped = t.call("xml_extract.extract_zip_contents", extract_zip_contents, zips)
        parcels, errors = t.call("pipeline.build_parcel_layer", build_parcel_layer,
                                 xml.unionByName(unzipped))
        parcels = parcels.cache()
        res = {
            "parcels": frame_digest(parcels, [base, "cad_number"]),
            "errors": frame_digest(errors, [base, F.regexp_extract("error", r"^[a-z_]+", 0)]),
        }
        ex = t.call("pipeline.export_outputs", export_outputs, parcels, str(out / "export"))
        res["export"] = (ex["n_shp_records"], ex["n_xlsx_rows"])
        shx = out / "export" / "real_estate_objects_EGRN.shx"
        res["shx_records"] = ((shx.stat().st_size - 100) // 8,)
        with t.span("grid.polygon_to_cells"):
            cover = build_parcel_cover(spark, contours_of(parcels), RES).cache()
            cover.count()
        tiles = t.call("tiling.tile_masks", tile_masks, cover)
        writer = CheckpointedWriter(spark, str(out / "tiles"), "bench")
        with t.span("checkpoint.write"):
            writer.write(tiles, "cad_number", self.BUCKETS)
        res["tile_keys"] = frame_digest(writer.read().select("cad_number").distinct(), ["cad_number"])
        cover.unpersist()
        parcels.unpersist()
        if t.enabled:
            ok_rows = res["parcels"][0]
            t.count("xml_extract.error_rows", res["errors"][0])
            t.count("xml_extract.ok_frac", ok_rows / max(1, ok_rows + res["errors"][0]))
            t.count("sinks.bytes_written", _dir_bytes(out / "export"))
            t.count("checkpoint.bytes_written", _dir_bytes(out / "tiles"))
        self.out_bytes_per_in_byte = _dir_bytes(out) / self.in_bytes
        return res

    def after_job(self) -> None:
        shutil.rmtree(self.work / "out", ignore_errors=True)

    def compute_expected(self) -> dict:
        n_shp = sum(len(keys) for _, _, keys in self.ok)
        return {
            "parcels": rows_digest((nm, cad) for nm, cad, _ in self.ok),
            "errors": rows_digest(self.errors),
            "export": (n_shp, len(self.ok)),
            "shx_records": (n_shp,),
            "tile_keys": rows_digest((k,) for _, _, keys in self.ok for k in keys),
        }


# ---------------------------------------------------------------------------
# near-duplicate documents and embeddings
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
JACCARD_T = 0.5
# banded LSH (8 bands x 4 rows) misses a pair of Jaccard J with
# probability (1 - J**4)**8: <= 1.4e-6 from here up, so every pair at or
# above it must be found
SURE_J = 0.95
TOPK = 5
LSH_PLANES = 12
LSH_SEED = 1234


class NearDup(Workload):
    """MinHash-LSH near-duplicate pairs over a documents table, then
    sign-LSH top-k over an embeddings table, each with planted twins.

    Documents: half the planted twins repeat a document of >= 30 words
    with one word appended (Jaccard >= 0.96, so LSH must find them), half
    swap 1-3 words (LSH may miss them).  The expected pairs are every pair
    at or above the threshold, by exact Jaccard over a shingle inverted
    index.  A job's pairs must all be in that set with their exact
    Jaccard, and must include every pair at or above ``SURE_J``.

    Vectors: planted twins are their original plus 1e-4 noise.  The
    expected top-k is recomputed exactly from the sign-LSH definition
    (the benchmark passes the hyperplane seed): a query's candidates are
    the vectors whose sign signature equals its own or differs in one
    bit, ranked by exact integer cosine, then vector id.  A job's rows
    must equal it row for row."""

    name = "near_dup"

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        s = self.size
        n, nt = s["docs"], s["twins"]
        texts = [" ".join(rng.choice(VOCAB, int(rng.integers(20, 61)))) for _ in range(n)]
        long_docs = [i for i, x in enumerate(texts) if x.count(" ") >= 29]
        origs = rng.choice(long_docs, nt, replace=False).tolist()
        self.doc_pairs = []
        for t, orig in enumerate(origs):
            w = texts[orig].split(" ")
            if t % 2:
                for pos in rng.choice(len(w), int(rng.integers(1, 4)), replace=False):
                    w[pos] = VOCAB[(VOCAB.index(w[pos]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
            else:
                w.append(VOCAB[int(rng.integers(0, len(VOCAB)))])
            texts.append(" ".join(w))
            self.doc_pairs.append((orig, n + t))
        self.texts = texts
        langs = np.array(["en", "ru", "zh"])[rng.integers(0, 3, len(texts))]
        shutil.rmtree(self.work / "in", ignore_errors=True)
        _write_parquet(
            pa.table({
                "doc_id": np.arange(len(texts), dtype=np.int64), "text": texts,
                "lang": langs, "source": [f"src{i % 7}" for i in range(len(texts))],
                "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
            }),
            self.work / "in" / "documents", self.cores,
        )
        nv, nvt = s["vecs"], s["vtwins"]
        base = (rng.standard_normal((nv, 64)) * 0.12).astype(np.float32)
        origs = rng.choice(nv, nvt, replace=False)
        twins = (base[origs] + rng.standard_normal((nvt, 64)) * 1e-4).astype(np.float32)
        self.vecs = np.concatenate([base, twins])
        self.vec_pairs = {nv + t: int(o) for t, o in enumerate(origs.tolist())}
        self.q_ids = np.sort(np.concatenate([np.arange(nv, nv + nvt),
                                             rng.choice(nv, s["queries"] - nvt, replace=False)]))
        emb = pa.table({
            "vec_id": np.arange(len(self.vecs), dtype=np.int64),
            "embedding": pa.array(list(self.vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, len(self.vecs)).astype(np.int32),
        })
        _write_parquet(emb, self.work / "in" / "embeddings", self.cores)
        _write_parquet(emb.take(pa.array(self.q_ids)), self.work / "in" / "queries", self.cores)
        self.records = len(texts) + len(self.q_ids)

    def job(self, spark) -> dict:
        t = self.tracer
        docs = spark.read.parquet(str(self.work / "in" / "documents"))
        emb = spark.read.parquet(str(self.work / "in" / "embeddings"))
        queries = spark.read.parquet(str(self.work / "in" / "queries"))
        pairs = t.call("dedupe.minhash_lsh_pairs", minhash_lsh_pairs, docs, JACCARD_T)
        got_pairs = pairs.collect()
        top = t.call("similarity.lsh_topk", lsh_topk, emb, queries, TOPK,
                     n_planes=LSH_PLANES, seed=LSH_SEED, dim=64)
        got_top = top.collect()
        if t.enabled:
            cand = plan_rows(pairs, "keys=[id_a")
            t.count("dedupe.candidate_pairs", cand)
            t.count("dedupe.verified_frac", len(got_pairs) / cand if cand else 0.0)
            t.count("similarity.candidates_per_query",
                    plan_rows(top, "keys=[query_id") / len(self.q_ids))
        return {"pairs": [tuple(r) for r in got_pairs], "top": [tuple(r) for r in got_top]}

    def compute_expected(self) -> dict:
        return {"pairs": oracles.jaccard_pairs([oracles.shingles(x) for x in self.texts], JACCARD_T),
                "top": oracles.sign_lsh_topk(self.vecs, self.q_ids, TOPK, LSH_PLANES, LSH_SEED),
                "doc_pairs": self.doc_pairs, "vec_pairs": sorted(self.vec_pairs.items())}

    def check(self, got: dict, expected: dict) -> bool:
        exact = {(a, b): j for a, b, j in expected["pairs"]}
        found = {(a, b) for a, b, _ in got["pairs"]}
        ok = len(found) == len(got["pairs"])  # no pair twice
        ok &= all(exact.get((a, b)) == j for a, b, j in got["pairs"])
        ok &= all((a, b) in found for a, b, j in expected["pairs"] if j >= SURE_J)
        top = sorted(tuple(r) for r in got["top"])
        ok &= top == sorted(tuple(r) for r in expected["top"])
        top1 = {q: c for q, c, rank, _ in top if rank == 1}
        planted = [tuple(p) for p in expected["doc_pairs"] if tuple(p) in exact]
        hits = sum(p in found for p in planted)
        hits += sum(top1.get(q) == o for q, o in expected["vec_pairs"])
        self.planted_recall = hits / (len(planted) + len(expected["vec_pairs"]))
        return bool(ok)


WORKLOADS = {w.name: w for w in (Geotag, SkewShuffled, ExtractConvert, NearDup)}


def install_spans(tracer) -> None:
    """Route the layer calls the engine makes internally through spans:
    the parse under ``build_parcel_layer``, the attribute and owner steps
    and the two sinks under ``export_outputs``, and the per-parcel cover
    under ``build_parcel_cover``.  Traced runs only."""

    def frame_span(name, fn):
        return lambda *a, **kw: tracer.call(name, fn, *a, **kw)

    def plain_span(name, fn, spark=True):
        def wrapped(*a, **kw):
            with tracer.span(name, spark=spark):
                return fn(*a, **kw)

        return wrapped

    pipeline_mod.parse_extracts = frame_span("xml_extract.parse_extracts", pipeline_mod.parse_extracts)
    pipeline_mod.finalize_attributes = frame_span("pipeline.finalize_attributes",
                                                  pipeline_mod.finalize_attributes)
    attrs_mod.owner_summary = frame_span("attrs.owner_summary", attrs_mod.owner_summary)
    sinks_mod.write_shapefile = plain_span("sinks.write_shapefile", sinks_mod.write_shapefile)
    sinks_mod.write_xlsx = plain_span("sinks.write_xlsx", sinks_mod.write_xlsx)
    sj_mod.polygon_to_cells = plain_span("grid.polygon_to_cells", sj_mod.polygon_to_cells, spark=False)
