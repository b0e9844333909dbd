"""Workloads. Four parts (``pip_join``, ``geom_ops``, ``tile_raster``,
``page_curation``) each own their seeded inputs, the operations of one
closed-loop iteration, and the checks of every output against
``oracles.py``. The benchmark runs them as two workloads of two parts
each (``WORKLOADS``); every operation kind keeps its own named metric
in the report, and ``SLOTS`` groups kinds into the end-to-end metrics.

Only the public engine surface is called: ``geos_spark.operators.*``,
``geos_spark.functions.*`` and ``geos_spark.plans.checkpoint``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs as I
from perfbench import oracles as O

# input tables are staged as this many parquet files, so scans have
# several partitions to spread over the cores
STAGE_FILES = 4


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed, ``check`` is not."""

    kind: str                         # e.g. "pip", "lookup"
    rows_in: int                      # input rows the operation processes
    run: Callable[[], object]
    check: Callable[[object], list]   # -> list of error strings


class Part:
    """One group of operations over its own seeded inputs. Session,
    tables, tracer and counts belong to the workload it runs in."""

    name = ""
    # op kind -> the named metric it reports (``*_ms``: p50 and tail)
    slots: dict = {}
    sizes: dict = {}
    # (module, function, layer) the traced run wraps in a span because
    # the engine calls them internally
    probes: tuple = ()

    def __init__(self, bench: "Workload", rng, size: str, workdir: str):
        self.bench = bench
        self.rng = rng
        self.size = dict(self.sizes[size])
        self.workdir = workdir
        self.inp = self.make_inputs()

    @property
    def spark(self):
        return self.bench.spark

    @property
    def t(self) -> dict:
        return self.bench.t

    def span(self, layer, name, pudf=None):
        return self.bench.tracer.span(layer, name, pudf)

    def count(self, key, n):
        self.bench.count(key, n)

    def make_inputs(self) -> dict:
        raise NotImplementedError

    def tables(self) -> dict:
        """name -> pandas frame staged as parquet before set-up."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Expected outputs, computed once outside the timed region."""

    def iteration(self, it: int) -> list[Op]:
        raise NotImplementedError


class Workload:
    """Parts run together: one session, one closed loop. ``slots`` maps
    each op kind to (named metric, generic end-to-end metric)."""

    def __init__(self, name: str, seed: int, size: str, workdir: str):
        self.name = name
        self.parts = [cls(self, np.random.default_rng([seed, k]), size, workdir)
                      for k, cls in enumerate(PARTS[name])]
        self.slots = {kind: (named, SLOTS[name][kind])
                      for p in self.parts for kind, named in p.slots.items()}
        self.probes = tuple(dict.fromkeys(x for p in self.parts for x in p.probes))
        self.t: dict = {}
        self.tracer = None
        self.counts: dict = {}

    def tables(self) -> dict:
        return {k: v for p in self.parts for k, v in p.tables().items()}

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def iteration(self, it: int) -> list[Op]:
        return [op for p in self.parts for op in p.iteration(it)]

    def count(self, key, n):
        self.counts[key] = self.counts.get(key, 0) + n

    def stage(self, run_dir: str) -> None:
        """Write every input table as parquet (benchmark side, untimed)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.paths = {}
        for name, pdf in self.tables().items():
            path = os.path.join(run_dir, name)
            os.makedirs(path, exist_ok=True)
            for k, part in enumerate(np.array_split(np.arange(len(pdf)), STAGE_FILES)):
                pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                               os.path.join(path, f"part-{k}.parquet"),
                               coerce_timestamps="us")
            self.paths[name] = path

    def reopen(self, spark) -> None:
        """Open the staged tables in ``spark``: the timed set-up step."""
        self.spark = spark
        for name, path in self.paths.items():
            self.t[name] = spark.read.parquet(path)


# ===================================================================== pip


class PipJoin(Part):
    name = "pip_join"
    slots = {"pip": "pip_s", "knn": "knn_s", "lookup": "lookup_ms"}
    sizes = {
        "full": dict(polygons=1000, points=12000, knn_probes=3000,
                     lookup_rows=2000, lookups=64, lookups_per_it=1),
        "tiny": dict(polygons=60, points=1500, knn_probes=300,
                     lookup_rows=200, lookups=8, lookups_per_it=2),
    }

    def make_inputs(self):
        return I.pip_join_inputs(self.rng, self.size)

    def tables(self):
        return {"polys": self.inp["polys"], "points": self.inp["points"]}

    def prepare(self):
        inp, s = self.inp, self.size
        ids = inp["polys"].poly_id.to_numpy()
        self.want_pip = O.pip_pairs(inp["points"], inp["rings"], ids)
        probes = inp["points"].iloc[: s["knn_probes"]]
        self.want_knn = O.knn_ids(probes, inp["polys"].cx.to_numpy(),
                                  inp["polys"].cy.to_numpy(), ids, 4)

    def iteration(self, it):
        from geos_spark.operators.knn import knn_join
        from geos_spark.operators.spatial_join import point_in_polygon_join

        s = self.size
        pts, polys = self.t["points"], self.t["polys"]
        dim = polys.drop("cx", "cy")

        def pip(points=pts):
            with self.span("spatial_join", "point_in_polygon_join", pudf="pip"):
                df = point_in_polygon_join(points, dim, poly_id_col="poly_id")
                out = df.select("doc_id", "poly_id").toPandas()
            self.count("spatial_join.rows_out", len(out))
            return out

        def knn():
            probes = pts.where(F.col("doc_id") < s["knn_probes"])
            with self.span("knn", "knn_join"):
                df = knn_join(probes, polys.select("poly_id", "cx", "cy"), 4,
                              build_xy=("cx", "cy"), broadcast_build=True)
                return df.select("doc_id", "rank", "poly_id").toPandas()

        def check_knn(out):
            got = out.sort_values(["doc_id", "rank"]).poly_id.to_numpy()
            ok = got.shape == self.want_knn.ravel().shape and (got == self.want_knn.ravel()).all()
            return [] if ok else ["knn ids differ from brute force"]

        def lookup(j):
            # the seeded windows are taken in turn across iterations
            lo = int(self.inp["lookup_starts"][(it * s["lookups_per_it"] + j) % s["lookups"]])
            hi = lo + s["lookup_rows"]
            window = pts.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            want = self.want_pip[(self.want_pip[:, 0] >= lo) & (self.want_pip[:, 0] < hi)]
            return Op("lookup", s["lookup_rows"], lambda: pip(window),
                      lambda o: [] if O.same_pairs(o, ("doc_id", "poly_id"), want)
                      else ["lookup differs from the batch result slice"])

        return [
            Op("pip", s["points"], pip,
               lambda o: [] if O.same_pairs(o, ("doc_id", "poly_id"), self.want_pip)
               else ["pip pairs differ from even-odd oracle"]),
            Op("knn", s["knn_probes"], knn, check_knn),
        ] + [lookup(j) for j in range(s["lookups_per_it"])]


# ============================================================ tile_raster


class TileRaster(Part):
    name = "tile_raster"
    slots = {"tile_write": "tile_write_s", "raster": "raster_s",
             "range_read": "range_read_ms"}
    probes = (("geos_spark.operators.cluster", "connected_components", "cluster"),)
    sizes = {
        "full": dict(squares=10000, hilbert_level=10, tile_level=6, buckets=8,
                     range_cells=96, range_reads=64, reads_per_it=2,
                     raster_polygons=12, grid=1024),
        "tiny": dict(squares=800, hilbert_level=10, tile_level=6, buckets=4,
                     range_cells=256, range_reads=8, reads_per_it=2,
                     raster_polygons=4, grid=256),
    }

    def make_inputs(self):
        return I.tile_raster_inputs(self.rng, self.size)

    def tables(self):
        return {"squares": self.inp["squares"], "raster_polys": self.inp["raster_polys"]}

    def prepare(self):
        masks = O.raster_masks(self.inp["raster_rings"],
                               self.inp["raster_polys"].poly_id, self.size["grid"])
        union = np.unique(np.concatenate(list(masks.values())))
        self.want_pixels = len(union)
        self.want_regions = O.components_4(union, self.size["grid"])
        self.store = None
        self.writes = 0
        self.store_rows = None

    def iteration(self, it):
        from geos_spark.functions.hilbert_native import with_hilbert_cell
        from geos_spark.operators.raster import rasterize_polygons, vectorize_mask
        from geos_spark.operators.tiling import tile_materialize_rects
        from geos_spark.plans.checkpoint import read_checkpointed, run_checkpointed

        s = self.size
        spark = self.spark
        squares = self.t["squares"]
        # a fresh store per write: run_checkpointed skips buckets an
        # existing manifest already records
        self.writes += 1
        store = os.path.join(self.workdir, f"tile_store_{self.writes}")

        def write():
            with self.span("hilbert_native", "with_hilbert_cell"):
                df = with_hilbert_cell(squares, "hx", "hy", s["hilbert_level"], out="hcell")
            with self.span("tiling", "tile_materialize_rects"):
                frags = tile_materialize_rects(df, s["tile_level"]).select(
                    "doc_id", "hcell", "cell", "fxmin", "fymin", "fxmax", "fymax",
                    "clipped_area", "covers_fully")
            with self.span("checkpoint", "run_checkpointed"):
                manifest = run_checkpointed(frags, store, "cell", s["buckets"])
            rows = sum(b["rows"] for b in manifest["buckets"].values())
            self.count("tiling.rows_in", s["squares"])
            self.count("tiling.rows_out", rows)
            return manifest

        def check_write(manifest):
            # read the store back (untimed) and keep it for the range reads
            got = read_checkpointed(spark, store).toPandas()
            errs = O.check_fragments(got, self.inp["squares"], s["tile_level"])
            if len(got) != sum(b["rows"] for b in manifest["buckets"].values()):
                errs.append("manifest row count differs from the written rows")
            old, self.store, self.store_rows = self.store, store, got
            if old and old != store:
                shutil.rmtree(old, ignore_errors=True)
            return errs

        def range_read(lo, hi):
            with self.span("scan", "read_checkpointed"):
                df = read_checkpointed(spark, self.store).where(
                    (F.col("cell") >= lo) & (F.col("cell") < hi))
                out = df.select("doc_id", "cell", "clipped_area").toPandas()
            self.count("scan.rows_returned", len(out))
            return out

        def check_read(out, lo, hi):
            t = self.store_rows
            want = t[(t.cell >= lo) & (t.cell < hi)]
            key = ["doc_id", "cell"]
            a = out.sort_values(key).reset_index(drop=True)
            b = want[key + ["clipped_area"]].sort_values(key).reset_index(drop=True)
            return [] if a.equals(b) else ["range read differs from a filter of the written table"]

        def raster():
            with self.span("raster", "rasterize_polygons"):
                mask = rasterize_polygons(self.t["raster_polys"], s["grid"], poly_id_col="poly_id")
            with self.span("raster", "vectorize_mask"):
                regions = vectorize_mask(mask, s["grid"])
                out = regions.select("region", "n_cells", "area").toPandas()
            self.count("raster.set_pixels", int(out.n_cells.sum()))
            return out

        def check_raster(out):
            errs = []
            if int(out.n_cells.sum()) != self.want_pixels:
                errs.append(f"raster set {out.n_cells.sum()} pixels, numpy {self.want_pixels}")
            if len(out) != self.want_regions:
                errs.append(f"{len(out)} regions, numpy finds {self.want_regions}")
            px = (4096.0 / s["grid"]) ** 2
            if not np.allclose(out.area, out.n_cells * px):
                errs.append("region area differs from its cell count")
            return errs

        ops = [Op("tile_write", s["squares"], write, check_write)]
        for j in range(s["reads_per_it"]):
            lo, hi = (int(v) for v in self.inp["ranges"][(it * s["reads_per_it"] + j) % s["range_reads"]])
            ops.append(Op("range_read", 1, lambda lo=lo, hi=hi: range_read(lo, hi),
                          lambda o, lo=lo, hi=hi: check_read(o, lo, hi)))
        ops.append(Op("raster", s["grid"] * s["grid"], raster, check_raster))
        return ops


# ================================================================ geom_ops


class GeomOps(Part):
    name = "geom_ops"
    slots = {"st_ops": "st_ops_s", "polygon_join": "polygon_join_s"}
    sizes = {
        "full": dict(rows=200, invalid=4, null=3, join_a=350, join_b=350, buffer=2.0),
        "tiny": dict(rows=40, invalid=3, null=2, join_a=40, join_b=40, buffer=2.0),
    }

    def make_inputs(self):
        return I.geom_ops_inputs(self.rng, self.size)

    def tables(self):
        return {"geoms": self.inp["table"], "a": self.inp["a"], "b": self.inp["b"]}

    def prepare(self):
        inp = self.inp
        self.want_join = O.intersect_pairs(inp["arings"], inp["a"].a_id.to_numpy(),
                                           inp["brings"], inp["b"].b_id.to_numpy())

    def _st_select(self, df):
        from geos_spark.functions.st import (st_area, st_buffer, st_isvalid,
                                             st_overlay, st_relate)

        return df.select(
            "gid",
            st_area("wkb").alias("area"),
            st_isvalid("wkb").alias("valid"),
            st_relate("wkb", "pwkb").alias("rel_ab"),
            st_relate("pwkb", "wkb").alias("rel_ba"),
            st_buffer(self.size["buffer"])("wkb").alias("buf"),
            st_overlay("intersection")("wkb", "pwkb").alias("inter"),
        )

    def iteration(self, it):
        from geos_spark.operators.spatial_join import polygon_join

        s = self.size
        geoms = self.t["geoms"]

        def st_ops():
            with self.span("st", "st_functions"):
                out = self._st_select(geoms).toPandas()
            self.count("st.null_rows", int(out.drop(columns="gid").isna().sum().sum()))
            return out

        def pjoin():
            with self.span("spatial_join", "polygon_join", pudf="relate"):
                df = polygon_join(self.t["a"], self.t["b"], "intersects")
                out = df.select("a_id", "b_id").toPandas()
            self.count("relate.rows_out", len(out))
            self.count("spatial_join.rows_out", len(out))
            return out

        return [
            Op("st_ops", s["rows"], st_ops,
               lambda o: O.check_st_ops(o, self.inp, s["buffer"])),
            Op("polygon_join", s["join_a"] + s["join_b"], pjoin,
               lambda o: [] if O.same_pairs(o, ("a_id", "b_id"), self.want_join)
               else ["polygon_join pairs differ from the edge-crossing oracle"]),
        ]


# =========================================================== page_curation


class PageCuration(Part):
    """Pages with planted near-duplicate groups through ``extract_text``
    and ``doc_perplexity``. ``dedup_clusters`` is not in the loop: it
    splits planted groups on about a quarter of seeds (see
    ``tests/test_standing_failures.py``), and the benchmark runs only
    operations whose outputs are correct."""

    name = "page_curation"
    slots = {"extract": "extract_s", "ppl": "ppl_s"}
    sizes = {
        "full": dict(pages=400, dup_groups=20),
        "tiny": dict(pages=120, dup_groups=6),
    }

    def make_inputs(self):
        return I.page_curation_inputs(self.rng, self.size)

    def tables(self):
        return {"pages": self.inp["pages"]}

    def prepare(self):
        pages = self.inp["pages"]
        self.want_ppl = O.bigram_perplexity(dict(zip(pages.doc_id, pages.text)))

    def iteration(self, it):
        from geos_spark.operators.lm import doc_perplexity
        from geos_spark.operators.text import extract_text

        pages = self.t["pages"]
        n = self.size["pages"]

        def extracted():
            return pages.select("doc_id", extract_text("html").alias("text"))

        def extract():
            with self.span("text", "extract_text"):
                return extracted().toPandas()

        def check_extract(out):
            got = out.sort_values("doc_id").text.tolist()
            return [] if got == self.inp["pages"].text.tolist() else \
                ["extracted text is not byte-identical to the generated text"]

        def ppl():
            with self.span("lm", "doc_perplexity"):
                return doc_perplexity(extracted()).toPandas()

        def check_ppl(out):
            got = dict(zip(out.doc_id, out.ppl))
            if set(got) != set(self.want_ppl):
                return ["perplexity covers other docs than the oracle"]
            bad = [d for d, v in got.items()
                   if not np.isfinite(v) or abs(v - self.want_ppl[d]) > 1e-6 + 1e-9 * abs(v)]
            return [f"{len(bad)} perplexities differ from the bigram oracle"] if bad else []

        return [Op("extract", n, extract, check_extract),
                Op("ppl", n, ppl, check_ppl)]


PARTS = {
    "pip_geom": (PipJoin, GeomOps),
    "tile_pages": (TileRaster, PageCuration),
}
# op kind -> group; the end-to-end metric ``<group>_cpu_s`` is the CPU
# seconds per iteration spent in the group's kinds (``<group>_s``, wall
# seconds, is in the report). A group of a few CPU seconds reads ~20%
# apart from run to run on a shared 4-core host, one of 10-30 CPU
# seconds ~10%, so the kinds are summed into two groups per workload.
SLOTS = {
    "pip_geom": {"pip": "op_a", "lookup": "op_a", "knn": "op_a",  # point queries
                 "st_ops": "op_b", "polygon_join": "op_b"},       # geometry kernels
    "tile_pages": {"tile_write": "op_a", "range_read": "op_a",    # tile store
                   # the operators that materialize intermediate results
                   "raster": "op_b", "extract": "op_b", "ppl": "op_b"},
}
WORKLOADS = tuple(PARTS)
