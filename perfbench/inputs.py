"""Seed-keyed input cache for the benchmark workloads.

Every generated input lives under ``.perfbench/cache/<key>/`` in the
checkout, where ``<key>`` names the workload part, its seed and its size.
A directory is built under a temporary name and renamed into place only
after its ``MANIFEST.json`` (parameters + every file with its byte size) is
written, so a run killed mid-build leaves no directory that looks complete.
A directory whose manifest is missing, names other parameters, or lists a
file that is absent or has another size is deleted and rebuilt, never
reused.

Parts that cost minutes to generate (the 3M-doc flagship table, the
256-px tile farm) do not depend on the workload seed; the seed picks the
cheap parts: tile contents and positions of the flagship farm, polygon
layers, which tiles the tile-job docs reference and how often, and the
near-dup / vector-search corpora.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

GEN_VERSION = 3
CACHE_ROOT = os.path.join(".perfbench", "cache")

# Projected extent shared by the polygon fixtures and every farm below
# (fixtures.polygons.make_polygon_rows sweeps [470k, 630k] x [5.18M, 5.42M]).
EXTENT = (480_000.0, 5_200_000.0, 620_000.0, 5_410_000.0)
PIXEL_M = 30.0

# Word vocabulary and shape of the sf0.1 ``documents`` table: 30 equally
# likely words, 10-100 words per doc, 5% of docs copy an earlier doc's text
# with " dup" appended (planted near-duplicates).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "zh", "es", "fr", "de"]


class Cache:
    """Builds and validates cache directories; records generation time."""

    def __init__(self, root: str = CACHE_ROOT):
        self.root = os.path.abspath(root)
        self.gen_s = 0.0  # seconds spent generating on cache misses
        self.built: list[str] = []

    def get(self, name: str, params: dict, build) -> str:
        """Return the directory for (name, params), building it if needed.

        ``build(tmp_dir)`` writes the files; the manifest is written here.
        """
        params = {**params, "gen_version": GEN_VERSION}
        path = os.path.join(self.root, name)
        if self._valid(path, params):
            return path
        if os.path.lexists(path):
            shutil.rmtree(path)
        tmp = f"{path}.tmp{os.getpid()}"
        if os.path.lexists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        t0 = time.perf_counter()
        extra = build(tmp) or {}
        files = {}
        for d, _, names in os.walk(tmp):
            for n in names:
                full = os.path.join(d, n)
                files[os.path.relpath(full, tmp)] = os.path.getsize(full)
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump({"params": params, "files": files, "extra": extra}, f)
        os.replace(tmp, path)
        self.gen_s += time.perf_counter() - t0
        self.built.append(name)
        return path

    @staticmethod
    def _valid(path: str, params: dict) -> bool:
        try:
            with open(os.path.join(path, "MANIFEST.json")) as f:
                man = json.load(f)
        except (OSError, ValueError):
            return False
        if man.get("params") != params:
            return False
        for rel, size in man.get("files", {}).items():
            full = os.path.join(path, rel)
            if not os.path.isfile(full) or os.path.getsize(full) != size:
                return False
        return True

    @staticmethod
    def extra(path: str) -> dict:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            return json.load(f)["extra"]


# ---------------------------------------------------------------------------
# tile farms
# ---------------------------------------------------------------------------
def _write_farm(out_dir: str, specs: list[dict], rng: np.random.RandomState) -> list[dict]:
    """Write one GeoTIFF per spec; return per-tile facts for the checks.

    A spec gives name, size, dtype, compression, tiled and the upper-left
    corner; ``bad`` specs become truncated files. The returned facts carry
    the analytic centroid and the float64 pixel mean of what was written.
    """
    from cog3pio_spark.tiff.writer import write_tiff

    facts = []
    for sp in specs:
        path = os.path.join(out_dir, sp["name"])
        n = sp["px"]
        if sp.get("bad") == "truncated":
            with open(path, "wb") as f:
                f.write(b"II\x2a\x00trunc")
            facts.append({"name": sp["name"], "ok": False})
            continue
        yy, xx = np.mgrid[0:n, 0:n]
        base = (yy * 3 + xx * 5 + rng.randint(0, 200)) % 200
        arr = (base + rng.rand(n, n) * 8).astype(sp["dtype"])[np.newaxis]
        x0, y0 = sp["x0"], sp["y0"]
        write_tiff(
            path,
            arr,
            compression=sp["compression"],
            tiled=sp["tiled"],
            pixel_scale=(PIXEL_M, PIXEL_M),
            tiepoint=(0, 0, 0, x0, y0, 0),
        )
        facts.append({
            "name": sp["name"],
            "ok": True,
            "cx": x0 + PIXEL_M * (n / 2.0),
            "cy": y0 - PIXEL_M * (n / 2.0),
            "mean": float(np.asarray(arr, dtype=np.float64).mean()),
            "px": n,
            "dtype": sp["dtype"],
        })
    return facts


def _corners(rng: np.random.RandomState, k: int, px: int) -> tuple[np.ndarray, np.ndarray]:
    span = PIXEL_M * px
    x0 = rng.uniform(EXTENT[0], EXTENT[2] - span, k).round(0)
    y0 = rng.uniform(EXTENT[1] + span, EXTENT[3], k).round(0)
    return x0, y0


def flagship_farm(cache: Cache, seed: int, n: int = 400) -> str:
    """``n`` small seeded tiles (32-64 px, five dtypes, strip/tiled,
    deflate/none), the shape of fixtures.cogs.generate_tile_farm."""

    def build(tmp):
        rng = np.random.RandomState(seed)
        dtypes = ["uint8", "uint16", "int32", "float32", "float64"]
        pxs = rng.choice([32, 48, 64], n)
        x0, y0 = _corners(rng, n, 64)
        specs = [
            {
                "name": f"tile_{i:05d}.tif", "px": int(pxs[i]),
                "dtype": dtypes[i % 5], "tiled": bool(i % 2),
                "compression": "deflate" if i % 3 else "none",
                "x0": float(x0[i]), "y0": float(y0[i]),
            }
            for i in range(n)
        ]
        return {"tiles": _write_farm(tmp, specs, rng)}

    return cache.get(f"flagship-farm-s{seed}-n{n}", {"seed": seed, "n": n}, build)


def job_farm(cache: Cache, n: int, px: int = 256, bad_frac: float = 0.01) -> str:
    """Seed-independent farm of ``n`` ``px``-px tiles: uint8/uint16/float32,
    strip and tiled; one in twelve LZW (GDAL's common default), the rest
    deflate or uncompressed. ``bad_frac`` of the names are truncated
    files."""

    def build(tmp):
        rng = np.random.RandomState(7)
        dtypes = ["uint8", "uint16", "float32"]
        x0, y0 = _corners(rng, n, px)
        n_bad = max(1, int(round(n * bad_frac)))
        bad = set(rng.choice(n, n_bad, replace=False).tolist())
        specs = []
        for i in range(n):
            comp = "lzw" if i % 12 == 0 else ("deflate" if i % 3 else "none")
            specs.append({
                "name": f"t{i:05d}.tif", "px": px, "dtype": dtypes[i % 3],
                "tiled": bool(i % 2), "compression": comp,
                "x0": float(x0[i]), "y0": float(y0[i]),
                "bad": "truncated" if i in bad else None,
            })
        return {"tiles": _write_farm(tmp, specs, rng)}

    return cache.get(f"job-farm-n{n}-px{px}", {"n": n, "px": px, "bad_frac": bad_frac}, build)


# ---------------------------------------------------------------------------
# docs
# ---------------------------------------------------------------------------
def flagship_docs(cache: Cache, spark, n_docs: int, farm_link: str, n_tiles: int) -> str:
    """``n_docs`` ``fixtures.docs.interleaved_docs`` rows over the tiles behind
    ``farm_link`` (a symlink the run points at the seed's farm), plus the
    (doc, ref) index of every media span, read back from the parquet with
    pyarrow (DuckDB's unnest of the nested column took 56 s here)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp):
        from cog3pio_spark.fixtures.docs import interleaved_docs

        refs = [f"file://{farm_link}/tile_{i:05d}.tif" for i in range(n_tiles)]
        par = spark.sparkContext.defaultParallelism * 4
        out = os.path.join(tmp, "docs.parquet")
        interleaved_docs(spark, n_docs, refs, seed=42, partitions=par).write.parquet(out)
        docs, tiles = [], []
        for b in pq.read_table(out, columns=["doc_id", "spans"]).to_batches():
            flat = pc.list_flatten(b.column(1))
            media = pc.equal(pc.struct_field(flat, "kind"), "media")
            doc = pc.cast(pc.utf8_slice_codeunits(b.column(0), 3), pa.int32())  # docNNN
            docs.append(pc.take(doc, pc.filter(pc.list_parent_indices(b.column(1)), media)))
            ref = pc.filter(pc.struct_field(flat, "media_ref"), media)
            tiles.append(pc.cast(pc.utf8_slice_codeunits(ref, -9, -4), pa.int32()))  # NNNNN.tif
        _save_spans(tmp, np.concatenate([d.to_numpy() for d in docs]),
                    np.concatenate([t.to_numpy() for t in tiles]))
        return {"n_docs": n_docs, "refs": refs}

    key = f"flagship-docs-n{n_docs}"
    return cache.get(key, {"n_docs": n_docs, "link": farm_link, "n_tiles": n_tiles}, build)


def _save_spans(out_dir: str, doc_idx, ref_idx) -> None:
    np.save(os.path.join(out_dir, "span_doc.npy"), np.asarray(doc_idx, np.int32))
    np.save(os.path.join(out_dir, "span_ref.npy"), np.asarray(ref_idx, np.int32))


def load_spans(docs_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(doc index, ref index) of every media span of a docs cache entry."""
    return (np.load(os.path.join(docs_dir, "span_doc.npy")),
            np.load(os.path.join(docs_dir, "span_ref.npy")))


def point_farm(link: str, target: str) -> None:
    """Atomically re-point the farm symlink at ``target``."""
    tmp = f"{link}.tmp{os.getpid()}"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(target, tmp)
    os.replace(tmp, link)


def job_docs(cache: Cache, seed: int, n_docs: int, farm: str, n_missing: int) -> str:
    """Interleaved docs (same schema and span model as interleaved_docs:
    1-8 spans, 40% media, Zipf s=1.2) over a seed-permuted ranking of the
    farm's tiles plus ``n_missing`` refs that name no file. Built with
    numpy/pyarrow: interleaved_docs' per-span Zipf search is linear in the
    ref count, which is minutes at thousands of refs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cog3pio_spark.fixtures.docs import ZIPF_S

    def build(tmp):
        rng = np.random.RandomState(seed)
        tiles = Cache.extra(farm)["tiles"]
        refs = [f"file://{farm}/{t['name']}" for t in tiles]
        refs += [f"file://{farm}/missing_{i:04d}.tif" for i in range(n_missing)]
        refs = [refs[i] for i in rng.permutation(len(refs))]
        w = 1.0 / np.arange(1, len(refs) + 1) ** ZIPF_S
        cdf = np.cumsum(w / w.sum())
        n_spans = rng.randint(1, 9, n_docs)
        total = int(n_spans.sum())
        offs = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
        pos = (np.arange(total) - np.repeat(offs[:-1], n_spans)).astype(np.int32)
        media = rng.rand(total) < 0.4
        pick = np.minimum(np.searchsorted(cdf, rng.rand(total)), len(refs) - 1)
        doc_of_span = np.repeat(np.arange(n_docs), n_spans)
        refs_arr = np.array(refs, dtype=object)
        media_ref = np.where(media, refs_arr[pick], None)
        text = np.where(media, "", np.char.add("text-", np.char.mod("%x", rng.randint(0, 2**31, total))))
        spans = pa.StructArray.from_arrays(
            [
                pa.array(np.where(media, "media", "text"), pa.string()),
                pa.array(text.astype(object), pa.string()),
                pa.array(media_ref, pa.string()),
                pa.array(pos, pa.int32()),
            ],
            names=["kind", "text", "media_ref", "offset"],
        )
        doc_id = pa.array([f"doc{i:012d}" for i in range(n_docs)], pa.string())
        tbl = pa.table({"doc_id": doc_id, "spans": pa.ListArray.from_arrays(pa.array(offs), spans)})
        os.makedirs(os.path.join(tmp, "docs.parquet"))
        step = max(1, n_docs // 8)  # 8 files: a multi-split scan like real data
        for k, lo in enumerate(range(0, n_docs, step)):
            pq.write_table(tbl.slice(lo, step), os.path.join(tmp, "docs.parquet", f"part-{k:03d}.parquet"))
        _save_spans(tmp, doc_of_span[media], pick[media])
        return {"n_docs": n_docs, "refs": refs}

    key = f"job-docs-s{seed}-n{n_docs}"
    return cache.get(key, {"seed": seed, "n_docs": n_docs, "farm": farm, "missing": n_missing}, build)


def polygons(cache: Cache, seed: int, n: int) -> str:
    """``fixtures.polygons.make_polygon_rows(n, seed)`` as parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cog3pio_spark.fixtures.polygons import make_polygon_rows

    def build(tmp):
        rows = make_polygon_rows(n, seed)
        tbl = pa.table({
            "polygon_id": [r[0] for r in rows],
            "ring": [r[1] for r in rows],
            "bbox": [r[2] for r in rows],
        })
        pq.write_table(tbl, os.path.join(tmp, "polygons.parquet"))

    return cache.get(f"polygons-s{seed}-n{n}", {"seed": seed, "n": n}, build)


# ---------------------------------------------------------------------------
# registry corpora
# ---------------------------------------------------------------------------
def corpus(cache: Cache, seed: int, n_docs: int, n_vecs: int, n_cust: int) -> str:
    """``documents``, ``embeddings`` and ``customer`` tables with the sf0.1
    generator's statistics (see VOCAB; unit-norm Gaussian 64-d float32
    vectors; customer keys a seeded sample that keeps 0-3)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp):
        rng = np.random.RandomState(seed)
        texts, planted = [], []
        for i in range(n_docs):
            if i > 0 and rng.rand() < 0.05:
                src = rng.randint(0, i)
                planted.append([int(src), i])
                texts.append(texts[src] + " dup")
            else:
                texts.append(" ".join(rng.choice(VOCAB, rng.randint(10, 101))))
        order = rng.permutation(n_docs)  # row order differs per seed
        pq.write_table(pa.table({
            "doc_id": pa.array(order, pa.int64()),
            "text": [texts[i] for i in order],
            "lang": [LANGS[i] for i in rng.randint(0, 5, n_docs)],
            "source": [f"src{i % 20}" for i in order],
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }), os.path.join(tmp, "documents.parquet"))

        v = rng.randn(n_vecs, 64)
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, n_vecs), pa.int32()),
        }), os.path.join(tmp, "embeddings.parquet"))

        keys = np.union1d(np.arange(4), rng.choice(np.arange(4, 3 * n_cust), n_cust - 4, replace=False))
        keys = keys[rng.permutation(len(keys))]
        pq.write_table(pa.table({
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": pa.array(rng.randint(0, 25, len(keys)), pa.int32()),
            "c_acctbal": pa.array(rng.uniform(-999, 9999, len(keys)).round(2)),
            "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, len(keys))],
        }), os.path.join(tmp, "customer.parquet"))
        return {"planted": planted, "n_cust": int(len(keys))}

    key = f"corpus-s{seed}-d{n_docs}-v{n_vecs}-c{n_cust}"
    return cache.get(key, {"seed": seed, "docs": n_docs, "vecs": n_vecs, "cust": n_cust}, build)
