"""The benchmark's two workloads.

Each workload has these phases, driven by ``run.py``:

- ``prepare``: make the seeded inputs and the expected output digests,
  cached under the work directory.  Fixture data, cut into blocks, and
  the digest of the reference result of every block are built once per
  checkout (the *base*); a seed picks blocks of the base, so a new seed
  costs at most a file copy and a sum of block digests, not a Spark
  job.  The expected digests come from an independent path of the
  engine (see each class), never from the call being timed.
- ``setup``: what a user pays once per session (index builds); the
  harness follows it with one untimed warm-up run on the full input.
- ``run``: one timed run; every public call is wrapped in a step span.
- ``check``: compare a run's digests with the expected ones (untimed).

``probe`` and ``layer_metrics`` serve the traced run only.
"""

from __future__ import annotations

import gzip
import json
import pickle
import shutil
import time
from pathlib import Path

import numpy as np

BASE_PAGES = 1_000_000   # fixture page ids [0, BASE_PAGES) the page blocks come from
BLOCK = 25_000           # pages per block of the page base; a seed picks whole blocks
REC_BLOCK = 2_500        # records per block of the WARC base
BASE_RECORDS = 100_000   # WARC records the record blocks come from
SAMPLE_MOD = 64          # kNN rows with page_id % SAMPLE_MOD == 0 are brute-force checked


# ---------------------------------------------------------------------------
# digests


def row_hashes(df, cols: list[str], key: str | None = None):
    """Per-row ``xxhash64`` over ``cols`` (``h``) and whether the last
    column is non-null (``nn``), plus ``key`` when given.  Integral
    columns are cast to long so equal values hash equally whatever
    their integer width."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegralType

    types = {f.name: f.dataType for f in df.schema.fields}
    cs = [F.col(c).cast("long") if isinstance(types[c], IntegralType) else F.col(c)
          for c in cols]
    out = [F.xxhash64(*cs).alias("h"),
           F.col(cols[-1]).isNotNull().cast("int").alias("nn")]
    if key is not None:
        out.insert(0, F.col(key).cast("long").alias("key"))
    return df.select(*out)


def _aggs(cond=None) -> list:
    from pyspark.sql import functions as F

    h = F.col("h") if cond is None else F.when(cond, F.col("h"))
    nn = F.col("nn") if cond is None else F.when(cond, F.col("nn"))
    return [F.count(h), F.sum(F.pmod(h, F.lit(1 << 31))), F.bit_xor(h), F.sum(nn)]


def digest(df, cols: list[str], sample_key: str | None = None) -> list[int]:
    """Order-independent digest of ``df`` over ``cols``: [rows, sum of
    31-bit row hashes, xor of row hashes, non-null count of the last
    column].  With ``sample_key`` four more entries cover only the rows
    whose ``sample_key % SAMPLE_MOD == 0``."""
    from pyspark.sql import functions as F

    hashed = row_hashes(df, cols, sample_key)
    aggs = _aggs()
    if sample_key is not None:
        aggs += _aggs(F.pmod(F.col("key"), F.lit(SAMPLE_MOD)) == 0)
    return [int(v or 0) for v in hashed.agg(*aggs).first()]


def block_digests(hashed, n_blocks: int, size: int) -> list[list[int]]:
    """``digest`` of the ``row_hashes`` rows of each block of ``size``
    keys, for blocks [0, n_blocks)."""
    from pyspark.sql import functions as F

    rows = hashed.groupBy((F.col("key") / size).cast("long").alias("b")).agg(
        *_aggs()).collect()
    got = {int(r[0]): [int(v or 0) for v in r[1:]] for r in rows}
    return [got.get(b, [0, 0, 0, 0]) for b in range(n_blocks)]


def combine(digests: list[list[int]]) -> list[int]:
    """The digest of the union of disjoint row sets from theirs."""
    xor = 0
    for d in digests:
        xor ^= d[2]
    return [sum(d[0] for d in digests), sum(d[1] for d in digests), xor,
            sum(d[3] for d in digests)]


# ---------------------------------------------------------------------------
# shared inputs


def _once(marker: Path, build) -> None:
    """Run ``build`` unless ``marker`` exists (a Spark ``_SUCCESS`` file
    or a JSON result written last)."""
    if not marker.exists():
        build()


def _base_pages(ctx) -> str:
    """Fixture pages [0, BASE_PAGES) (``fixtures.generate_pages_range``,
    generated on the executors) as (pid, url) parquet in id order; the
    program only ever sees the url."""
    from osm_spark import fixtures as FX

    path = ctx.work / "inputs" / f"pages-{BASE_PAGES}"

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                lo, hi = int(ids.min()), int(ids.max())
                urls = FX.generate_pages_range(lo, hi + 1)["url"].to_numpy()
                yield pd.DataFrame({"pid": ids, "url": urls[ids - lo]})

    _once(path / "_SUCCESS", lambda: ctx.spark.range(0, BASE_PAGES, 1, 16).mapInPandas(
        gen, "pid long, url string").write.mode("overwrite").parquet(str(path)))
    return str(path)


def _pick_blocks(seed: int, n_blocks: int, k: int) -> list[int]:
    """``k`` distinct blocks of ``n_blocks``, chosen by ``seed``."""
    rng = np.random.default_rng(seed)
    return sorted(int(b) for b in rng.choice(n_blocks, k, replace=False))


def _polygons(ctx, n_small: int) -> str:
    """Fixture polygon layer (``fixtures.polygons_df``) as parquet."""
    from osm_spark import fixtures as FX

    path = ctx.work / "inputs" / f"polys-{n_small}"
    _once(path / "_SUCCESS", lambda: FX.polygons_df(ctx.spark, n_small).repartition(8)
          .write.mode("overwrite").parquet(str(path)))
    return str(path)


def _geo(ctx, inp: dict):
    """The pages table as the program sees it: (page_id, lat, lon)
    geocoded from the url."""
    from osm_spark.operators.geocode import geocode_pages

    return geocode_pages(ctx.spark.read.parquet(*inp["pages"])).select(
        "page_id", "lat", "lon")


def _geocode_probe(ctx, inp: dict) -> float:
    """Seconds of a forced geocode-only pass over the pages."""
    from pyspark.sql import functions as F

    from osm_spark.operators.geocode import geocode_pages

    with ctx.step("probe.geocode") as sp:
        geocode_pages(ctx.spark.read.parquet(*inp["pages"])).agg(
            F.sum("lat"), F.sum("lon"), F.count("page_id")).first()
    return sp.seconds


def _read_json(path: Path):
    return json.loads(path.read_text()) if path.exists() else None


def _write_json(path: Path, obj) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1))
    tmp.replace(path)


class Workload:
    name = ""
    why = ""
    n_pages = 0
    min_runs = 2        # timed runs per invocation, even past --seconds: a
                        # fixed count, so a slow invocation does not run less

    def __init__(self, seed: int):
        self.seed = seed

    def input_dir(self, ctx) -> Path:
        return ctx.work / "inputs" / f"{self.name}-s{self.seed}-n{self.n_pages}"

    def prepare(self, ctx) -> dict:
        """Inputs + expected digests; made once and cached."""
        d = self.input_dir(ctx)
        cached = _read_json(d / "inputs.json")
        if cached is not None:
            return cached
        if d.exists():
            shutil.rmtree(d)
        d.mkdir(parents=True)
        t0 = time.perf_counter()
        inp = self.generate(ctx, d)
        inp["prepare_s"] = time.perf_counter() - t0
        _write_json(d / "inputs.json", inp)
        return inp

    def setup(self, ctx, inp: dict) -> dict:
        return {}


class GeoTag(Workload):
    """Tag skewed pages on both spatial-join scale paths: broadcast PIP
    join -> page tiles -> broadcast kNN, then refresh the layer (feature
    tiles -> partitioned layer write) -> salt -> partitioned join.  Every
    call is reduced to a digest aggregate or a parquet write."""

    name = "geo_tag"
    why = ("broadcast PIP/kNN tagging, then a layer refresh (DP, parquet) and "
           "a salted partitioned join of hot-cell pages: scan, geocode, Arrow "
           "boundary, PIP/DP kernels, shuffle, stragglers")
    n_pages = 75_000
    n_polys = 1_500
    n_feats = 256
    hot_frac = 0.5
    hot_city = 0

    def __init__(self, seed: int):
        super().__init__(seed)
        self.salt = 0                               # last derived salt factor

    def _feats(self, ctx):
        from osm_spark.operators.geocode import geocode_ids

        return geocode_ids(ctx.spark.range(self.n_feats)
                           .withColumnRenamed("id", "feature_id"), "feature_id")

    @staticmethod
    def hot_box(city: int) -> tuple[int, int, int, int]:
        """(lat_lo, lat_hi, lon_lo, lon_hi) of a box inside the zoom-9
        cell holding the city's center (the salt and partition zoom of
        the partitioned join)."""
        from osm_spark import fixtures as FX
        from osm_spark.geo import kernels as K

        clat, clon = FX.CITY_CENTERS[city]
        z, r = 9, 1_000_000
        lats = np.arange(clat - 8_000_000, clat + 8_000_000, 10_000)
        lats = lats[K.tile_y_float(lats, z) == K.tile_y_float(np.array([clat]), z)[0]]
        lons = np.arange(clon - 8_000_000, clon + 8_000_000, 10_000)
        lons = lons[K.tile_x(lons, z) == K.tile_x(clon, z)]
        lat_lo = max(int(lats.min()) + 20_000, clat - r)
        lat_hi = min(int(lats.max()) - 20_000, clat + r)
        lon_lo = max(int(lons.min()) + 20_000, clon - r)
        lon_hi = min(int(lons.max()) - 20_000, clon + r)
        return lat_lo, lat_hi, lon_lo, lon_hi

    def _hot_base(self, ctx) -> str:
        """Base pages [0, BASE_PAGES) as url parquet partitioned by
        ``block`` (pid // BLOCK, two files a block), keeping the fixture's
        70 %-in-5-cities skew, with the url geo slug of the hot half
        (``pmod(page_id, 1000) < 1000 * hot_frac``) rewritten to a hashed
        point inside one zoom-9 cell of ``hot_city``.  Every block has
        the same skew, so seeds differ in pages, not in cost."""
        from pyspark.sql import functions as F

        path = ctx.work / "inputs" / f"{self.name}-pages-{BASE_PAGES}-c{self.hot_city}"
        lat_lo, lat_hi, lon_lo, lon_hi = self.hot_box(self.hot_city)
        pid = F.pmod(F.col("pid"), F.lit(1_000_003))
        hot = F.pmod(F.col("pid"), F.lit(1000)) < F.lit(int(1000 * self.hot_frac))
        lat = F.lit(lat_lo) + F.pmod(pid * F.lit(2654435761), F.lit(lat_hi - lat_lo))
        lon = F.lit(lon_lo) + F.pmod(pid * F.lit(40503), F.lit(lon_hi - lon_lo))
        slug = F.concat(F.lit("/geo/"), lat.cast("string"), F.lit("/"),
                        lon.cast("string"), F.lit("/"))
        url = F.when(hot, F.regexp_replace("url", r"/geo/-?\d+/-?\d+/", slug)) \
            .otherwise(F.col("url"))
        block = (F.col("pid") / BLOCK).cast("long").alias("block")
        _once(path / "_SUCCESS", lambda: ctx.spark.read.parquet(_base_pages(ctx))
              .select("pid", url.alias("url"), block)
              .repartition(BASE_PAGES // BLOCK, "block").sortWithinPartitions("block", "pid")
              .select("url", "block").write.option("maxRecordsPerFile", BLOCK // 2)
              .partitionBy("block").mode("overwrite").parquet(str(path)))
        return str(path)

    def _reference(self, ctx, hot: str, polys_path: str) -> dict:
        """Digests of the reference rows of each base block, each from a
        path other than the timed call: the join from the broadcast
        path, checked once against the partitioned path over a layer
        written here; tiles from the numpy tile kernels run on the
        executors; kNN from ``brute_force_knn`` on the page_id %
        SAMPLE_MOD sample.  Also the digest of ``feature_tiles``
        aggregated directly, against the written-and-read-back table of
        each run."""
        import pandas as pd
        from pyspark.sql import functions as F

        from osm_spark.geo import kernels as K
        from osm_spark.operators import tiles as T
        from osm_spark.operators.knn import brute_force_knn
        from osm_spark.operators.spatial_join import (broadcast_polygon_index,
                                                     spatial_join,
                                                     spatial_join_partitioned,
                                                     write_partitioned_layer)

        ref = ctx.work / "inputs" / (f"{self.name}-ref-{BASE_PAGES}-c{self.hot_city}"
                                     f"-p{self.n_polys}")
        cached = _read_json(ref / "blocks.json")
        if cached is not None:
            return cached
        spark = ctx.spark
        n_blocks = BASE_PAGES // BLOCK
        polys = spark.read.parquet(polys_path)
        geo = _geo(ctx, {"pages": [hot]})
        join = block_digests(row_hashes(
            spatial_join(geo, polys, how="left", index=broadcast_polygon_index(polys)),
            ["page_id", "feature_id"], "page_id"), n_blocks, BLOCK)
        write_partitioned_layer(polys, str(ref / "layer"))
        if combine(join) != digest(spatial_join_partitioned(geo, str(ref / "layer"),
                                                            how="left"),
                                   ["page_id", "feature_id"]):
            raise RuntimeError("broadcast and partitioned spatial joins disagree")

        def numpy_tiles(batches):
            for pts in batches:
                pid = pts["page_id"].to_numpy(np.int64)
                lat = pts["lat"].to_numpy(np.int64)
                lon = pts["lon"].to_numpy(np.int64)
                yield pd.concat([pd.DataFrame({
                    "page_id": pid, "z": np.full(len(pid), z, np.int64),
                    "x": K.tile_x(lon, z), "y": K.tile_y_float(lat, z)})
                    for z in T.ZOOM_BANDS])

        tiles = block_digests(row_hashes(
            geo.mapInPandas(numpy_tiles, "page_id long, z long, x long, y long"),
            ["page_id", "z", "x", "y"], "page_id"), n_blocks, BLOCK)
        sample = geo.where(F.pmod("page_id", F.lit(SAMPLE_MOD)) == 0)
        knn = block_digests(row_hashes(
            brute_force_knn(sample, self._feats(ctx), k=1),
            ["page_id", "feature_id", "dist2", "rank"], "page_id"), n_blocks, BLOCK)
        out = {"join": join, "tiles": tiles, "knn": knn, "feature_tiles": digest(
            T.feature_tiles(polys), ["feature_id", "band", "z", "x", "y"])}
        _write_json(ref / "blocks.json", out)
        return out

    def generate(self, ctx, d: Path) -> dict:
        """The seed's page blocks and their expected digests, combined
        from the reference digests of each block."""
        polys_path = _polygons(ctx, self.n_polys)
        hot = self._hot_base(ctx)
        ref = self._reference(ctx, hot, polys_path)
        blocks = _pick_blocks(self.seed, BASE_PAGES // BLOCK, self.n_pages // BLOCK)

        def expect(part: str) -> list[int]:
            return combine([ref[part][b] for b in blocks])

        join = expect("join")
        return {
            "pages": [f"{hot}/block={b}" for b in blocks],
            "polys": polys_path,
            "expected": {
                "spatial_join": join, "spatial_join_partitioned": join,
                "page_tiles": expect("tiles"),
                "knn_join": [self.n_pages, None, None, self.n_pages] + expect("knn"),
                "feature_tiles": ref["feature_tiles"]}}

    def setup(self, ctx, inp: dict) -> dict:
        from osm_spark.operators.spatial_join import broadcast_polygon_index

        polys = ctx.spark.read.parquet(inp["polys"])
        with ctx.step("broadcast_polygon_index"):
            index = broadcast_polygon_index(polys)
        return {"polys": polys, "index": index, "feats": self._feats(ctx)}

    def run(self, ctx, inp: dict, st: dict) -> dict:
        from osm_spark.operators import tiles as T
        from osm_spark.operators.knn import knn_join
        from osm_spark.operators.spatial_join import (COARSE_SHIFT,
                                                     DEFAULT_CELL_ZOOM,
                                                     spatial_join,
                                                     spatial_join_partitioned,
                                                     suggest_salt,
                                                     write_partitioned_layer)

        out_dir = ctx.work / "out" / self.name
        geo = _geo(ctx, inp)
        out = {}
        with ctx.step("spatial_join"):
            out["spatial_join"] = digest(
                spatial_join(geo, st["polys"], how="left", index=st["index"]),
                ["page_id", "feature_id"])
        with ctx.step("page_tiles"):
            out["page_tiles"] = digest(T.page_tiles(geo), ["page_id", "z", "x", "y"])
        with ctx.step("knn_join"):
            out["knn_join"] = digest(
                knn_join(geo, st["feats"], k=1, cell_zoom=8, radius=2),
                ["page_id", "feature_id", "dist2", "rank"], sample_key="page_id")
        with ctx.step("feature_tiles"):
            T.feature_tiles(st["polys"]).write.mode("overwrite").parquet(
                str(out_dir / "tiles"))
        with ctx.step("write_partitioned_layer"):      # 8 files: the layer is small
            write_partitioned_layer(st["polys"], str(out_dir / "layer"), n_files=8)
        with ctx.step("suggest_salt"):
            out["salt"] = self.salt = suggest_salt(geo, z=DEFAULT_CELL_ZOOM - COARSE_SHIFT)
        with ctx.step("spatial_join_partitioned"):
            out["spatial_join_partitioned"] = digest(spatial_join_partitioned(
                geo, str(out_dir / "layer"), how="left", salt=out["salt"]),
                ["page_id", "feature_id"])
        return out

    def check(self, ctx, inp: dict, got: dict) -> bool:
        want = inp["expected"]
        k, wk = got["knn_join"], want["knn_join"]
        tiles = ctx.spark.read.parquet(str(ctx.work / "out" / self.name / "tiles"))
        return (got["salt"] >= 1
                and all(got[c] == want[c] for c in
                        ("spatial_join", "spatial_join_partitioned", "page_tiles"))
                and k[0] == wk[0] and k[3] == wk[3] and k[4:] == wk[4:]
                and digest(tiles, ["feature_id", "band", "z", "x", "y"])
                == want["feature_tiles"])

    def probe(self, ctx, inp: dict, st: dict) -> dict:
        return {"geocode.s": _geocode_probe(ctx, inp),
                "spatial_join.index_bytes": len(pickle.dumps(st["index"].value))}

    def layer_metrics(self, spans: dict, inp: dict, prof) -> dict:
        pip_calls, pip_s = prof("_pip_pack")
        dp_calls, dp_s = prof("simplify_ring_int")
        exp = inp["expected"]
        return {
            "spatial_join.index_build_s": spans["broadcast_polygon_index"],
            "spatial_join.broadcast_s": spans["spatial_join"],
            "spatial_join.match_rows": exp["spatial_join"][3],
            "spatial_join.layer_write_s": spans["write_partitioned_layer"],
            "spatial_join.salt_s": spans["suggest_salt"],
            "spatial_join.salt": self.salt,
            "spatial_join.partitioned_s": spans["spatial_join_partitioned"],
            # per-task layer range reads: the partitioned mapper's lazy
            # index load less its index build (pyarrow's reader is Cython,
            # which the profiler does not see on its own)
            "spatial_join.layer_read_s": max(
                prof("ensure_index", "spatial_join.py")[1]
                - prof("_build_group_index_packed", "spatial_join.py")[1], 0.0),
            "kernels.pip_pack_calls": pip_calls,
            "kernels.pip_s": pip_s,
            "kernels.dp_calls": dp_calls,
            "kernels.dp_s": dp_s,
            "tiles.page_tiles_s": spans["page_tiles"],
            "tiles.feature_tiles_s": spans["feature_tiles"],
            "tiles.feature_rows": exp["feature_tiles"][0],
            "knn.s": spans["knn_join"],
            "knn.rows": exp["knn_join"][0],
        }


_WARC_WORDS = ("the and of a map tile river road city forest water page index "
               "query & <b> x>y café straße naïve data crawl batch").split()


def write_warc(path: Path, n: int) -> None:
    """Common-Crawl-style WARC of ``n`` response records (every 20th a
    404 the reader drops), one gzip member each, html from
    ``warc_fixture.page_html`` around fixed-seed random text, plus a
    ``.cdx`` side file of member offsets."""
    from osm_spark.sources.warc_fixture import page_html

    rng = np.random.default_rng(0)
    lens = rng.integers(20, 300, n)
    words = rng.integers(0, len(_WARC_WORDS), int(lens.sum()))
    off = 0
    with open(path, "wb") as f, open(str(path) + ".cdx", "w") as cdx:
        w0 = 0
        for i in range(n):
            text = " ".join(_WARC_WORDS[j] for j in words[w0:w0 + lens[i]])
            w0 += lens[i]
            html = page_html(text, i)
            status = "404 Not Found" if i % 20 == 19 else "200 OK"
            body = (f"HTTP/1.1 {status}\r\nContent-Type: text/html; charset=utf-8\r\n"
                    f"Content-Length: {len(html)}\r\n\r\n").encode() + html
            url = f"https://w{i % 997}.example/page{i}"
            head = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
                    f"WARC-Date: 2025-01-01T{i // 3600 % 24:02d}:{i // 60 % 60:02d}:"
                    f"{i % 60:02d}Z\r\nWARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-"
                    f"{i:012d}>\r\nContent-Type: application/http; msgtype=response\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n").encode()
            member = gzip.compress(head + body + b"\r\n\r\n", 1, mtime=0)
            f.write(member)
            cdx.write(f"{off} {len(member)}\n")
            off += len(member)


def copy_warc_blocks(src: Path, dst: Path, blocks: list[int]) -> int:
    """Records of the given ``REC_BLOCK`` blocks of ``src`` as a WARC of
    their own: the gzip members are independent, so this is one
    byte-range copy a block plus the rebased cdx.  Returns the size in
    bytes."""
    with open(str(src) + ".cdx") as fh:
        spans = [tuple(map(int, line.split())) for line in fh]
    out = 0
    with open(src, "rb") as f, open(dst, "wb") as g, open(str(dst) + ".cdx", "w") as cdx:
        for b in blocks:
            block = spans[b * REC_BLOCK:(b + 1) * REC_BLOCK]
            start = block[0][0]
            end = block[-1][0] + block[-1][1]
            f.seek(start)
            g.write(f.read(end - start))
            for off, size in block:
                cdx.write(f"{off - start + out} {size}\n")
            out += end - start
    return out


class IngestWarc(Workload):
    """Decode + write, no geometry: WARC text pages -> quality columns +
    fingerprint -> parquet."""

    name = "ingest_warc"
    why = ("WARC gzip decode, text extraction and the per-document "
           "fingerprint loop do the work; no PIP kernel runs")
    n_pages = 15_000
    min_runs = 3        # its runs are half as long as geo_tag's
    DIGEST_COLS = ["url", "text", "n_tokens", "stop_ratio", "fp"]

    @staticmethod
    def _enrich(pages):
        from pyspark.sql import functions as F

        from osm_spark.operators import textops as TX

        return TX.with_quality(pages).withColumn(
            "fp", TX.fingerprint_udf()(F.col("text")))

    def _reference(self, ctx) -> tuple[Path, dict]:
        """Base WARC and the digests of its reference rows a block,
        keyed by record index: text through the JVM extractor
        (``read_warc_pages_full``, the byte-identity invariant) instead
        of the in-mapper one."""
        from pyspark.sql import functions as F

        from osm_spark.sources.warc import read_warc_pages_full

        base = ctx.work / "inputs" / f"warc-{BASE_RECORDS}"
        warc = base / "pages.warc.gz"
        cached = _read_json(base / "blocks.json")
        if cached is not None:
            return warc, cached
        base.mkdir(parents=True, exist_ok=True)
        write_warc(warc, BASE_RECORDS)
        pages = self._enrich(read_warc_pages_full(ctx.spark, str(warc))).withColumn(
            "rec", F.regexp_extract("url", r"page(\d+)$", 1).cast("long"))
        blocks = block_digests(row_hashes(pages, self.DIGEST_COLS, "rec"),
                               BASE_RECORDS // REC_BLOCK, REC_BLOCK)
        _write_json(base / "blocks.json", blocks)
        return warc, blocks

    def generate(self, ctx, d: Path) -> dict:
        """The seed's record blocks, copied into one WARC, and their
        expected digest, combined from the reference digests."""
        warc, ref = self._reference(ctx)
        blocks = _pick_blocks(self.seed, BASE_RECORDS // REC_BLOCK,
                              self.n_pages // REC_BLOCK)
        size = copy_warc_blocks(warc, d / "pages.warc.gz", blocks)
        return {"warc": str(d / "pages.warc.gz"), "warc_bytes": size,
                "expected": {"pages": combine([ref[b] for b in blocks])}}

    def run(self, ctx, inp: dict, st: dict) -> dict:
        from osm_spark.sources.warc import read_warc_pages_text

        with ctx.step("read_warc_pages_text"):
            pages = read_warc_pages_text(ctx.spark, inp["warc"])
        with ctx.step("write_parquet"):
            self._enrich(pages).write.mode("overwrite").parquet(
                str(ctx.work / "out" / self.name))
        return {}

    def check(self, ctx, inp: dict, got: dict) -> bool:
        out = ctx.spark.read.parquet(str(ctx.work / "out" / self.name))
        return digest(out, self.DIGEST_COLS) == inp["expected"]["pages"]

    def probe(self, ctx, inp: dict, st: dict) -> dict:
        from osm_spark.sources.warc import warc_index

        with ctx.step("probe.warc_index") as sp:
            warc_index(ctx.spark, inp["warc"]).count()
        return {"warc.index_s": sp.seconds}

    def layer_metrics(self, spans: dict, inp: dict, prof) -> dict:
        return {
            "warc.decode_s": prof("_decode_pdf")[1],
            "warc.records": self.n_pages,
            "warc.input_bytes": inp["warc_bytes"],
            "textops.extract_text_s": prof("extract_text_py")[1],
            "textops.fingerprint_s": prof("fp")[1],
        }


WORKLOADS = {w.name: w for w in (GeoTag, IngestWarc)}
