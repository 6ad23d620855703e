"""Distributed raster-stack ingestion: per-band grid files -> a long
(band, y, x, value) or wide (y, x, "0".."n-1") DataFrame, decoded BY
THE EXECUTORS one tile at a time.

Reference S1/S2 load a stack of per-band GeoTIFFs into one Dataset
(datasets/_base.py:71-104) and score dense (samples, features) blocks,
one per spatial chunk with every band present. The Spark dual reads
the same way:

    spark.range(T, numPartitions=T)      -- one row per tile, driver-built
      -> mapInArrow(tile decode)         -- task t reads rows [y0, y1)
                                            of EVERY band file
      -> long  (band, y, x, value)       -- read_raster_stack
      -> wide  (y, x, "0".."n-1")        -- raster_stack_to_wide, no shuffle

Tile rule: T = max(1, ceil(band-file bytes / spark.sql.files.maxPartitionBytes)),
Spark's own scan split size, so there is no raster-specific knob. Tile
t covers rows [t*H//T, (t+1)*H//T) of the tallest grid (height H).
``.npy`` bands are memory-mapped, so a task pages in only its own
rows; other containers decode whole and are sliced (T is 1 for any
stack below the split size). The driver stats the files and decodes
nothing.

Pivot shortcut: read_raster_stack records its file list on the
DataFrame it returns. raster_stack_to_wide, given that untransformed
output, reads the same files wide (pivoting an unpivot is the
identity): one job, no Exchange. Any other long frame (filtered,
projected, joined) is pivoted; that pivot is the reference the wide
reader is tested against. Either way the wide cells are the union of
every file's grid (grids anchor at (0, 0); a band id outside
0..n-1 adds cells but no column), and a missing band, a cell outside
a smaller grid or a NaN cell is NULL, while +-Inf pass through.

The container has no rasterio/GDAL, so the band container is ``.npy``
(numpy's own grid format); GeoTIFF bands decode through the builtin
codec (sources/tiff.py) or rasterio when present.

Fixture bands are cut deterministically from the embeddings table
(band b = dimension b of the vec_id-ordered embedding matrix, reshaped
row-major to a (n/50, 50) grid), so every cell is reachable by exact
SQL over the ``embeddings`` view — the q68 oracle hash-checks the full
ingest path end-to-end with zero float arithmetic.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

RASTER_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("y", IntegerType()),
        StructField("x", IntegerType()),
        StructField("value", DoubleType()),
    ]
)

GRID_WIDTH = 50
N_BANDS = 8


def materialize_raster_stack(spark: SparkSession, sf_dir: str) -> list[tuple[int, str]]:
    """Write one ``.npy`` grid per band (a derived fixture,
    utils/cache.py) and return the (band, path) file list. Band b is
    embedding dim b over vec_id order, reshaped to
    (n_vecs // GRID_WIDTH, GRID_WIDTH)."""
    from sklearn_raster_spark.utils.cache import derived_fixture

    def build(root: str) -> None:
        emb = (
            spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
            # a NULL vector contributes no grid row: the band cut is
            # positional over the vec_id-ordered NON-NULL vectors
            # (q68's oracle filters identically before ROW_NUMBER)
            .filter(F.col("embedding").isNotNull())
            .orderBy("vec_id")
            .select("embedding")
            .toPandas()
        )
        mat = np.array([np.asarray(e, dtype=np.float64) for e in emb["embedding"]])
        n_rows = (mat.shape[0] // GRID_WIDTH) * GRID_WIDTH
        for b in range(N_BANDS):
            grid = mat[:n_rows, b].reshape(-1, GRID_WIDTH)
            np.save(os.path.join(root, f"band_{b}.npy"), grid)

    root = derived_fixture(spark, sf_dir, "embeddings", "raster", build)
    return [(b, os.path.join(root, f"band_{b}.npy")) for b in range(N_BANDS)]


def _decode_grid(path: str) -> np.ndarray:
    """Decode ONE band file to a 2-D float grid. `.npy` is the fixture
    default; `.tif`/`.tiff` decodes via rasterio when the environment
    provides it — same contract as the reference's rasterio read
    (datasets/_base.py:71-104), band 1 of the file — and otherwise via
    the builtin baseline-TIFF codec (sources/tiff.py), so the GeoTIFF
    branch EXECUTES everywhere; only compressed/tiled exotics still
    need rasterio. Runs on EXECUTORS inside mapInArrow."""
    if path.endswith((".tif", ".tiff")):
        import importlib.util

        if importlib.util.find_spec("rasterio") is not None:
            import rasterio

            with rasterio.open(path) as src:
                return src.read(1)
        from sklearn_raster_spark.sources.tiff import read_gtiff

        return read_gtiff(path)[0]
    return np.load(path)


def read_band_tags(path: str) -> dict | None:
    """CF attrs carried by a real GeoTIFF's tags (long_name / units /
    nodata), or None for tagless containers (.npy — the sidecar
    bands.json supplies attrs instead). Prefers rasterio when present
    (exact reference path, datasets/_base.py:71-104); falls back to
    the builtin baseline-TIFF tag parser (GDAL_METADATA/GDAL_NODATA,
    sources/tiff.py) otherwise."""
    import importlib.util

    if not path.endswith((".tif", ".tiff")):
        return None
    if importlib.util.find_spec("rasterio") is not None:
        import rasterio

        with rasterio.open(path) as src:
            tags = src.tags(1)
            return {
                "long_name": tags.get("long_name"),
                "units": tags.get("units", "1"),
                "_FillValue": src.nodata,
            }
    from sklearn_raster_spark.sources.tiff import read_gtiff

    try:
        _, info = read_gtiff(path)
    except NotImplementedError:
        return None  # compressed/tiled without rasterio: tagless fallback
    return {
        "long_name": info["tags"].get("long_name"),
        "units": info["tags"].get("units", "1"),
        "_FillValue": info["nodata"],
    }


def _open_band(path: str) -> np.ndarray:
    """One band file as a 2-D grid whose row slices a tile reads:
    ``.npy`` is memory-mapped, so a task pages in only its own rows;
    every other container decodes whole through _decode_grid."""
    if path.endswith(".npy"):
        grid = np.load(path, mmap_mode="r")
    else:
        grid = _decode_grid(path)
    if grid.ndim != 2:
        raise ValueError(f"{path}: band grid must be 2-D, got shape {grid.shape}")
    return grid


def _nullable(vals: np.ndarray) -> pa.Array:
    """NaN cells surface as SQL NULL through an explicit Arrow validity
    mask: NaN is the raster world's canonical float nodata (a MISSING
    cell, reference features.py NoData semantics). +-Inf are real (if
    degenerate) cell VALUES and pass through."""
    return pa.array(vals, mask=np.isnan(vals))


def _decode_tiles(files, n_tiles: int, tiles) -> Iterator[tuple]:
    """The one decode body. Yields ``(y0, y1, [(band, rows)])`` for each
    tile id in ``tiles``: rows [y0, y1) of every band file as float64
    arrays (fewer rows, or none, where a band's grid is shorter). Tile t
    covers rows [t*H//n_tiles, (t+1)*H//n_tiles) of the tallest grid
    (height H)."""
    grids = [(band, _open_band(path)) for band, path in files]
    height = max((g.shape[0] for _, g in grids), default=0)
    for t in map(int, tiles):
        y0, y1 = t * height // n_tiles, (t + 1) * height // n_tiles
        if y1 > y0:
            yield y0, y1, [(band, np.array(g[y0:y1], dtype=np.float64)) for band, g in grids]


def _tile_scan(spark: SparkSession, files, emit, schema: StructType) -> DataFrame:
    """``spark.range(T, numPartitions=T).mapInArrow``: task t decodes
    tile t of every band and hands its rows to ``emit``, whose column
    dicts become the task's record batches. T is the stack's bytes
    over ``spark.sql.files.maxPartitionBytes``, Spark's own scan split
    size; the driver stats the files and decodes nothing."""
    from sklearn_raster_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)  # the UDF pickles this module by reference
    files = [(int(b), str(p)) for b, p in files]
    bands = [b for b, _ in files]
    dups = sorted({b for b in bands if bands.count(b) > 1})
    if dups:
        raise ValueError(f"raster stack has more than one file for band(s) {dups}")
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n_tiles = max(1, -(-sum(os.path.getsize(p) for _, p in files) // split))

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for y0, y1, blocks in _decode_tiles(files, n_tiles, batch.column("id").to_numpy()):
                yield from map(pa.RecordBatch.from_pydict, emit(y0, y1, blocks))

    return spark.range(n_tiles, numPartitions=n_tiles).mapInArrow(decode, schema)


def _emit_long(y0: int, y1: int, blocks) -> Iterator[dict]:
    for band, rows in blocks:
        h, w = rows.shape
        if rows.size:
            yield {
                "band": np.full(rows.size, band, dtype=np.int32),
                "y": np.repeat(np.arange(y0, y0 + h, dtype=np.int32), w),
                "x": np.tile(np.arange(w, dtype=np.int32), h),
                "value": _nullable(rows.ravel()),
            }


def read_raster_stack(spark: SparkSession, files: list[tuple[int, str]]) -> DataFrame:
    """Long-form scan (band, y, x, value) of a band-file stack: one row
    per cell of each band's own grid. Band ids must be distinct. The
    returned DataFrame carries its file list, so raster_stack_to_wide
    can read it wide without a pivot."""
    files = list(files)
    df = _tile_scan(spark, files, _emit_long, RASTER_SCHEMA)
    df._raster_files = files
    return df


def _read_raster_wide(
    spark: SparkSession, files: list[tuple[int, str]], n_bands: int
) -> DataFrame:
    """Wide-form scan (y, x, "0".."n_bands-1") straight from the files,
    equal to the pivot of read_raster_stack's rows."""

    def emit(y0: int, y1: int, blocks) -> Iterator[dict]:
        # the union of the grids: row y spans the widest grid reaching it
        row_w = np.zeros(y1 - y0, dtype=np.int64)
        for _, rows in blocks:
            h = rows.shape[0]
            row_w[:h] = np.maximum(row_w[:h], rows.shape[1])
        width = int(row_w.max())
        cells = (np.arange(width) < row_w[:, None]).ravel()
        out = {
            "y": np.repeat(np.arange(y0, y1, dtype=np.int32), width)[cells],
            "x": np.tile(np.arange(width, dtype=np.int32), y1 - y0)[cells],
        }
        by_band = dict(blocks)
        for b in range(n_bands):
            rows = by_band.get(b)
            if rows is None or rows.shape != (y1 - y0, width):
                grid = np.full((y1 - y0, width), np.nan)
                if rows is not None and rows.size:
                    grid[: rows.shape[0], : rows.shape[1]] = rows
                rows = grid
            out[str(b)] = _nullable(rows.ravel()[cells])
        yield out

    schema = StructType(
        [StructField("y", IntegerType()), StructField("x", IntegerType())]
        + [StructField(str(b), DoubleType()) for b in range(n_bands)]
    )
    return _tile_scan(spark, files, emit, schema)


def raster_stack_to_wide(long_df: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """The S2 merge: long (band, y, x, value) -> one column per band,
    keyed by (y, x). read_raster_stack's own untransformed output is
    read wide straight from its files (pivoting an unpivot is the
    identity); any other long frame is pivoted, with explicit pivot
    values so the plan stays static (no driver-side distinct scan)."""
    from sklearn_raster_spark.operators.reshape import long_to_wide

    files = vars(long_df).get("_raster_files")
    if files is not None:
        return _read_raster_wide(long_df.sparkSession, files, n_bands)
    return long_to_wide(long_df, ["y", "x"], "band", "value", list(range(n_bands)))


# -- CF band metadata (reference features.py:257-260: per-band attrs
#    from raster tags — _FillValue, long_name — flow into the loaded
#    Dataset and back out through sinks) --------------------------------

BAND_META_FILE = "bands.json"


def write_band_metadata(root: str, n_bands: int = N_BANDS) -> str:
    """Sidecar metadata a real GeoTIFF carries in its tags: per-band
    long_name / units / _FillValue. The container has no rasterio, so
    the TAG PARSER is the env-stubbed piece; everything downstream of
    'a dict of CF attrs per band' — which is what rasterio yields — is
    real and round-trip-tested."""
    import json

    meta = {
        str(b): {
            "long_name": f"band_{b}",
            "units": "1",
            "_FillValue": -9999.0,
        }
        for b in range(n_bands)
    }
    path = os.path.join(root, BAND_META_FILE)
    with open(path, "w") as f:
        json.dump(meta, f)
    return path


def read_raster_stack_to_featureframe(spark: SparkSession, sf_dir: str):
    """S1/S2 end-to-end: distributed band decode -> wide merge keyed on
    (y, x) -> FeatureFrame with per-band CF attrs (names from
    long_name, NoData registry from _FillValue) — the reference's
    `_load_rasters_to_dataset` shape. The frame's write_parquet then
    persists every attr into StructField metadata, so the CF chain
    survives a sink round-trip (tested)."""
    import json

    from sklearn_raster_spark.features import FeatureFrame

    files = materialize_raster_stack(spark, sf_dir)
    root = os.path.dirname(files[0][1])
    # GeoTIFF tags (if the env has rasterio and the stack is .tif) take
    # precedence — that IS the reference's tag path; the bands.json
    # sidecar is the tagless-container fallback.
    band_meta = {}
    for b, p in files:
        tags = read_band_tags(p)
        if tags and tags.get("long_name"):
            band_meta[str(b)] = tags
    if len(band_meta) < len(files):
        meta_path = os.path.join(root, BAND_META_FILE)
        if not os.path.exists(meta_path):
            write_band_metadata(root)
        with open(meta_path) as f:
            sidecar = json.load(f)
        for b, _ in files:
            band_meta.setdefault(str(b), sidecar[str(b)])

    wide = raster_stack_to_wide(read_raster_stack(spark, files))
    renames = {str(b): band_meta[str(b)]["long_name"] for b, _ in files}
    for old, new in renames.items():
        wide = wide.withColumnRenamed(old, new)
    features = [renames[str(b)] for b, _ in files]
    nodata = {
        renames[str(b)]: band_meta[str(b)]["_FillValue"] for b, _ in files
    }
    ff = FeatureFrame.from_dataframe(
        wide,
        features=features,
        nodata_input=nodata,
        metadata={
            "units": {renames[str(b)]: band_meta[str(b)]["units"] for b, _ in files},
            "source": "raster_stack",
        },
    )
    ff._append_history("load_raster_stack")
    return ff
