"""Derived on-disk fixtures must rebuild when their SOURCE parquet
changes (round-7 review finding: only materialize_binary_files had the
fingerprint guard; the CSV/JSON/ORC twins, the partitioned-orders sink
and the raster band files gated on bare file existence and would serve
stale derived data against a fresh oracle). Every fixture now goes
through ``utils.cache.derived_fixture``; these tests pin that contract
for all eight and guard against a module placing a fixture itself."""

import ast
import os
import shutil
from pathlib import Path

import duckdb
import pytest

from sklearn_raster_spark import streaming
from sklearn_raster_spark.operators import io_formats, multimodal
from sklearn_raster_spark.sources import TABLES, materialize_table_as, raster, read_table
from sklearn_raster_spark.utils.cache import source_fingerprint

BASE = "/root/testdata/sf0.001"
PKG = Path(__file__).resolve().parent.parent / "sklearn_raster_spark"

# fixture -> (source table, call returning the fixture directory)
FIXTURES = {
    "table_as_csv": ("nation", lambda s, d: materialize_table_as(s, d, "nation", "csv")),
    "partitioned_orders": ("orders", io_formats.materialize_partitioned_orders),
    "binary_files": ("documents", io_formats.materialize_binary_files),
    "jsonl_shards": ("documents", io_formats.materialize_jsonl_shards),
    "jsonl_shards_corrupt": ("documents", io_formats.materialize_jsonl_shards_corrupt),
    "media_files": ("documents", multimodal.materialize_media_files),
    "raster_stack": (
        "embeddings",
        lambda s, d: os.path.dirname(raster.materialize_raster_stack(s, d)[0][1]),
    ),
    "stream_dir": ("events", streaming._stream_dir),
}


def _fixture_dir(tmp_path, n_nations: int) -> str:
    d = tmp_path / "sf_cachetest"
    if d.exists():
        shutil.rmtree(d)
    d.mkdir()
    con = duckdb.connect()
    for t in TABLES:
        if t == "nation":
            con.execute(
                f"COPY (SELECT * FROM '{BASE}/nation.parquet' LIMIT {n_nations}) "
                f"TO '{d / 'nation.parquet'}' (FORMAT PARQUET)"
            )
        else:
            os.symlink(f"{BASE}/{t}.parquet", d / f"{t}.parquet")
    con.close()
    return str(d)


def test_materialized_csv_rebuilds_on_source_change(spark, tmp_path):
    sf = _fixture_dir(tmp_path, n_nations=25)
    assert read_table(spark, sf, "nation", fmt="csv").count() == 25
    path = materialize_table_as(spark, sf, "nation", "csv")
    assert os.path.exists(os.path.join(path, "_SRC_FINGERPRINT"))
    # regenerate the SOURCE at the same sf_dir with different contents
    sf2 = _fixture_dir(tmp_path, n_nations=10)
    assert sf2 == sf
    # before the fingerprint guard this read the stale 25-row CSV copy
    assert read_table(spark, sf, "nation", fmt="csv").count() == 10


def _bump_mtime(path) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_fixture_rebuilds_only_on_source_change(spark, tmp_path, monkeypatch, fixture):
    table, make = FIXTURES[fixture]
    root = tmp_path / "fixtures"
    monkeypatch.setenv("SPARK_GRAFT_MEDIA_DIR", str(root))
    sf = tmp_path / "sf_fixture"
    sf.mkdir()
    for t in TABLES:
        if t == table:  # a real copy, so its mtime can move
            shutil.copy(f"{BASE}/{t}.parquet", sf / f"{t}.parquet")
        else:
            os.symlink(f"{BASE}/{t}.parquet", sf / f"{t}.parquet")
    src = str(sf / f"{table}.parquet")

    path = make(spark, str(sf))
    assert os.path.dirname(path) == str(root / "sf_fixture")
    marker = os.path.join(path, "_SRC_FINGERPRINT")
    sentinel = os.path.join(path, ".sentinel")
    open(sentinel, "w").close()

    # unchanged source: served as is
    assert make(spark, str(sf)) == path
    assert os.path.exists(sentinel)

    # changed source: cleared, rebuilt, re-stamped
    _bump_mtime(src)
    assert make(spark, str(sf)) == path
    assert not os.path.exists(sentinel)
    assert set(os.listdir(path)) - {"_SRC_FINGERPRINT"}, "rebuild wrote nothing"
    with open(marker) as f:
        assert f.read().startswith(source_fingerprint(src))


def test_stream_dir_relinks_same_basename_fixture(spark, tmp_path, monkeypatch):
    """The stream directory is keyed by the sf_dir basename, so a
    fixture deleted and recreated elsewhere under the same name must
    never leave its link pointing at the old file."""
    monkeypatch.setenv("SPARK_GRAFT_MEDIA_DIR", str(tmp_path / "fixtures"))

    def make_sf(parent: str, copy: bool) -> str:
        sf = tmp_path / parent / "sf_stream"
        sf.mkdir(parents=True)
        events = sf / "events.parquet"
        if copy:  # keeps size and mtime: the same fingerprint as BASE's
            shutil.copy2(f"{BASE}/events.parquet", events)
        else:
            os.symlink(f"{BASE}/events.parquet", events)
        return str(sf)

    # an identical copy recreated elsewhere: the link follows it
    a = make_sf("a", copy=True)
    link = os.path.join(streaming._stream_dir(spark, a), "events.parquet")
    assert os.path.realpath(link) == os.path.realpath(os.path.join(a, "events.parquet"))
    shutil.rmtree(tmp_path / "a")
    b = make_sf("b", copy=True)
    assert source_fingerprint(os.path.join(b, "events.parquet")) == source_fingerprint(
        f"{BASE}/events.parquet"
    )
    streaming._stream_dir(spark, b)
    assert os.path.realpath(link) == os.path.realpath(os.path.join(b, "events.parquet"))

    # a symlinked fixture pointing at the same file resolves to the
    # same target, so nothing rebuilds: the link must name the resolved
    # file to survive the directory it was made through
    c = make_sf("c", copy=False)
    streaming._stream_dir(spark, c)
    shutil.rmtree(tmp_path / "c")
    d = make_sf("d", copy=False)
    streaming._stream_dir(spark, d)
    assert os.path.exists(link)
    assert os.readlink(link) == os.path.realpath(f"{BASE}/events.parquet")


class _ClusterSession:
    """Stand-in session on a non-local master; fixtures must refuse it
    before touching anything else."""

    class sparkContext:
        master = "spark://cluster:7077"


def test_fixtures_need_shared_storage_off_local(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MEDIA_DIR", raising=False)
    for fixture, (_table, make) in sorted(FIXTURES.items()):
        with pytest.raises(NotImplementedError, match="SPARK_GRAFT_MEDIA_DIR"):
            make(_ClusterSession(), BASE)


# utils/cache.py owns fixture placement. Two other modules keep their
# own temp files, which are not derived fixtures: sources/fetch.py's
# download cache is content-addressed (a pinned sha256 is its staleness
# rule), and session.py writes the package zip it ships to executors.
_PLACEMENT_EXEMPT = {"utils/cache.py", "sources/fetch.py", "session.py"}
_MARKERS = ("_SRC_FINGERPRINT", "_SUCCESS")


def test_only_the_cache_module_places_fixtures():
    offenders = []
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        if rel in _PLACEMENT_EXEMPT:
            continue
        tree = ast.parse(f.read_text())
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and any(m in node.value for m in _MARKERS)
            ):
                offenders.append(f"{rel}:{node.lineno} writes a fixture marker")
            # tempfile.gettempdir(), gettempdir() or `import ... gettempdir`
            names = {getattr(node, a, None) for a in ("attr", "id", "name")}
            if "gettempdir" in names:
                offenders.append(f"{rel}:{node.lineno} builds a path from tempfile.gettempdir()")
    assert not offenders, "place derived fixtures with utils.cache.derived_fixture:\n" + "\n".join(
        offenders
    )
