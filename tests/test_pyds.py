"""The custom Python Data Source connector (sources/pyds.py, Spark 4
SPARK-44076): write/read round trip, filter pushdown, shard-range
pruning, unsupported-filter handoff, and the upstream plan-cache
caveat."""

import gzip
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    IsNotNull,
    LessThan,
    StringStartsWith,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from sklearn_raster_spark.sources.pyds import (
    JsonlShardsReader,
    _shard_range,
    register_jsonl_shards,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def _write_shards(spark, tmp_path, rows):
    register_jsonl_shards(spark)
    df = spark.createDataFrame(rows, SCHEMA).repartitionByRange(3, "doc_id")
    df.write.format("jsonl_shards").option("path", str(tmp_path)).mode(
        "append"
    ).save()
    return str(tmp_path)


def _rows(n=60):
    # multibyte text included: the round trip must keep it exact
    texts = ["plain ascii", "héllo wörld", "日本語テキスト", "emoji 🦜🧪", None]
    return [
        (i, texts[i % len(texts)], "en" if i % 3 else "fr", "web", i * 7)
        for i in range(n)
    ]


def test_roundtrip_and_multibyte(spark, tmp_path):
    path = _write_shards(spark, tmp_path / "s", _rows())
    back = (
        spark.read.format("jsonl_shards").option("path", path).load()
    ).collect()
    assert len(back) == 60
    by_id = {r["doc_id"]: r for r in back}
    for i, text, lang, source, n_chars in _rows():
        r = by_id[i]
        assert (r["text"], r["lang"], r["source"], r["n_chars"]) == (
            text, lang, source, n_chars,
        )
    # shard filenames carry doc_id ranges and they tile the id space
    files = sorted(f for f in os.listdir(path) if f.endswith(".jsonl.gz"))
    ranges = [_shard_range(f) for f in files]
    assert all(r is not None for r in ranges)
    assert sorted(lo for lo, _ in ranges)[0] == 0
    assert max(hi for _, hi in ranges) == 59


def test_reader_pushdown_prunes_shards(spark, tmp_path):
    path = _write_shards(spark, tmp_path / "s", _rows())
    r = JsonlShardsReader(SCHEMA, {"path": path})
    unsupported = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("doc_id",), 40),
                IsNotNull(("text",)),
                StringStartsWith(("lang",), "e"),  # not ours
            ]
        )
    )
    # unsupported filters are handed back for Spark to evaluate
    assert len(unsupported) == 1 and isinstance(unsupported[0], StringStartsWith)
    all_shards = sorted(
        f for f in os.listdir(path) if f.endswith(".jsonl.gz")
    )
    kept = r.partitions()
    assert 0 < len(kept) < len(all_shards)  # real elision happened
    # rows from kept shards still satisfy the row-level re-check
    # (read yields Arrow RecordBatches — the API's fast path)
    got = [
        rec
        for p in kept
        for batch in r.read(p)
        for rec in batch.to_pylist()
    ]
    assert got and all(
        rec["doc_id"] >= 40 and rec["text"] is not None for rec in got
    )


def test_pushdown_equality_with_sql(spark, tmp_path):
    path = _write_shards(spark, tmp_path / "s", _rows())

    def fresh():
        return spark.read.format("jsonl_shards").option("path", path).load()

    pruned = fresh().filter(
        (F.col("doc_id") >= 15) & (F.col("doc_id") < 45) & F.col("text").isNotNull()
    )
    expect = [r for r in _rows() if 15 <= r[0] < 45 and r[1] is not None]
    assert sorted(r["doc_id"] for r in pruned.collect()) == sorted(
        r[0] for r in expect
    )
    # equality filter prunes to (at most) one shard and returns the row
    one = fresh().filter(F.col("doc_id") == 17).collect()
    assert len(one) == 1 and one[0]["n_chars"] == 17 * 7


def test_fresh_loads_are_isolated(spark, tmp_path):
    """The upstream plan-cache caveat (pyds.py docstring): fresh
    .load() handles never see one another's pushdown."""
    path = _write_shards(spark, tmp_path / "s", _rows())

    def fresh():
        return spark.read.format("jsonl_shards").option("path", path).load()

    assert fresh().count() == 60
    assert fresh().filter(F.col("doc_id") >= 40).count() == 20
    assert fresh().count() == 60  # not poisoned by the pruned plan


def test_foreign_and_empty_shards(spark, tmp_path):
    path = str(tmp_path / "s")
    os.makedirs(path)
    # a foreign file without the range suffix stays readable (unprunable)
    with gzip.open(os.path.join(path, "foreign.jsonl.gz"), "wt") as f:
        f.write(json.dumps({"doc_id": 999, "text": "x", "lang": "en",
                            "source": "w", "n_chars": 1}) + "\n")
    register_jsonl_shards(spark)
    df = spark.read.format("jsonl_shards").option("path", path).load()
    assert df.count() == 1
    assert df.filter(F.col("doc_id") >= 1000).count() == 0
    # an empty dir scans as zero rows, not an error
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert (
        spark.read.format("jsonl_shards").option("path", empty).load().count()
        == 0
    )


def test_stream_reader_incremental_offsets(spark, tmp_path):
    """The connector's streaming half: offsets advance with the sorted
    listing; availableNow drains exactly the rows present; a SECOND
    run from a fresh checkpoint picks up shards added in between."""
    path = _write_shards(spark, tmp_path / "s", _rows(30))

    def drain(sink):
        stream = (
            spark.readStream.format("jsonl_shards").option("path", path).load()
        )
        agg = stream.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return spark.table(sink).collect()[0]

    first = drain("pyds_stream_sink_a")
    assert first["n"] == 30 and first["id_sum"] == sum(range(30))

    # land more shards, then a fresh stream sees old + new
    df2 = spark.createDataFrame(
        [(100 + i, "late", "en", "web", 4) for i in range(5)], SCHEMA
    )
    df2.write.format("jsonl_shards").option("path", path).mode("append").save()
    second = drain("pyds_stream_sink_b")
    assert second["n"] == 35
    assert second["id_sum"] == sum(range(30)) + sum(range(100, 105))


def test_overwrite_replaces_and_staged_files_invisible(spark, tmp_path):
    """mode('overwrite') actually replaces the live shard set (it used
    to silently append — ADVICE r10), and hidden staged files are never
    read."""
    path = _write_shards(spark, tmp_path / "s", _rows(20))
    # an inert staged leftover (a dead task attempt) must stay invisible
    with gzip.open(os.path.join(path, ".staged-deadattempt.tmp"), "wt") as f:
        f.write(json.dumps({"doc_id": 10**6, "text": "ghost", "lang": "xx",
                            "source": "w", "n_chars": 5}) + "\n")
    df2 = spark.createDataFrame(
        [(500 + i, "fresh", "de", "web", 9) for i in range(4)], SCHEMA
    )
    df2.write.format("jsonl_shards").option("path", path).mode(
        "overwrite"
    ).save()
    back = spark.read.format("jsonl_shards").option("path", path).load()
    ids = sorted(r["doc_id"] for r in back.collect())
    assert ids == [500, 501, 502, 503]  # old 20 rows gone, ghost unseen


def test_append_keeps_existing(spark, tmp_path):
    path = _write_shards(spark, tmp_path / "s", _rows(10))
    df2 = spark.createDataFrame([(999, "x", "en", "web", 1)], SCHEMA)
    df2.write.format("jsonl_shards").option("path", path).mode("append").save()
    assert (
        spark.read.format("jsonl_shards").option("path", path).load().count()
        == 11
    )


def _corrupt_dir(tmp_path) -> str:
    """Hand-built corrupt shard dir: 3 valid rows + one garbage line +
    one type-invalid line + one non-object line, plus a raw-bytes
    impostor shard."""
    path = str(tmp_path / "corrupt")
    os.makedirs(path)
    with gzip.open(os.path.join(path, "part-0-a.0-5.jsonl.gz"), "wt") as f:
        f.write(json.dumps({"doc_id": 0, "text": "ok0", "lang": "en",
                            "source": "w", "n_chars": 3}) + "\n")
        f.write('{"doc_id": broken\n')  # unparseable
        f.write(json.dumps({"doc_id": 2, "text": "ok2", "lang": "en",
                            "source": "w", "n_chars": 3}) + "\n")
        f.write(json.dumps({"doc_id": 3, "text": "bad", "lang": "en",
                            "source": "w", "n_chars": "NaN-ish"}) + "\n")
        f.write("[1, 2, 3]\n")  # non-object
        f.write(json.dumps({"doc_id": 5, "text": "ok5", "lang": "en",
                            "source": "w", "n_chars": 3}) + "\n")
    with open(os.path.join(path, "part-1-impostor.9-9.jsonl.gz"), "wb") as f:
        f.write(b"\xffnot gzip\x00" * 8)
    return path


def test_permissive_skips_strict_raises(spark, tmp_path):
    path = _corrupt_dir(tmp_path)
    register_jsonl_shards(spark)
    ok = (
        spark.read.format("jsonl_shards")
        .option("path", path)
        .option("mode", "permissive")
        .load()
        .collect()
    )
    assert sorted(r["doc_id"] for r in ok) == [0, 2, 5]
    with pytest.raises(Exception, match="corrupt|type-invalid|non-object"):
        (
            spark.read.format("jsonl_shards")
            .option("path", path)
            .load()  # strict is the default
            .collect()
        )


def test_bounded_line_guard(tmp_path):
    """A gzip-bomb 'line' larger than the 16 MiB plausibility bound is
    rejected without materializing it; in permissive mode the NEXT line
    still decodes (decoder-level test, no Spark job needed)."""
    from sklearn_raster_spark.sources.pyds import (
        _MAX_LINE_BYTES,
        _decode_shard_batches,
    )

    shard = str(tmp_path / "bomb.0-1.jsonl.gz")
    with gzip.open(shard, "wt") as f:
        f.write(json.dumps({"doc_id": 0, "text": "pre", "lang": "en",
                            "source": "w", "n_chars": 3}) + "\n")
        f.write('{"text": "' + "a" * (_MAX_LINE_BYTES + 1024) + '"}\n')
        f.write(json.dumps({"doc_id": 1, "text": "post", "lang": "en",
                            "source": "w", "n_chars": 4}) + "\n")
    batches = list(_decode_shard_batches(shard, SCHEMA, permissive=True))
    ids = [v for b in batches for v in b.column("doc_id").to_pylist()]
    assert ids == [0, 1]
    with pytest.raises(ValueError, match="exceeds"):
        list(_decode_shard_batches(shard, SCHEMA, permissive=False))


def test_stream_offset_is_content_based(spark, tmp_path):
    """A straggler shard landing mid-stream whose name sorts BEFORE
    already-consumed names (uuids give no ordering guarantee) must be
    read by the next micro-batch, not silently skipped — the ADVICE r10
    positional-offset bug. Same checkpoint across both runs."""
    path = _write_shards(spark, tmp_path / "s", _rows(12))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        # parquet sink: the memory sink cannot recover from a
        # checkpoint, and a durable sink also asserts exactly-once
        stream = (
            spark.readStream.format("jsonl_shards").option("path", path).load()
        )
        q = (
            stream.select("doc_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return sorted(r["doc_id"] for r in spark.read.parquet(out).collect())

    assert drain() == list(range(12))
    # "aaa..." sorts before every "part-..." shard already consumed
    with gzip.open(os.path.join(path, "aaa-straggler.1000-1001.jsonl.gz"),
                   "wt") as f:
        for i in (1000, 1001):
            f.write(json.dumps({"doc_id": i, "text": "late", "lang": "en",
                                "source": "w", "n_chars": 4}) + "\n")
    # second run resumes from the checkpointed name-set offset: it must
    # deliver exactly the straggler rows, exactly once
    assert drain() == list(range(12)) + [1000, 1001]


def test_legacy_positional_offset_rejected():
    from sklearn_raster_spark.sources.pyds import JsonlShardsStreamReader

    with pytest.raises(ValueError, match="legacy"):
        JsonlShardsStreamReader._parse_offset({"pos": 3})
    # round-11 name-set checkpoints load as a pure-frontier offset
    assert JsonlShardsStreamReader._parse_offset({"names": ["a", "b"]}) == (
        0.0, {"a", "b"},
    )
    assert JsonlShardsStreamReader._parse_offset(
        {"wm": 5.0, "frontier": ["c"]}
    ) == (5.0, {"c"})


def test_huge_int_is_type_invalid(tmp_path):
    """ADVICE r11: valid JSON carrying an out-of-int64-range integer
    must be rejected per-row like any type-invalid value — permissive
    keeps the surrounding rows and never raises, strict raises the
    contract's ValueError (not Arrow's OverflowError), and the poison
    row must not sink the rest of its 8192-row batch."""
    from sklearn_raster_spark.sources.pyds import _decode_shard_batches

    shard = str(tmp_path / "huge.0-3.jsonl.gz")
    with gzip.open(shard, "wt") as f:
        f.write(json.dumps({"doc_id": 0, "text": "ok0", "lang": "en",
                            "source": "w", "n_chars": 3}) + "\n")
        f.write('{"doc_id": 99999999999999999999999, "text": "huge", '
                '"lang": "en", "source": "w", "n_chars": 4}\n')
        f.write(json.dumps({"doc_id": 2, "text": "ok2", "lang": "en",
                            "source": "w", "n_chars": 3}) + "\n")
        # n_chars at exactly 2**63 (one past int64 max) and doc_id at
        # the int64 boundaries: min/max are valid, max+1 is not
        f.write('{"doc_id": 3, "text": "edge", "lang": "en", '
                f'"source": "w", "n_chars": {2**63}}}\n')
        f.write(json.dumps({"doc_id": 2**63 - 1, "text": "max", "lang": "en",
                            "source": "w", "n_chars": 1}) + "\n")
        f.write(json.dumps({"doc_id": -(2**63), "text": "min", "lang": "en",
                            "source": "w", "n_chars": 1}) + "\n")
    batches = list(_decode_shard_batches(shard, SCHEMA, permissive=True))
    ids = [v for b in batches for v in b.column("doc_id").to_pylist()]
    assert ids == [0, 2, 2**63 - 1, -(2**63)]
    with pytest.raises(ValueError, match="type-invalid"):
        list(_decode_shard_batches(shard, SCHEMA, permissive=False))


def test_from_pydict_safety_net(tmp_path):
    """The emit()-level backstop: force a value past the row checks
    (monkeypatched to accept everything) and confirm strict re-raises
    as the pointed ValueError while permissive drops exactly the
    poison rows."""
    from sklearn_raster_spark.sources import pyds

    shard = str(tmp_path / "net.0-2.jsonl.gz")
    with gzip.open(shard, "wt") as f:
        f.write(json.dumps({"doc_id": 0, "text": "ok", "lang": "en",
                            "source": "w", "n_chars": 1}) + "\n")
        f.write('{"doc_id": 99999999999999999999999, "text": "boom", '
                '"lang": "en", "source": "w", "n_chars": 1}\n')
        f.write(json.dumps({"doc_id": 2, "text": "ok", "lang": "en",
                            "source": "w", "n_chars": 1}) + "\n")
    orig = pyds._int_range_ok
    pyds._int_range_ok = lambda v, kind: True  # blind the row checks
    try:
        batches = list(
            pyds._decode_shard_batches(shard, SCHEMA, permissive=True)
        )
        ids = [v for b in batches for v in b.column("doc_id").to_pylist()]
        assert ids == [0, 2]
        with pytest.raises(ValueError, match="type-invalid"):
            list(pyds._decode_shard_batches(shard, SCHEMA, permissive=False))
    finally:
        pyds._int_range_ok = orig


def test_stream_offset_compaction_and_watermark_straggler(tmp_path):
    """The r12 offset rework: the checkpointed consumed-set is a
    watermark + frontier, so its size is O(recent publish rate), not
    O(total shards) — and a straggler whose NAME sorts below every
    consumed name (and whose mtime postdates the watermark, as
    publication-time mtimes guarantee) is still detected exactly."""
    import time

    from sklearn_raster_spark.sources.pyds import JsonlShardsStreamReader
    from pyspark.sql.types import StructType as ST

    path = str(tmp_path / "s")
    os.makedirs(path)

    def land(name, doc_id):
        with gzip.open(os.path.join(path, name), "wt") as f:
            f.write(json.dumps({"doc_id": doc_id, "text": "x", "lang": "en",
                                "source": "w", "n_chars": 1}) + "\n")

    r = JsonlShardsStreamReader(
        ST.fromDDL("doc_id bigint, text string, lang string, "
                   "source string, n_chars bigint"),
        {"path": path, "stream_late_allowance": "0.05"},
    )
    for i in range(3):
        land(f"part-0-old{i}.0-0.jsonl.gz", i)
        time.sleep(0.02)
    o1 = r.latestOffset()
    got1 = {os.path.basename(p.path)
            for p in r.partitions(r.initialOffset(), o1)}
    assert len(got1) == 3  # batch 1 drains everything
    time.sleep(0.2)  # age the old shards past the allowance
    # straggler: name sorts FIRST, publication mtime is fresh
    land("aaa-straggler.9-9.jsonl.gz", 9)
    o2 = r.latestOffset()
    # compaction: the frontier no longer carries the 3 aged names
    assert len(o2["frontier"]) < 3 and o2["wm"] > 0
    got2 = [os.path.basename(p.path) for p in r.partitions(o1, o2)]
    assert got2 == ["aaa-straggler.9-9.jsonl.gz"]
    # and a third batch with nothing new is empty (no re-reads)
    o3 = r.latestOffset()
    assert [p for p in r.partitions(o2, o3) if p.path] == []


def test_manifest_overwrite_never_mixed(spark, tmp_path):
    """VERDICT r11 what's-wrong #3: a reader planning mid-overwrite
    must see one generation's shard names, never a union. The commit
    sequence is publish-new -> swap manifest -> delete-old; this test
    pins the reader's behavior at each intermediate state."""
    from sklearn_raster_spark.sources.pyds import (
        _live_shard_names,
        _write_manifest,
    )

    path = _write_shards(spark, tmp_path / "s", _rows(10))
    gen1 = sorted(f for f in os.listdir(path) if f.endswith(".jsonl.gz"))
    # overwrite commit writes a manifest naming ONLY the new generation
    df2 = spark.createDataFrame(
        [(700 + i, "g2", "de", "web", 2) for i in range(3)], SCHEMA
    )
    df2.write.format("jsonl_shards").option("path", path).mode(
        "overwrite"
    ).save()
    assert os.path.exists(os.path.join(path, "_manifest.json"))
    gen2 = _live_shard_names(path)
    assert gen1 and gen2 and not (set(gen1) & set(gen2))
    # mid-commit state: both generations' FILES present, manifest still
    # pointing at gen1 -> the reader resolves gen1 only (never mixed)
    for f in gen1:
        with gzip.open(os.path.join(path, f), "wt") as g:
            g.write(json.dumps({"doc_id": 10**6, "text": "old", "lang": "xx",
                                "source": "w", "n_chars": 3}) + "\n")
    _write_manifest(path, gen1)
    assert _live_shard_names(path) == sorted(gen1)
    # manifest swap flips the reader to gen2 in one rename
    _write_manifest(path, gen2)
    assert _live_shard_names(path) == sorted(gen2)
    ids = sorted(
        r["doc_id"]
        for r in spark.read.format("jsonl_shards")
        .option("path", path)
        .load()
        .collect()
    )
    assert ids == [700, 701, 702]
    # append into a manifest-managed dir keeps the manifest current
    df3 = spark.createDataFrame([(800, "g2b", "de", "web", 3)], SCHEMA)
    df3.write.format("jsonl_shards").option("path", path).mode("append").save()
    assert len(_live_shard_names(path)) == len(gen2) + 1
    assert (
        spark.read.format("jsonl_shards").option("path", path).load().count()
        == 4
    )


def test_stream_query_from_foreign_cwd_without_pythonpath(spark, sf_dir, tmp_path):
    """q170 in a fresh driver that imports the package from ``sys.path``
    alone, run from a directory outside the repo with no PYTHONPATH:
    Spark's planner worker unpickles the registered data source and
    must find the package in the zip the registration carries. The
    shard fixture is built here first, so the query's own fixture
    build (which registers again, after shipping) cannot hide a
    registration made before the package shipped."""
    import subprocess
    import sys
    from pathlib import Path

    from oracle_utils import duckdb_conn, rows_to_multiset
    from sklearn_raster_spark.operators.io_formats import materialize_jsonl_shards
    from sklearn_raster_spark.plans.registry import load_all_queries

    name = "q170_stream_python_datasource"
    materialize_jsonl_shards(spark, sf_dir)
    repo = str(Path(__file__).resolve().parent.parent)
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from sklearn_raster_spark.plans.registry import load_all_queries\n"
        "from sklearn_raster_spark.session import get_spark\n"
        "spark = get_spark(app_name='q170-foreign-cwd', master='local[2]')\n"
        f"df = load_all_queries()[{name!r}].fn(spark, {sf_dir!r})\n"
        "print(json.dumps([df.columns, [list(r) for r in df.collect()]]))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    cols, rows = json.loads(proc.stdout.strip().splitlines()[-1])
    res = duckdb_conn(sf_dir).execute(load_all_queries()[name].oracle)
    duck_cols = [d[0] for d in res.description]
    assert rows and rows_to_multiset(rows, cols) == rows_to_multiset(res.fetchall(), duck_cols)
