"""A complete custom connector on the Spark 4 Python Data Source API
(SPARK-44076): gzip-JSONL document shards with write, read, FILTER
PUSHDOWN, and shard-level partition PRUNING.

The reference ingests from format-specific loaders (reference
``src/sklearn_raster/datasets/_base.py:71-104``); the Spark-first
counterpart of "add a new ingest format" is a DataSource subclass the
session registers once — after that ``spark.read.format(...)`` /
``df.write.format(...)`` plan it like any built-in connector. This
module exercises every piece of the API that matters at 100 TB:

- **Writer** (``JsonlShardsWriter``): each task serializes its
  partition to a HIDDEN staged file (``.staged-<uuid>.tmp`` — never
  matched by readers); the driver-side ``commit()`` publishes exactly
  the shards whose commit messages arrived, renaming them to
  ``part-<pid>-<uuid>.<min>-<max>.jsonl.gz`` (the doc_id min/max ride
  in the FILENAME so readers can prune without opening files — the
  parquet row-group-statistics idea at file granularity). Because
  publication happens only at commit, a retried or speculative task
  attempt can never leave two live copies of a partition: the losing
  attempt's staged file is inert garbage readers cannot see, removed
  by ``abort()`` when its message reached the driver. ``overwrite``
  mode removes the pre-commit shard set after publishing, so
  ``mode("overwrite")`` actually replaces (it used to silently
  append). The directory must be driver-visible shared storage —
  the same contract the materializer enforces. An overwrite commit
  also publishes ``_manifest.json`` naming the live shard set
  ATOMICALLY (temp + rename), and readers prefer the manifest over a
  directory listing when one exists: a reader planning mid-commit
  sees the OLD generation's names or the NEW generation's names,
  never a mix of both (the listing alone cannot promise that — new
  shards appear before old ones are removed). Append commits keep an
  existing manifest up to date; directories never touched by
  overwrite have no manifest and read from the listing as before.
  Deleted-underneath remains possible (a reader holding the old
  generation's names races the old files' removal) — strict mode
  turns that into a pointed ValueError, permissive skips the
  vanished shard.
- **Reader** (``JsonlShardsReader``): one InputPartition per shard.
  ``pushFilters`` accepts doc_id comparisons (=, <, <=, >, >=) and
  IsNotNull; ``partitions()`` drops every shard whose embedded
  [min, max] range cannot satisfy them — Catalyst hands the
  predicate down, the connector turns it into I/O elision, exactly
  what predicate pushdown is for. Accepted filters are ALSO
  re-applied row-level during ``read`` (pruning is necessary, not
  sufficient); everything else is returned to Spark unsupported, so
  correctness never depends on the connector's cleverness.
- **Corruption posture** (``mode`` option, default ``strict``): the
  decode loop is TOTAL over arbitrary bytes, the same contract the
  media codecs carry (sources/_contract.py). ``strict`` converts the
  low-level exception zoo (gzip/zlib/unicode/JSON/recursion/huge
  line) to a pointed ValueError naming the shard — engine-written
  fixtures should never be corrupt, so fail loudly; ``permissive``
  skips the corrupt line (or the rest of an undecodable shard) and
  keeps every decodable row — one rotten shard in a 100 TB crawl
  quarantines itself instead of failing the job (the byte-level
  analog of multimodal.py's quarantine kernels,
  ``extract_image_features_safe`` / ``extract_audio_features_safe``,
  whose ``mapInArrow`` row-map keeps each bad payload's row). Lines
  are read through a 16 MiB plausibility bound so a gzip bomb cannot
  allocate unbounded memory for a single "line". Type validation is
  RANGE-aware: a JSON integer outside the target column's int width
  (or too large for a finite double) is type-invalid like a wrong
  Python type — valid JSON with a 2**70 doc_id must not reach Arrow
  and detonate the whole 8192-row batch. A from_pydict safety net
  backstops anything the row checks miss: strict re-raises as the
  contract's pointed ValueError, permissive locates and drops the
  offending rows (paying a per-row rebuild only on a corrupt batch).

Values survive the JSON round trip exactly: doc_id/n_chars are
integers, text/lang/source are strings (json.dumps with
ensure_ascii=False keeps multibyte text byte-identical in utf-8).
q169 drive-grades write -> prune -> read against plain SQL over the
same documents; q174 drive-grades the permissive posture over a
deliberately corrupted shard directory.

CAVEAT (pinned in tests/test_pyds.py): pyspark 4.1 caches a Python
data source's planned read (reader + partitions) on the loaded
relation, and a LATER pushdown on the SAME ``.load()`` handle can
poison an earlier-planned unfiltered scan of it (pruned-first, then
full ⇒ the full scan reuses the pruned read info and silently drops
rows). Fresh ``.load()`` calls are fully isolated — take a new handle
per filter context (they cost only an options dict). Every engine
query does exactly that.
"""

from __future__ import annotations

import gzip
import json
import os
import uuid
import zlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    DataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_DEFAULT_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

# plausibility bound: no legitimate document line approaches this; a
# gzip bomb's "line" hits the cap instead of allocating unbounded
# memory (the check-geometry-BEFORE-allocation rule from
# sources/_contract.py applied to record framing)
_MAX_LINE_BYTES = 16 * 1024 * 1024

# python types a JSON value may carry per Spark simpleString; bool is
# an int subclass and coerces losslessly, so it is accepted for ints
_JSON_TYPES = {
    "tinyint": int, "smallint": int, "int": int, "bigint": int,
    "float": (int, float), "double": (int, float),
    "boolean": bool, "string": str,
}

# value bounds per int width: Python ints are unbounded, Arrow columns
# are not — an in-type but out-of-range value (doc_id: 2**70) is as
# type-invalid as a string there, and must be rejected per-row, not
# left to blow up the whole batch at from_pydict (OverflowError)
_INT_BITS = {"tinyint": 7, "smallint": 15, "int": 31, "bigint": 63}
# fast-path bound for ints headed into float columns: anything inside
# +/-2**1020 converts to a finite double; only the astronomical tail
# pays the exact float() probe
_F64_SAFE = 1 << 1020


def _int_range_ok(v: int, kind) -> bool:
    """True when the (non-bool) int ``v`` fits the target column.
    ``kind`` is a bit width for int columns or "f" for float/double."""
    if kind != "f":
        b = 1 << kind
        return -b <= v < b
    if -_F64_SAFE <= v <= _F64_SAFE:
        return True
    try:
        float(v)
        return True
    except OverflowError:
        return False


@dataclass
class _ShardPartition(InputPartition):
    path: str
    permissive: bool = False


@dataclass
class _ShardCommit(WriterCommitMessage):
    staged: str  # hidden staged basename ("" for an empty partition)
    filename: str  # final basename to publish as


def _shard_range(filename: str) -> tuple[int, int] | None:
    """Parse the embedded doc_id [min, max] out of
    ``part-<pid>-<uuid>.<min>-<max>.jsonl.gz`` (None when absent —
    foreign files stay readable, just unprunable)."""
    base = os.path.basename(filename)
    try:
        stem = base[: -len(".jsonl.gz")]
        lo, hi = stem.rsplit(".", 1)[1].split("-")
        return int(lo), int(hi)
    except (IndexError, ValueError):
        return None


def _bounded_lines(path: str):
    """Yield raw byte lines from a gzip stream, each capped at
    _MAX_LINE_BYTES. An over-long line yields a _TooLong marker once,
    then the remainder of that line is consumed (bounded chunks, never
    one giant buffer) so the NEXT line can still be decoded."""
    with gzip.open(path, "rb") as f:
        while True:
            line = f.readline(_MAX_LINE_BYTES)
            if not line:
                return
            if len(line) >= _MAX_LINE_BYTES and not line.endswith(b"\n"):
                yield _TOO_LONG
                while True:  # drain the rest of the bomb line
                    chunk = f.readline(_MAX_LINE_BYTES)
                    if not chunk or chunk.endswith(b"\n"):
                        break
                continue
            yield line


_TOO_LONG = object()


def _decode_shard_batches(
    path: str,
    schema: StructType,
    row_ok=None,
    permissive: bool = False,
    batch_rows: int = 8192,
):
    """Decode one shard into pyarrow RecordBatches — the Python Data
    Source API's fast path (one Arrow transfer per batch instead of a
    pickle round trip per row). Shared by the batch and streaming
    readers so both carry the same Arrow boundary and the same
    corruption posture. Total over arbitrary bytes: strict mode raises
    ValueError (only), permissive mode never raises — it keeps every
    decodable, type-valid row and drops the rest."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    fields = [f.name for f in schema.fields]
    checks = []
    for f in schema.fields:
        t = f.dataType.simpleString()
        rng = _INT_BITS.get(t, "f" if t in ("float", "double") else None)
        checks.append((f.name, _JSON_TYPES.get(t), rng))
    # explicit Arrow schema: from_pydict would infer `null` type for
    # an all-None column and fail Spark's schema check
    pa_schema = to_arrow_schema(schema)

    def row_type_ok(rec: dict) -> bool:
        for name, ok_types, rng in checks:
            v = rec.get(name)
            if v is None or ok_types is None:
                continue
            if not isinstance(v, ok_types):
                return False
            # range check only for plain ints headed into a bounded
            # column (bools are 0/1 and always fit)
            if rng is not None and type(v) is int and not _int_range_ok(v, rng):
                return False
        return True

    def emit(cols_dict):
        """Build one RecordBatch under the module's error contract.
        The row checks above should have rejected everything Arrow
        cannot hold; if a value slips through anyway, strict re-raises
        as the contract's pointed ValueError and permissive pays a
        per-row rebuild to drop exactly the poison rows (None when
        nothing survives)."""
        try:
            return pa.RecordBatch.from_pydict(cols_dict, schema=pa_schema)
        except (ValueError, TypeError, OverflowError) as e:
            # pa.ArrowInvalid is a ValueError, pa.ArrowTypeError a
            # TypeError; OverflowError covers out-of-range numerics
            if not permissive:
                raise ValueError(
                    f"type-invalid record in shard {path!r}: {e}"
                ) from e
            survivors: dict[str, list] = {c: [] for c in fields}
            n_rows = len(next(iter(cols_dict.values()))) if cols_dict else 0
            for i in range(n_rows):
                one = {c: [cols_dict[c][i]] for c in fields}
                try:
                    pa.RecordBatch.from_pydict(one, schema=pa_schema)
                except (ValueError, TypeError, OverflowError):
                    continue
                for c in fields:
                    survivors[c].append(cols_dict[c][i])
            if not survivors[fields[0]]:
                return None
            try:
                return pa.RecordBatch.from_pydict(survivors, schema=pa_schema)
            except (ValueError, TypeError, OverflowError):
                return None  # cross-row poison: drop the batch, keep the stream
    cols: dict[str, list] = {c: [] for c in fields}
    n = 0
    lines = _bounded_lines(path)
    while True:
        try:
            raw = next(lines)
        except StopIteration:
            break
        except FileNotFoundError as e:
            # a manifest-listed shard deleted underneath the reader
            # (concurrent overwrite finishing its old-generation sweep)
            if permissive:
                break
            raise ValueError(
                f"shard {path!r} vanished mid-read (concurrent "
                f"overwrite?): {e}"
            ) from e
        except (EOFError, OSError, zlib.error) as e:
            # truncated gzip / bad header / corrupt deflate: everything
            # already decoded stays; the rest of the shard is gone
            if permissive:
                break
            raise ValueError(f"corrupt gzip shard {path!r}: {e}") from e
        if raw is _TOO_LONG:
            if permissive:
                continue
            raise ValueError(
                f"corrupt shard {path!r}: line exceeds "
                f"{_MAX_LINE_BYTES} bytes"
            )
        try:
            rec = json.loads(raw.decode("utf-8"))
        except (UnicodeDecodeError, ValueError, RecursionError) as e:
            # JSONDecodeError is a ValueError; RecursionError guards
            # pathologically nested input (corruption-fuzz class)
            if permissive:
                continue
            raise ValueError(f"corrupt json line in shard {path!r}: {e}") from e
        if not isinstance(rec, dict):
            if permissive:
                continue
            raise ValueError(f"non-object json line in shard {path!r}")
        if not row_type_ok(rec):
            # a type-invalid (wrong type OR out-of-range) value would
            # poison the whole Arrow batch at from_pydict — reject it
            # per-row instead
            if permissive:
                continue
            raise ValueError(f"type-invalid record in shard {path!r}")
        if row_ok is not None and not row_ok(rec):
            continue
        for c in fields:
            cols[c].append(rec.get(c))
        n += 1
        if n == batch_rows:
            batch = emit(cols)
            if batch is not None:
                yield batch
            cols = {c: [] for c in fields}
            n = 0
    if n:
        batch = emit(cols)
        if batch is not None:
            yield batch


_MANIFEST = "_manifest.json"


def _manifest_names(path: str) -> list[str] | None:
    """The live shard names per ``_manifest.json``, or None when the
    directory is not manifest-managed (never overwritten). An
    unreadable manifest falls back to the listing — the manifest is a
    consistency upgrade, not a new failure mode."""
    try:
        with open(os.path.join(path, _MANIFEST), encoding="utf-8") as f:
            names = json.load(f)["shards"]
        return sorted(n for n in names if isinstance(n, str))
    except FileNotFoundError:
        return None
    except (OSError, ValueError, TypeError, KeyError):
        return None


def _live_shard_names(path: str) -> list[str]:
    """One generation's shard names: the manifest when present (a
    mid-commit reader sees old-or-new, never both), else the sorted
    directory listing."""
    names = _manifest_names(path)
    if names is not None:
        return names
    return sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".jsonl.gz") and not f.startswith(".")
    )


def _write_manifest(path: str, names) -> None:
    """Atomic manifest swap: temp file + os.replace, so a concurrent
    reader sees the previous generation or the new one in full."""
    tmp = os.path.join(path, f".manifest-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"shards": sorted(names)}, f)
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _parse_mode(options: dict) -> bool:
    mode = options.get("mode", "strict")
    if mode not in ("strict", "permissive"):
        raise ValueError(f"jsonl_shards mode must be strict|permissive, got {mode!r}")
    return mode == "permissive"


class JsonlShardsReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.spark_schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards requires a path option")
        self.permissive = _parse_mode(options)
        self.bounds: list[tuple[str, str, int]] = []  # (op, col, value)
        self.not_null: list[str] = []

    def pushFilters(self, filters: list[Filter]):
        # accept doc_id comparisons (they prune shards via the
        # filename ranges) + IsNotNull on any column; hand everything
        # else back to Spark untouched. Returns an eager list — a
        # lazy generator would defer the self.bounds appends past the
        # point Spark calls partitions().
        unsupported = []
        for f in filters:
            if (
                isinstance(
                    f,
                    (EqualTo, GreaterThan, GreaterThanOrEqual,
                     LessThan, LessThanOrEqual),
                )
                and f.attribute == ("doc_id",)
                and isinstance(f.value, int)
            ):
                self.bounds.append((type(f).__name__, "doc_id", f.value))
            elif isinstance(f, IsNotNull) and len(f.attribute) == 1:
                self.not_null.append(f.attribute[0])
            else:
                unsupported.append(f)  # Spark keeps evaluating these
        return unsupported

    def _range_may_match(self, lo: int, hi: int) -> bool:
        for op, _col, v in self.bounds:
            if op == "EqualTo" and not (lo <= v <= hi):
                return False
            if op == "GreaterThan" and not (hi > v):
                return False
            if op == "GreaterThanOrEqual" and not (hi >= v):
                return False
            if op == "LessThan" and not (lo < v):
                return False
            if op == "LessThanOrEqual" and not (lo <= v):
                return False
        return True

    def partitions(self):
        shards = [
            os.path.join(self.path, f) for f in _live_shard_names(self.path)
        ]
        kept = []
        for s in shards:
            rng = _shard_range(s)
            if rng is None or self._range_may_match(*rng):
                kept.append(_ShardPartition(s, self.permissive))
        # an empty scan still needs one (empty) partition
        return kept or [_ShardPartition("", self.permissive)]

    def _row_ok(self, rec: dict) -> bool:
        v = rec.get("doc_id")
        for op, _col, b in self.bounds:
            if v is None or not isinstance(v, int):
                return False
            if op == "EqualTo" and v != b:
                return False
            if op == "GreaterThan" and not v > b:
                return False
            if op == "GreaterThanOrEqual" and not v >= b:
                return False
            if op == "LessThan" and not v < b:
                return False
            if op == "LessThanOrEqual" and not v <= b:
                return False
        return all(rec.get(c) is not None for c in self.not_null)

    def read(self, partition: _ShardPartition):
        if not partition.path:
            return
        # accepted filters re-apply row-level: shard pruning is
        # necessary, not sufficient
        yield from _decode_shard_batches(
            partition.path,
            self.spark_schema,
            row_ok=self._row_ok,
            permissive=partition.permissive,
        )


class JsonlShardsWriter(DataSourceWriter):
    """Staged-commit writer: ``write`` produces only hidden
    ``.staged-*.tmp`` files (readers match ``part-*.jsonl.gz`` and
    skip dotfiles); the driver's ``commit`` publishes exactly the
    staged files named in the arrived commit messages. A task attempt
    that dies after writing — or a speculative duplicate attempt —
    leaves at most an inert hidden file, never a second live copy of
    the partition's rows. Requires the target directory to be
    driver-visible (shared storage), the contract the engine's
    materializer already enforces."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.fields = [f.name for f in schema.fields]
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards requires a path option")
        self.overwrite = overwrite

    def write(self, rows) -> _ShardCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        staged = f".staged-{uuid.uuid4().hex}.tmp"
        lo = hi = None
        n = 0
        with gzip.open(os.path.join(self.path, staged), "wt", encoding="utf-8") as f:
            for row in rows:
                rec = {c: row[i] for i, c in enumerate(self.fields)}
                d = rec.get("doc_id")
                if d is not None:
                    lo = d if lo is None else min(lo, d)
                    hi = d if hi is None else max(hi, d)
                f.write(json.dumps(rec, ensure_ascii=False) + "\n")
                n += 1
        if n == 0:
            os.remove(os.path.join(self.path, staged))
            return _ShardCommit("", "")
        final = (
            f"part-{pid}-{uuid.uuid4().hex}.{lo if lo is not None else 0}-"
            f"{hi if hi is not None else 0}.jsonl.gz"
        )
        return _ShardCommit(staged, final)

    def commit(self, messages):
        # overwrite replaces the PRE-COMMIT shard set: capture it first
        # (manifest generation if the dir is manifest-managed, listing
        # otherwise), publish the new shards (fresh uuids never
        # collide), SWAP the manifest atomically so readers flip from
        # the old generation's names to the new in one rename, then
        # drop the old files — a reader that already planned from the
        # old manifest races only the removal (pointed error / skip,
        # see module docstring), never a mixed generation
        prior = _manifest_names(self.path)
        existing = set(
            prior
            if prior is not None
            else (
                f
                for f in os.listdir(self.path)
                if f.endswith(".jsonl.gz") and not f.startswith(".")
            )
        )
        published = set()
        for m in messages:
            if m and m.staged:
                dst = os.path.join(self.path, m.filename)
                os.replace(os.path.join(self.path, m.staged), dst)
                # publication time, not staging time: the stream
                # reader's mtime watermark assumes a shard's mtime is
                # when it became VISIBLE (os.replace would keep the
                # staged file's older write time)
                os.utime(dst)
                published.add(m.filename)
        if self.overwrite:
            _write_manifest(self.path, published)
            for f in existing - published:
                try:
                    os.remove(os.path.join(self.path, f))
                except OSError:
                    pass
        elif prior is not None:
            # append into a manifest-managed dir keeps the manifest
            # authoritative (readers prefer it over the listing)
            _write_manifest(self.path, existing | published)

    def abort(self, messages):
        for m in messages:
            if m and m.staged:
                try:
                    os.remove(os.path.join(self.path, m.staged))
                except OSError:
                    pass


class JsonlShardsStreamReader(DataSourceStreamReader):
    """Incremental tail of a shard directory — the custom STREAMING
    source half of the connector (q170), on the PARTITION-based
    ``DataSourceStreamReader`` (not the driver-side Simple variant):
    the offset is the CONTENT-BASED set of shard names already
    consumed (``{"names": [...]}``), ``partitions(start, end)`` maps
    each name in ``end - start`` to one InputPartition, and ``read``
    decodes it ON EXECUTORS through the same Arrow-batch path as the
    batch reader — file streaming-source semantics (binaryFile's
    discipline) with the same distributed decode shape.

    The offset is a COMPACTED consumed-set: ``{"wm": <epoch float>,
    "frontier": [names]}`` means "every shard whose mtime is older
    than ``wm`` is consumed, plus the explicitly named frontier".
    Names play no ordering role (uuids sort randomly), so a straggler
    shard whose NAME sorts before everything already consumed is
    still detected exactly — it is simply not in the frontier and not
    older than the watermark. Shard mtimes are PUBLICATION times (the
    writer ``os.utime``-s at commit; direct ``gzip.open`` writes get
    a fresh mtime anyway), so a newly-visible file can never sit
    below a previously-emitted watermark, which is what keeps a
    checkpointed offset's meaning stable across replay. The frontier
    holds only names within ``stream_late_allowance`` seconds
    (option, default 3600) of the newest shard — O(recent publish
    rate), not O(total shard count), the compaction Spark's own
    FileStreamSource does with maxFileAge over its seen-files log.
    The allowance is the one trade: a file MOVED in with an mtime
    older than watermark-at-detection is assumed consumed; touch such
    files (or raise the allowance) when hand-feeding a tailed
    directory. Round-11 ``{"names": [...]}`` checkpoints load as a
    pure-frontier offset (wm=0) and compact on the next batch."""

    def __init__(self, schema: StructType, options: dict):
        self.spark_schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards requires a path option")
        self.permissive = _parse_mode(options)
        self.allowance = float(options.get("stream_late_allowance", 3600.0))
        if self.allowance < 0:
            raise ValueError("stream_late_allowance must be >= 0")

    def _shards(self) -> list[tuple[str, float]]:
        """(name, publication mtime) for every live shard (manifest
        preferred when present — see _live_shard_names); a name listed
        but already deleted (overwrite race) is skipped."""
        out = []
        for n in _live_shard_names(self.path):
            try:
                out.append((n, os.path.getmtime(os.path.join(self.path, n))))
            except OSError:
                pass
        return out

    @staticmethod
    def _parse_offset(offset: dict) -> tuple[float, set]:
        if "wm" in offset or "frontier" in offset:
            return float(offset.get("wm", 0.0)), set(offset.get("frontier", ()))
        if "names" in offset:
            # round-11 format: the full consumed-name set; equivalent
            # to a frontier-only offset with no watermark
            return 0.0, set(offset["names"])
        if "pos" in offset:
            # pre-round-11 checkpoints stored a listing POSITION, which
            # is not replay-safe (a shard landing mid-stream shifts the
            # slice) — fail loudly instead of silently re-reading
            raise ValueError(
                "legacy positional jsonl_shards offset; restart the "
                "stream from a fresh checkpoint"
            )
        return 0.0, set()

    def initialOffset(self) -> dict:
        return {"wm": 0.0, "frontier": []}

    def latestOffset(self) -> dict:
        shards = self._shards()
        if not shards:
            return {"wm": 0.0, "frontier": []}
        wm = max(mt for _n, mt in shards) - self.allowance
        return {
            "wm": wm,
            "frontier": sorted(n for n, mt in shards if mt >= wm),
        }

    def partitions(self, start: dict, end: dict):
        s_wm, s_front = self._parse_offset(start)
        e_wm, e_front = self._parse_offset(end)
        new = []
        for n, mt in self._shards():
            in_end = n in e_front or mt < e_wm
            in_start = n in s_front or mt < s_wm
            if in_end and not in_start:
                new.append(n)
        return [
            _ShardPartition(os.path.join(self.path, n), self.permissive)
            for n in sorted(new)
        ] or [_ShardPartition("", self.permissive)]

    def read(self, partition: _ShardPartition):
        if not partition.path:
            return
        yield from _decode_shard_batches(
            partition.path,
            self.spark_schema,
            permissive=partition.permissive,
        )

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up; shards remain the batch source


class JsonlShardsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_shards"

    def schema(self) -> str:
        return self.options.get("schema_ddl", _DEFAULT_SCHEMA)

    def reader(self, schema: StructType) -> JsonlShardsReader:
        return JsonlShardsReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> JsonlShardsWriter:
        return JsonlShardsWriter(schema, dict(self.options), overwrite)

    def streamReader(self, schema: StructType) -> JsonlShardsStreamReader:
        return JsonlShardsStreamReader(schema, dict(self.options))


def register_jsonl_shards(spark) -> None:
    """Idempotent session registration (re-registering replaces).

    The registration pickles the data source with the context's Python
    includes and environment as they are NOW, so the package ships
    first. The includes alone do not reach the streaming planner
    worker: Spark 4.1's ``PythonStreamingSourceRunner`` looks for them
    under a ``streaming_job`` subdirectory of the SparkFiles root,
    which ``addPyFile`` never fills; a driver that imports the package
    from ``sys.path`` alone then fails to unpickle the source. The
    registration therefore also carries the driver-local zip on the
    worker's PYTHONPATH (a path executors lack is skipped there)."""
    from sklearn_raster_spark.session import ensure_workers_can_import

    env = spark.sparkContext.environment
    saved = env.get("PYTHONPATH")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ensure_workers_can_import(spark), saved]))
    try:
        spark.dataSource.register(JsonlShardsDataSource)
    finally:
        if saved is None:
            del env["PYTHONPATH"]
        else:
            env["PYTHONPATH"] = saved
