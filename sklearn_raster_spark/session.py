"""SparkSession factory with scale-oriented defaults.

These settings are chosen for a large cluster (the 100 TB design point)
but degrade gracefully on local[N]:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy demotion replace hand-tuned partition counts.
- Arrow on: every Python-boundary crossing (mapInPandas / pandas_udf /
  createDataFrame) is vectorized batch transfer, never per-row pickling.
- Partial aggregation, predicate pushdown, column pruning are Catalyst
  defaults — we only have to not defeat them (no opaque UDFs in filters).

When ``get_spark`` launches the driver JVM itself, the JVM starts from a
class-data-sharing archive (``ClassArchive``) so that Spark's classes are
mapped, not loaded one by one, on every start.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import time
import warnings
import zipfile
from pathlib import Path

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

_PKG_ZIP: str | None = None


def ensure_workers_can_import(spark: SparkSession) -> str:
    """Ship this package to executor Python workers via addPyFile.

    Broadcast estimator instances pickle their classes BY REFERENCE
    (cloudpickle), so the worker process must be able to import
    ``sklearn_raster_spark``. When the driver's cwd is the repo this
    works implicitly; any other cwd (or a real cluster) needs the
    package on the workers' sys.path — a zip via addPyFile is the
    session-agnostic way. Idempotent; the zip (the package's ``.py``
    files stored uncompressed, just under 1 MB) is built once per
    process in the temp dir and removed when the process exits; its
    driver-local path is returned."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        fd, zpath = tempfile.mkstemp(prefix="sklearn_raster_spark_", suffix=".zip")
        os.close(fd)
        atexit.register(Path(zpath).unlink, missing_ok=True)
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "sklearn_raster_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        _PKG_ZIP = zpath
    sc = spark.sparkContext
    # remember per-context so repeated applies don't re-add (and don't
    # spam "path has been added already" warnings)
    if getattr(sc, "_srs_pkg_shipped", None) == _PKG_ZIP:
        return _PKG_ZIP
    try:
        sc.addPyFile(_PKG_ZIP)
    except Py4JJavaError as exc:
        # Spark's file server refuses a second file of the same name
        if "already registered" not in str(exc.java_exception):
            raise
    sc._srs_pkg_shipped = _PKG_ZIP
    return _PKG_ZIP


_JAVA_OPTS = "spark.driver.extraJavaOptions"
# a caller who passes any of these manages class-data sharing itself
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# where the driver launch reads JVM options besides the conf
_JAVA_OPTS_ENV = (
    "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS",
    "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS",
)
# what else the launcher puts on the driver classpath
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS")
# the JVM took 12-16 s to write the archive as it exited, on a 4-vCPU host
_DUMP_EXIT_TIMEOUT_S = 180.0
# archives of other keys (an older JDK or jar set) idle this long are deleted
_ARCHIVE_MAX_IDLE_S = 30 * 24 * 3600


def _java_home() -> Path | None:
    """The JDK that ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return Path(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return Path(os.path.realpath(java)).parent.parent if java else None


def _jdk_major(release: str) -> int:
    """Feature version from a JDK ``release`` file ("1.8.0_x" → 8, "17.0.2" → 17)."""
    m = re.search(r'^JAVA_VERSION="(\d+)(?:\.(\d+))?', release, re.MULTILINE)
    if m is None:
        return 0
    major = int(m.group(1))
    return int(m.group(2) or 0) if major == 1 else major


def _holds_real_files(directory: str | Path) -> bool:
    """True when ``directory`` holds anything but ``*.template`` files."""
    try:
        with os.scandir(directory) as entries:
            return any(not e.name.endswith(".template") for e in entries)
    except FileNotFoundError:
        return False


class ClassArchive:
    """A JDK dynamic class-data-sharing (CDS) archive for the driver JVM.

    The archive is a file of pre-parsed classes that the JVM maps at start
    instead of loading Spark's jars class by class. It lives at
    ``${XDG_CACHE_HOME:-~/.cache}/sklearn_raster_spark/cds/<key>.jsa``,
    where the key hashes the JDK (its ``release`` file), the name, size and
    mtime of every jar in ``$SPARK_HOME/jars`` and the driver classpath
    settings, so any change to them names a new archive. It is kept out of
    the temp dir, which benchmarks and CI delete between runs.

    A launch whose archive exists appends ``-XX:SharedArchiveFile`` to the
    caller's driver Java options. A launch whose archive is missing appends
    ``-XX:ArchiveClassesAtExit=<archive>.tmp.<pid>``: the JVM writes the
    file as it exits, and ``finish_dump`` ends the JVM when Python exits,
    waits for it and moves the file into place only when the JVM exited
    with code 0 and the file is non-empty; it then deletes the archives of
    other keys that no launch has used for 30 days (a hit refreshes the
    mtime of its archive). Either launch puts the empty
    directory ``cds/conf`` in place of the Spark conf dir on the classpath:
    the JVM refuses an archive while a non-empty directory is on it.
    """

    def __init__(self, path: Path, conf_dir: Path):
        self.path = path
        self.conf_dir = conf_dir
        self.dump: Path | None = (
            None if path.is_file() else path.with_name(f"{path.name}.tmp.{os.getpid()}")
        )

    @classmethod
    def for_launch(cls, conf: dict[str, str]) -> ClassArchive | None:
        """The archive for a driver JVM launched with ``conf``, or None when
        sharing stays off: the Spark (or Hadoop/YARN) conf dir holds a real
        file, which needs the dir on the classpath; the caller passes a
        class-sharing flag; the JDK is older than 13 or cannot be found; or
        the cache dir cannot be written."""
        caller = " ".join([conf.get(_JAVA_OPTS, "")] + [os.environ.get(k, "") for k in _JAVA_OPTS_ENV])
        java_home = _java_home()
        if java_home is None or any(flag in caller for flag in _CDS_FLAGS):
            return None
        spark_home = Path(_find_spark_home())
        conf_dirs = [
            os.environ.get("SPARK_CONF_DIR") or spark_home / "conf",
            os.environ.get("HADOOP_CONF_DIR"),
            os.environ.get("YARN_CONF_DIR"),
        ]
        try:
            release = (java_home / "release").read_text()
            if _jdk_major(release) < 13 or any(d and _holds_real_files(d) for d in conf_dirs):
                return None
            classpath = [conf.get("spark.driver.extraClassPath", "")]
            classpath += [os.environ.get(k, "") for k in _CLASSPATH_ENV]
            key = hashlib.sha256()
            for part in [str(java_home), release, str(spark_home), *classpath]:
                key.update(part.encode() + b"\0")
            with os.scandir(spark_home / "jars") as jars:
                for jar in sorted(jars, key=lambda e: e.name):
                    st = jar.stat()
                    key.update(f"{jar.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
            cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
            cache = cache / "sklearn_raster_spark" / "cds"
            (cache / "conf").mkdir(parents=True, exist_ok=True)
            path = cache / f"{key.hexdigest()[:24]}.jsa"
            if path.is_file():
                os.utime(path)
        except OSError:
            return None
        _remove_orphan_dumps(cache)
        return cls(path, cache / "conf")

    def java_options(self) -> str:
        """The options this launch adds. The JVM logs every class it
        cannot archive (hundreds of lines) and any archive it refuses to
        stdout, where callers print their results: that log is off. A JVM
        that crashes on a damaged archive writes its error log into the
        cache dir, not the caller's working directory."""
        common = f"-Xlog:cds*=off -XX:ErrorFile={self.path.parent}/hs_err_pid%p.log"
        if self.dump is not None:
            return f"-XX:ArchiveClassesAtExit={self.dump} {common}"
        return f"-XX:SharedArchiveFile={self.path} {common}"

    def drop(self, why: str) -> None:
        """Delete the file this launch handed to the JVM, and say so."""
        handed = self.path if self.dump is None else self.dump
        handed.unlink(missing_ok=True)
        warnings.warn(
            f"the driver JVM {why} class-data-sharing archive {handed}; deleted it",
            RuntimeWarning,
            stacklevel=4,
        )

    def finish_dump(self, proc: subprocess.Popen) -> None:
        """For a dumping launch, at Python exit: end the JVM ``proc``, which
        writes the archive as it exits, and keep the file only when it is
        complete."""
        if proc.poll() is None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=_DUMP_EXIT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode == 0 and self.dump.is_file() and self.dump.stat().st_size > 0:
            os.replace(self.dump, self.path)
            _remove_idle_archives(self.path)
        else:
            self.dump.unlink(missing_ok=True)


def _remove_orphan_dumps(cache: Path) -> None:
    """Delete half-written archives whose Python process is gone (killed
    before its exit hook could keep or delete the file)."""
    for dump in cache.glob("*.jsa.tmp.*"):
        try:
            os.kill(int(dump.name.rsplit(".", 1)[1]), 0)
        except ProcessLookupError:
            dump.unlink(missing_ok=True)
        except (ValueError, PermissionError):
            pass


def _remove_idle_archives(current: Path) -> None:
    """Delete the archives of other keys untouched for
    ``_ARCHIVE_MAX_IDLE_S``: each JDK update or jar change names a new
    140-165 MB archive and leaves the old one behind."""
    cutoff = time.time() - _ARCHIVE_MAX_IDLE_S
    for jsa in current.parent.glob("*.jsa"):
        if jsa != current and jsa.stat().st_mtime < cutoff:
            jsa.unlink(missing_ok=True)


def _start_session(app_name: str, master: str, conf: dict[str, str]) -> SparkSession:
    return SparkSession.builder.appName(app_name).master(master).config(map=conf).getOrCreate()


def _launch_with_archive(
    app_name: str, master: str, conf: dict[str, str], archive: ClassArchive
) -> SparkSession:
    """Launch the driver JVM from ``archive``. A truncated or corrupt
    archive can crash the JVM at start (its ``hs_err_pid*.log`` goes to
    the cache dir): then the archive is deleted and the JVM is
    launched once more without it. A JVM that starts with no class sharing
    at all has refused the archive: it is deleted for the next launch."""
    opts = f"{conf.get(_JAVA_OPTS, '')} {archive.java_options()}".strip()
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(archive.conf_dir)
    try:
        spark = _start_session(app_name, master, {**conf, _JAVA_OPTS: opts})
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        spark = None
    finally:
        if saved_conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if spark is None:
        archive.drop("did not start with")
        return _start_session(app_name, master, conf)
    if archive.dump is None and "sharing" not in spark._jvm.java.lang.System.getProperty("java.vm.info"):
        archive.drop("started without sharing, refusing")
    if archive.dump is not None:
        atexit.register(archive.finish_dump, SparkContext._gateway.proc)
    return spark


def get_spark(
    app_name: str = "sklearn_raster_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass ``master=None`` with an externally configured
    session — every setting here is also safe cluster-side.

    When this call launches the driver JVM, the JVM starts from this
    host's ``ClassArchive`` (and the first launch writes it).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    conf = {
        # --- adaptive execution: the 100-TB safety net -------------------
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing ---------------------------------------------
        "spark.sql.shuffle.partitions": DEFAULT_SHUFFLE_PARTITIONS,
        # --- heap: local-mode drivers default to a 1 GiB JVM, which a
        #     32-thread local[32] run exhausts (every "executor" shares
        #     the driver heap). Applies only at JVM launch; on a real
        #     cluster the submit config wins. ----------------------------
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # ContextCleaner only reaps shuffle files / broadcasts /
        # checkpoint blocks after a JVM GC proves the references dead;
        # a big heap may not GC for hours, so long-running drivers
        # accumulate. Periodic forced GC is the standard knob (default
        # 30min is too lazy for a query-per-second serving loop).
        "spark.cleaner.periodicGC.interval": "2min",
        # --- Arrow everywhere at the Python boundary ---------------------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Python Data Source API: let Catalyst hand predicates to
        # pushFilters (sources/pyds.py turns them into shard pruning)
        "spark.sql.python.filterPushdown.enabled": "true",
        # --- scan sizing: one task per row-group-ish ---------------------
        "spark.sql.files.maxPartitionBytes": "134217728",
        # --- keep executor-side BLAS from oversubscribing (reference:
        #     utils/decorators.py:84-126 thread limiting; here it is an
        #     executor-env concern, SURVEY.md O14) -----------------------
        "spark.executorEnv.OMP_NUM_THREADS": "1",
        "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
        "spark.executorEnv.MKL_NUM_THREADS": "1",
        # quieter local runs
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        **(extra_conf or {}),
    }
    # only a launch from this call can take an archive: an existing
    # gateway (or one handed over by spark-submit) already runs its JVM
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = ClassArchive.for_launch(conf)
    if archive is None:
        spark = _start_session(app_name, master, conf)
    else:
        spark = _launch_with_archive(app_name, master, conf, archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark
