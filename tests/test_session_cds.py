"""The driver JVM's class-data-sharing archive (``session.ClassArchive``).

The JVM-backed tests run each session in a subprocess (this pytest
process already has its JVM, and only a launch can take an archive),
with a temporary ``XDG_CACHE_HOME`` and ``cwd=tmp_path``, so a test can
see that a JVM that crashes on a damaged archive leaves no
``hs_err_pid*.log`` in its working directory. Core dumps are off in the
children.
"""

import json
import os
import resource
import shutil
import subprocess
import sys
import time
from pathlib import Path
from unittest import mock

import pytest
from py4j.protocol import Py4JJavaError

from sklearn_raster_spark import session
from sklearn_raster_spark.session import ClassArchive

REPO = Path(__file__).resolve().parent.parent

# One session: caller Java options and a conf the caller passes, one SQL
# job, then what the child sees before it exits.
_CHILD = """
import json, os, sys
from pathlib import Path
from sklearn_raster_spark.session import get_spark

conf = json.loads(sys.argv[1])
spark = get_spark(app_name="cds-test", master="local[1]", extra_conf=conf)
jvm = spark.sparkContext._jvm
cds = Path(os.environ["XDG_CACHE_HOME"], "sklearn_raster_spark", "cds")
print(json.dumps({
    "rows": spark.range(3).selectExpr("sum(id) AS s").collect()[0]["s"],
    "java_options": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""),
    "caller_property": jvm.java.lang.System.getProperty("srs.caller"),
    "vm_info": jvm.java.lang.System.getProperty("java.vm.info"),
    "probe_conf": spark.conf.get("spark.srs.probe", None),
    "archives_before_exit": sorted(p.name for p in cds.glob("*.jsa*")) if cds.is_dir() else [],
}))
"""

CALLER_OPTS = "-Dsrs.caller=kept"


def _no_core_dumps():
    resource.setrlimit(resource.RLIMIT_CORE, (0, 0))


def _run_session(tmp_path: Path, cache: Path, conf: dict | None = None, env: dict | None = None):
    conf = {"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": CALLER_OPTS, **(conf or {})}
    child_env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    child_env.update(XDG_CACHE_HOME=str(cache), PYTHONPATH=str(REPO), **(env or {}))
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, json.dumps(conf)],
        cwd=tmp_path, env=child_env, capture_output=True, text=True, timeout=600,
        preexec_fn=_no_core_dumps,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def _java_processes_naming(path: Path) -> list[int]:
    """Live processes whose command line mentions ``path``."""
    found = []
    for entry in Path("/proc").iterdir():
        if entry.name.isdigit():
            try:
                if str(path).encode() in (entry / "cmdline").read_bytes():
                    found.append(int(entry.name))
            except OSError:
                pass
    return found


def _archive_path(cache: Path, monkeypatch, conf: dict | None = None) -> Path:
    """Where a child launched with ``conf`` looks for its archive."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    archive = ClassArchive.for_launch({"spark.driver.extraJavaOptions": CALLER_OPTS, **(conf or {})})
    assert archive is not None
    return archive.path


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A session that finds no archive: it writes one as its JVM exits."""
    tmp = tmp_path_factory.mktemp("dump")
    cache = tmp / "cache"
    seen, _ = _run_session(tmp, cache)
    return seen, cache / "sklearn_raster_spark" / "cds"


def test_missing_archive_is_written_when_the_process_exits(dumped):
    seen, cds = dumped
    assert seen["rows"] == 3
    assert seen["archives_before_exit"] == []
    assert "-XX:ArchiveClassesAtExit=" in seen["java_options"]
    archives = sorted(p.name for p in cds.iterdir() if p.is_file())
    assert len(archives) == 1 and archives[0].endswith(".jsa"), archives
    assert (cds / archives[0]).stat().st_size > 0
    assert _java_processes_naming(cds) == []


def test_caller_java_options_are_kept(dumped):
    seen, _ = dumped
    assert seen["caller_property"] == "kept"
    # Spark puts its own defaults first; the caller's options stay whole
    assert f"{CALLER_OPTS} -XX:ArchiveClassesAtExit=" in seen["java_options"]


def _truncate(path: Path) -> None:
    data = path.read_bytes()[: 1 << 20]
    path.unlink()
    path.write_bytes(data)


def _flip_header(path: Path) -> None:
    data = bytearray(path.read_bytes())
    data[16:80] = bytes(b ^ 0xFF for b in data[16:80])
    path.unlink()
    path.write_bytes(bytes(data))


@pytest.mark.parametrize("damage", ["intact", "truncated", "corrupt", "stale"])
def test_archive_in_any_state_starts_a_session(dumped, damage, tmp_path, monkeypatch):
    _, dumped_cds = dumped
    real = next(p for p in dumped_cds.iterdir() if p.suffix == ".jsa")
    cache = tmp_path / "cache"
    conf = {}
    if damage == "stale":
        # an archive dumped for another classpath under this launch's name
        jar = tmp_path / "extra.jar"
        shutil.copy(min(Path(session._find_spark_home(), "jars").glob("*.jar"), key=os.path.getsize), jar)
        conf = {"spark.driver.extraClassPath": str(jar)}
    target = _archive_path(cache, monkeypatch, conf)
    shutil.copy(real, target)
    target.chmod(0o644)
    if damage == "truncated":
        _truncate(target)
    elif damage == "corrupt":
        _flip_header(target)

    seen, stderr = _run_session(tmp_path, cache, conf)

    assert seen["rows"] == 3
    assert seen["caller_property"] == "kept"
    if damage in ("intact", "stale"):
        assert target.is_file()
        assert "sharing" in seen["vm_info"]
        assert f"-XX:SharedArchiveFile={target}" in seen["java_options"]
    else:
        # a truncated archive crashes the JVM at start; a corrupt header
        # makes it start with all class sharing off; either way it goes
        assert not target.exists()
        why = "did not start with" if damage == "truncated" else "started without sharing, refusing"
        assert f"the driver JVM {why} class-data-sharing archive {target}" in stderr
    # a JVM that crashed on the archive wrote its error log to the cache dir
    assert list(tmp_path.glob("hs_err_pid*.log")) == []
    assert _java_processes_naming(cache) == []


def test_real_spark_conf_disables_the_archive(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.srs.probe from-defaults\n")
    cache = tmp_path / "cache"

    seen, _ = _run_session(tmp_path, cache, env={"SPARK_CONF_DIR": str(conf_dir)})

    assert seen["probe_conf"] == "from-defaults"
    assert CALLER_OPTS in seen["java_options"]
    assert not any(flag in seen["java_options"] for flag in session._CDS_FLAGS)
    assert not list(cache.rglob("*.jsa*"))


def _fake_jdk(root: Path, version: str) -> Path:
    root.mkdir()
    (root / "release").write_text(f'JAVA_VERSION="{version}"\n')
    return root


@pytest.mark.parametrize(
    "case, expect_on",
    [
        ("templates only", True),
        ("real conf file", False),
        ("caller -Xshare", False),
        ("caller SharedArchiveFile", False),
        ("submit opts ArchiveClassesAtExit", False),
        ("jdk 11", False),
        ("jdk 1.8", False),
        ("jdk 13", True),
    ],
)
def test_when_the_archive_is_off(case, expect_on, tmp_path, monkeypatch):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_SUBMIT_OPTS", raising=False)
    conf = {"spark.driver.extraJavaOptions": CALLER_OPTS}
    if case == "real conf file":
        (conf_dir / "log4j2.properties").write_text("")
    elif case == "caller -Xshare":
        conf["spark.driver.extraJavaOptions"] += " -Xshare:off"
    elif case == "caller SharedArchiveFile":
        conf["spark.driver.extraJavaOptions"] += " -XX:SharedArchiveFile=/elsewhere.jsa"
    elif case == "submit opts ArchiveClassesAtExit":
        monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-XX:ArchiveClassesAtExit=/elsewhere.jsa")
    elif case.startswith("jdk"):
        monkeypatch.setenv("JAVA_HOME", str(_fake_jdk(tmp_path / "jdk", case.split()[1] + ".0.1")))
    assert (ClassArchive.for_launch(conf) is not None) == expect_on


def test_archive_key_follows_the_classpath_and_jdk(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    base = ClassArchive.for_launch({}).path
    assert ClassArchive.for_launch({}).path == base
    assert ClassArchive.for_launch({"spark.driver.extraClassPath": "/x.jar"}).path != base
    monkeypatch.setenv("JAVA_HOME", str(_fake_jdk(tmp_path / "jdk", "21.0.1")))
    assert ClassArchive.for_launch({}).path != base
    assert base.parent == tmp_path / "cache" / "sklearn_raster_spark" / "cds"


def _stand_in_jvm(exit_code: int) -> subprocess.Popen:
    """Stands in for the JVM: exits with ``exit_code`` once its stdin closes."""
    return subprocess.Popen(
        [sys.executable, "-c", f"import os, sys; sys.stdin.read(); os._exit({exit_code % 256})"],
        stdin=subprocess.PIPE,
    )


@pytest.mark.parametrize(
    "exit_code, written, kept",
    [(0, b"archive", True), (1, b"archive", False), (-9, b"archive", False), (0, b"", False), (0, None, False)],
)
def test_only_a_complete_dump_is_moved_into_place(exit_code, written, kept, tmp_path):
    archive = ClassArchive(tmp_path / "k.jsa", tmp_path / "conf")
    if written is not None:
        archive.dump.write_bytes(written)
    jvm = _stand_in_jvm(exit_code)
    if exit_code < 0:
        jvm.kill()
    archive.finish_dump(jvm)
    assert jvm.returncode == exit_code
    assert archive.path.exists() == kept
    assert not archive.dump.exists()


def _age(path: Path, days: float) -> None:
    then = time.time() - days * 24 * 3600
    os.utime(path, (then, then))


def test_a_new_archive_deletes_archives_idle_for_30_days(tmp_path):
    for name in ("old.jsa", "recent.jsa", "old.txt"):
        (tmp_path / name).write_bytes(b"x")
    _age(tmp_path / "old.jsa", 31)
    _age(tmp_path / "recent.jsa", 29)
    _age(tmp_path / "old.txt", 31)
    archive = ClassArchive(tmp_path / "k.jsa", tmp_path / "conf")
    archive.dump.write_bytes(b"archive")
    _age(archive.dump, 60)  # the key being written is kept whatever its age
    archive.finish_dump(_stand_in_jvm(0))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["k.jsa", "old.txt", "recent.jsa"]


def test_a_hit_marks_its_archive_in_use(tmp_path, monkeypatch):
    path = _archive_path(tmp_path / "cache", monkeypatch)
    path.write_bytes(b"archive")
    _age(path, 31)
    assert ClassArchive.for_launch({"spark.driver.extraJavaOptions": CALLER_OPTS}).dump is None
    assert time.time() - path.stat().st_mtime < 3600


def test_orphaned_dumps_are_removed(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    cds = ClassArchive.for_launch({}).path.parent
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    (cds / f"k.jsa.tmp.{gone.pid}").write_bytes(b"half")
    (cds / f"k.jsa.tmp.{os.getpid()}").write_bytes(b"being written")
    ClassArchive.for_launch({})
    assert sorted(p.name for p in cds.glob("*.tmp.*")) == [f"k.jsa.tmp.{os.getpid()}"]


def test_package_zip_is_removed_at_exit(tmp_path):
    code = (
        "import sys; from unittest import mock; from sklearn_raster_spark import session\n"
        "sc = mock.Mock(_srs_pkg_shipped=None)\n"
        "session.ensure_workers_can_import(mock.Mock(sparkContext=sc))\n"
        "sc.addPyFile.assert_called_once_with(session._PKG_ZIP); print(session._PKG_ZIP)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(REPO)}
    proc = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert Path(proc.stdout.strip()).parent == tmp_path
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize("already", [True, False])
def test_only_an_already_shipped_package_is_forgiven(already, monkeypatch):
    monkeypatch.setattr(session, "_PKG_ZIP", "/pkg.zip")
    java_exc = mock.MagicMock(_target_id="o1")
    java_exc.__str__.return_value = (
        "java.lang.IllegalArgumentException: File pkg.zip was already registered with a different path"
        if already else "java.io.IOException: No space left on device"
    )
    sc = mock.Mock(_srs_pkg_shipped=None)
    sc.addPyFile.side_effect = Py4JJavaError("addFile failed", java_exc)
    spark = mock.Mock(sparkContext=sc)
    if already:
        session.ensure_workers_can_import(spark)
        assert sc._srs_pkg_shipped == "/pkg.zip"
    else:
        with pytest.raises(Py4JJavaError):
            session.ensure_workers_can_import(spark)
