"""Class-data-sharing (AppCDS) archive for the driver JVM of local
``session.get_spark`` sessions; ``session.py``'s docstring explains the
archive, its bounds and the cache.

``plan`` decides how a fresh driver JVM starts: mapping the archive for
this exact classpath, dumping it at exit when there is none yet, or, when
a bound does not hold, exactly as Spark starts it. ``start`` launches the
JVM under that plan and, for a dump, registers the bounded wait that
promotes the finished archive when the process exits.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shlex
import shutil
import struct
import subprocess
from dataclasses import dataclass

# JDK 17's dynamic archive header (CDSFileMapHeaderBase, archive version 11):
# magic, crc and version, then 7 regions of 6 ints and 6 size_t fields, of
# which file_offset and used come first. A truncated archive is not
# rejected by the JVM: mapping it dies with SIGBUS, so every archive is
# checked against its own header before a JVM is pointed at it.
_MAGIC, _VERSION = 0xF00BABA8, 11
_REGIONS, _REGIONS_AT, _REGION_SIZE = 7, 16, 72

# Variables through which Spark's launcher adds classpath entries this
# module does not key; with any of them set the JVM starts as before.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
    "SPARK_SQL_TESTING",
)
# A caller's own sharing flags win: no archive is added next to them.
_CALLER_CDS_FLAGS = ("-Xshare", "-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit")
# Off stdout, which belongs to the program: a stale archive warns there,
# and a dump warns about every class it skips.
_LOG_FLAGS = ("-Xlog:cds*=off", "-Xlog:cds*=error:stderr")

# The dumping JVM writes 180-220 MB at exit in 12-30 s on a 4-core host.
DUMP_WAIT_S = 120


@dataclass(frozen=True)
class Launch:
    jar: str  # the staged local-filesystem jar, first on the classpath
    conf_dir: str  # the engine's empty SPARK_CONF_DIR for the launch
    java_options: str  # the CDS flags, before the caller's options
    archive: str  # <cache>/cds/<key>.jsa
    dump: str | None  # the temp archive the JVM writes at exit; None maps ``archive``


def cache_root() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft")


def staged_jar(jar: str) -> str:
    """Where ``stage_jar`` puts ``jar``: named by its content hash, so one
    copy serves every checkout that holds the same bytes."""
    with open(jar, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    stem = os.path.splitext(os.path.basename(jar))[0]
    return os.path.join(cache_root(), "jars", f"{stem}-{digest}.jar")


def stage_jar(jar: str) -> str:
    path = staged_jar(jar)
    if not os.path.isfile(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        shutil.copyfile(jar, tmp)
        os.replace(tmp, path)
    return path


def _java() -> str | None:
    """The java binary Spark's launcher runs, if it is a JDK 17."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release")) as f:
            jdk17 = 'JAVA_VERSION="17.' in f.read()
    except OSError:
        return None
    return java if jdk17 else None


def _stamp(path: str) -> str:
    try:
        st = os.stat(path)
    except OSError:
        return f"{path} -\n"
    return f"{path} {st.st_size} {st.st_mtime_ns}\n"


def whole(path: str) -> bool:
    """True if ``path`` is a JDK 17 dynamic archive that holds every byte
    its header's regions claim."""
    try:
        with open(path, "rb") as f:
            head = f.read(_REGIONS_AT + _REGIONS * _REGION_SIZE)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return False
    if len(head) < _REGIONS_AT + _REGIONS * _REGION_SIZE:
        return False
    magic, _, version = struct.unpack_from("=IiI", head)
    if (magic, version) != (_MAGIC, _VERSION):
        return False
    end = 0
    for i in range(_REGIONS):
        offset, _, used = struct.unpack_from("=3Q", head, _REGIONS_AT + i * _REGION_SIZE + 24)
        end = max(end, offset + used)
    return 0 < end <= size


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def plan(jar: str, caller_classpath: str, caller_options: str) -> Launch | None:
    """How a fresh local driver JVM starts; None keeps Spark's launch.

    The archive is tied to the exact classpath: the staged ``jar``, the
    caller's entries, the conf dir and Spark's jars. It is keyed by the
    java binary and every one of those entries with its size and mtime.
    """
    from pyspark.find_spark_home import _find_spark_home

    if (
        "PYSPARK_GATEWAY_PORT" in os.environ  # the JVM is not launched here
        or "SPARK_CONF_DIR" in os.environ
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or any(f in caller_options for f in _CALLER_CDS_FLAGS)
    ):
        return None
    spark_home = _find_spark_home()
    # the launcher puts the conf dir on the classpath, and a dump fails on
    # a non-empty directory: only a conf dir of templates is swapped for
    # the engine's empty one, which loads the same (no) settings
    spark_conf = os.path.join(spark_home, "conf")
    conf = os.listdir(spark_conf) if os.path.isdir(spark_conf) else []
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    caller = [p for p in caller_classpath.split(os.pathsep) if p]
    java = _java()
    if (
        java is None
        or not jars
        or not all(n.endswith(".template") for n in conf)
        or any("*" in p or os.path.isdir(p) for p in caller)
    ):
        return None

    root = cache_root()
    conf_dir, cds = os.path.join(root, "conf"), os.path.join(root, "cds")
    try:
        staged = stage_jar(jar)
        os.makedirs(conf_dir, exist_ok=True)
        os.makedirs(cds, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cds, os.W_OK):
            return None
    except OSError:
        return None

    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    stamps = "".join(_stamp(p) for p in (java, libjvm, staged, *caller, conf_dir, *jars))
    key = hashlib.sha256(stamps.encode()).hexdigest()[:24]
    archive = os.path.join(cds, f"{key}.jsa")

    dumping = False  # another live process claimed this key's dump
    for tmp in glob.glob(os.path.join(cds, "*.jsa.*.tmp")):
        owner = tmp.rsplit(".", 2)[1]
        if owner.isdigit() and not _alive(int(owner)):
            _remove(tmp)
        elif tmp.startswith(archive + "."):
            dumping = True
    if whole(archive):
        dump, flag = None, f"-XX:SharedArchiveFile={archive}"
    elif dumping:
        return None  # one dump per key: this JVM starts as Spark starts it
    else:
        # the empty file claims the dump; the JVM replaces it at exit
        dump = f"{archive}.{os.getpid()}.tmp"
        try:
            open(dump, "w").close()
        except OSError:
            return None
        flag = f"-XX:ArchiveClassesAtExit={dump}"
    options = " ".join(shlex.quote(f) for f in (*_LOG_FLAGS, flag))
    return Launch(staged, conf_dir, options, archive, dump)


def start(builder, launch: Launch):
    """``builder.getOrCreate()`` with the launch's conf dir; a dumping
    launch promotes its archive when this process exits."""
    from pyspark import SparkContext

    os.environ["SPARK_CONF_DIR"] = launch.conf_dir  # plan() saw it unset
    proc = None
    try:
        spark = builder.getOrCreate()
        proc = getattr(SparkContext._gateway, "proc", None)
    finally:
        del os.environ["SPARK_CONF_DIR"]
        if launch.dump:
            if proc is None:
                _remove(launch.dump)  # no JVM of ours will write it
            else:
                atexit.register(_promote, proc, launch.dump, launch.archive)
    return spark


def _promote(proc: subprocess.Popen, tmp: str, archive: str) -> None:
    """Let the dumping JVM exit (within ``DUMP_WAIT_S``), then publish the
    archive it wrote."""
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        code = proc.wait(timeout=DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    if code != 0 or not whole(tmp):
        _remove(tmp)
        return
    os.replace(tmp, archive)
