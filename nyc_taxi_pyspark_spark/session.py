"""SparkSession factory with scale-ready defaults.

Defaults encode SURVEY.md §4's physical-execution decisions:
  - AQE on (partition coalescing + skew-join handling) instead of the
    reference's per-job ``spark.sql.shuffle.partitions`` tuning
    (reference: spark_jobs/01_ingest.py:19, 02_clean_eda.py:15).
  - UTC session timezone — the reference is timezone-naive, which makes
    ``hour()``/``DATE()`` machine-dependent; pinning UTC makes results
    reproducible and oracle-comparable.
  - Arrow enabled for any pandas boundary (reference: streamlit_app/app5.py:131).
  - Explicit-schema reads everywhere (no inferSchema double-scan,
    reference anti-pattern at spark_jobs/01_ingest.py:27).

On a real cluster the same factory applies: AQE sizes shuffle partitions from
runtime statistics, so the config survives a 1000-executor deployment without
retuning.

The driver JVM starts from a class-data-sharing archive (JDK dynamic AppCDS,
JEP 310/350) when one exists for this JDK and Spark class path: most of a
cold start is loading and verifying Spark's classes, and the archive maps
them in ready-made. The archive is built once per checkout under
``.artifacts/cds/`` by a short training child (see ``_build_archive``); a
launch that cannot use it starts exactly as it would without it.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Checkout-local and gitignored, like the taxi fixture (catalog/taxi_domain.py).
_CDS_DIR = os.path.join(_ROOT, ".artifacts", "cds")
# Unified-logging CDS lines ("Unable to use shared archive", "Preload
# Warning") go to stdout, where the CLI prints its results: silence them on
# both the dumping and the using side.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# The training child's budget; perfbench waits 150 s for a worker's READY.
_BUILD_TIMEOUT_S = 100
# Environment that adds entries to the driver's class path; the archive is
# keyed on a class path without them.
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 16g: in local mode the
    driver heap is the whole cluster, and a fixed 16g on a 16 GB host lets
    one busy JVM starve every other process."""
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    return f"{min(half, 16 << 30) >> 20}m"


def _engine_conf(cpus: int, shuffle_partitions: int | None, driver_memory: str | None) -> dict[str, str]:
    return {
        # AQE: runtime partition coalescing, skew-join splitting, join re-planning.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Static starting point ~ cores; AQE coalesces down from here.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # Determinism / comparability.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.timeParserPolicy": "CORRECTED",
        # Arrow for the pandas/Pandas-UDF boundary.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # columns carry NO parquet min/max statistics, which silently
        # disables file/row-group pruning on time predicates — the dominant
        # filter dimension of a 100 TB event table.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Quieter, faster local runs.
        "spark.ui.enabled": "false",
        "spark.driver.memory": driver_memory
        or os.environ.get("SPARK_DRIVER_MEMORY")
        or _default_driver_memory(),
    }


def _build_session(master: str, app_name: str, conf: dict[str, str]) -> SparkSession:
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark(
    app_name: str = "nyc_taxi_pyspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    In local mode the driver JVM is the whole cluster, so
    ``spark.driver.memory`` is the only memory knob that matters.
    """
    cpus = default_parallelism()
    conf = _engine_conf(cpus, shuffle_partitions, driver_memory)
    conf.update(extra_conf or {})
    archive = _driver_archive(conf)
    if archive is None:
        spark = _build_session(master or f"local[{cpus}]", app_name, conf)
    else:
        # defaultJavaOptions goes before extraJavaOptions on the command
        # line, so a caller's PYSPARK_SUBMIT_ARGS heap and tmpdir still apply.
        conf["spark.driver.defaultJavaOptions"] = " ".join(
            filter(None, [f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}",
                          conf.get("spark.driver.defaultJavaOptions")])
        )
        with _env("SPARK_CONF_DIR", _archive_conf_dir()):
            spark = _build_session(master or f"local[{cpus}]", app_name, conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ------------------------------------------------ class-data-sharing archive


def _archive_conf_dir() -> str:
    # CDS refuses a non-empty directory on the class path, and Spark puts the
    # conf dir first: a launch with the archive points SPARK_CONF_DIR here.
    return os.path.join(_CDS_DIR, "conf")


@contextlib.contextmanager
def _env(name: str, value: str):
    saved = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = saved


def _archive_path(conf: dict[str, str]) -> str | None:
    """The archive file for this launch, named by a digest of what the JVM
    validates a dynamic archive against: the JDK build and the driver class
    path (conf dir, then every jar's name, size and mtime in directory
    order). None when this launch's class path is not the plain one the
    archive is built for, or the checkout is read-only."""
    if "spark.driver.extraClassPath" in conf or any(os.environ.get(v) for v in _CLASS_PATH_ENV):
        return None
    submit = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    if any(a in ("--driver-class-path", "--properties-file") or "extraClassPath" in a for a in submit):
        return None
    spark_home = os.path.realpath(_find_spark_home())
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        # Only templates in the conf dir: swapping in the empty one changes
        # nothing Spark reads. A real spark-defaults.conf, log4j2.properties
        # or spark-env.sh keeps the archive off.
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
    except FileNotFoundError:
        pass
    digest = hashlib.sha256()
    try:
        os.makedirs(_archive_conf_dir(), exist_ok=True)  # fails on a read-only checkout
        if os.listdir(_archive_conf_dir()):
            return None
        digest.update(f"{java}\0{spark_home}\0{_archive_conf_dir()}\0".encode())
        for path in (os.path.join(jdk, "lib", "modules"), os.path.join(jdk, "release")):
            st = os.stat(path)
            digest.update(f"{path} {st.st_size} {st.st_mtime_ns}\0".encode())
        jars = os.path.join(spark_home, "jars")
        for name in os.listdir(jars):  # unsorted: the JVM expands jars/* in this order
            st = os.stat(os.path.join(jars, name))
            digest.update(f"{name} {st.st_size} {st.st_mtime_ns}\0".encode())
    except OSError:
        return None
    return os.path.join(_CDS_DIR, f"driver-{digest.hexdigest()[:16]}.jsa")


def _driver_archive(conf: dict[str, str]) -> str | None:
    """The archive this launch maps, built first if it is missing; None when
    the driver JVM is already up or this launch must start without one."""
    if SparkContext._gateway is not None or os.name != "posix" or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    path = _archive_path(conf)
    if path is not None and (os.path.exists(path) or _build_archive(path)):
        return path
    return None


def _take_lock(lock: str) -> bool:
    """Create ``lock`` holding our pid; False when a live process holds it.
    A lock left by a dead builder is taken over."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(lock, encoding="ascii") as f:
                    os.kill(int(f.read()), 0)
                return False
            except ProcessLookupError:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(lock)
            except (OSError, ValueError):
                return False  # just created and not yet written, or not ours to probe
            continue
        with os.fdopen(fd, "w", encoding="ascii") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _build_archive(path: str) -> bool:
    """Dump the archive in a training child and rename it into place.

    Dumping at the exit of a measured process would put every such run in
    dump mode (slower) and make its exit wait 10+ s for the dump; so one
    short child starts a session, runs a few jobs and dumps, and this
    process waits for it. The dump goes to a temporary name, so no
    half-written file is ever mapped. One process builds at a time (others
    start without the archive); a failed build leaves ``<path>.failed`` and
    is not retried until ``.artifacts/cds/`` is deleted.
    """
    failed = path + ".failed"
    lock = path + ".lock"
    if os.path.exists(failed) or not _take_lock(lock):
        return False
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        for stale in glob.glob(glob.escape(path) + ".*.tmp"):  # from killed builders
            os.unlink(stale)
        env = dict(os.environ)
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        env["SPARK_CONF_DIR"] = _archive_conf_dir()
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [_ROOT, env.get("PYTHONPATH")]))
        t0 = time.perf_counter()
        with tempfile.TemporaryFile() as log:
            # Own process group, so a timeout kills the child's JVM too; the
            # child kills that group itself when our end of its stdin closes.
            child = subprocess.Popen(
                [sys.executable, "-c",
                 "import sys; from nyc_taxi_pyspark_spark.session import _train; _train(sys.argv[1])",
                 tmp],
                env=env,
                stdin=subprocess.PIPE,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = child.wait(timeout=_BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                code = f"timed out after {_BUILD_TIMEOUT_S} s"
                child.wait()
            child.stdin.close()
            if code == 0 and os.path.isfile(tmp) and os.path.getsize(tmp) > 0:
                os.replace(tmp, path)
                print(
                    f"built JVM class-data archive {path} "
                    f"({os.path.getsize(path) / 1e6:.0f} MB) in {time.perf_counter() - t0:.1f} s",
                    file=sys.stderr,
                )
                return True
            log.seek(0)
            tail = log.read().decode(errors="replace")[-4000:]
        with open(failed, "w", encoding="utf-8") as f:
            f.write(f"training child: {code}\n{tail}")
        return False
    except OSError:
        return False
    finally:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        with contextlib.suppress(OSError):
            os.unlink(lock)


def _train(dump_path: str) -> None:
    """The training child: start a session in dump mode, load the classes of
    a first job, a join and aggregate and an Arrow ``toPandas`` (in-memory
    rows only), then exit and wait for the JVM to write the archive."""

    def orphaned() -> None:
        while os.read(0, 4096):  # unbuffered: holds no lock at interpreter exit
            pass
        os.killpg(0, signal.SIGKILL)

    threading.Thread(target=orphaned, daemon=True).start()
    conf = _engine_conf(2, 2, "1g")
    conf["spark.driver.defaultJavaOptions"] = f"-XX:ArchiveClassesAtExit={dump_path} {_CDS_QUIET}"
    spark = _build_session("local[2]", "jvm-archive-training", conf)
    jvm = SparkContext._gateway.proc
    spark.range(1000).count()
    spark.createDataFrame([(i, i % 7) for i in range(100)], "k int, g int").createOrReplaceTempView("facts")
    spark.createDataFrame([(g, f"g{g}") for g in range(7)], "g int, name string").createOrReplaceTempView("dims")
    spark.sql(
        "SELECT name, COUNT(*) AS n, SUM(k) AS s FROM facts JOIN dims USING (g) GROUP BY name ORDER BY name"
    ).toPandas()
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits on EOF, dumping the archive on its way out
    sys.exit(jvm.wait())
