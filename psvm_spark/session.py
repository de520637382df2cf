"""SparkSession factory and the one owner of session confs.

Three rules hold for every conf the engine touches:

- :func:`ensure_session_invariants` applies the *runtime* confs every
  query relies on for oracle parity (UTC timestamps — DuckDB timestamps
  are UTC-naive) and for local-mode performance (AQE on, sane shuffle
  parallelism).  It runs where a session enters the engine, not inside
  queries: in :func:`get_spark`, in the driver contract
  (``__spark_entry__.entry`` and its ``queries()`` wrapper) and in
  ``oracle.compare_query``.  Static confs (driver memory, master) can
  only be set at build time and are therefore only applied in
  :func:`get_spark`.
- A query that needs other values for a while sets them with
  :func:`scoped_confs`, which leaves the session as it found it.
- The scale confs (``psvm.<name>`` in :data:`SCALE_CONFS`) are declared
  once, with their defaults, and read through :func:`scale_conf`.

The JVM that :func:`get_spark` launches starts from a class-data-sharing
archive (JDK dynamic AppCDS) kept in ``<checkout>/.jvm_cache/``; see
:func:`_launch_with_cds` for the policy and :func:`cds_state` for what
happened in this process.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Runtime-settable confs: safe to (re-)apply on a live session.
_RUNTIME_CONFS = {
    # DuckDB oracle compares timestamps as UTC-naive values.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts is parquet TIMESTAMP(NANOS) which Spark 4 refuses outright;
    # read as long ns and convert to a us timestamp in the catalog (DuckDB
    # truncates ns->us on read too, so both engines agree — FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Scale confs, ``psvm.<name>`` -> default.  Each sizes a workload
# parameter derived from the fixture: a probe or model-slice modulus, a
# hash-derived id space, a grid side.  Every oracle pins the default.
# The scale harness (scripts/measure_scale.py) raises them with the
# amplification factor so an amplified corpus keeps the base workload's
# shape, and oracle.compare_query refuses to run with any of them changed.
SCALE_CONFS = {
    "sim.probe_modulo": 50,  # similarity probe set: vec_id % m = 0
    "lof.sample_modulo": 10,  # LOF sample: vec_id % m = 0
    "svm.sv_modulo": 20,  # SVM support-vector model slice
    "svm.test_modulo": 20,  # SVM test panel
    "graph.n_nodes": 4000,  # vertex id space of the hash-derived graph
    "geo.dbscan_grid": 24,  # side of the DBSCAN coordinate grid
}

# The conditions PySpark raises when a conf cannot be set on a live
# session (a static SQL conf such as spark.sql.warehouse.dir, or a core
# conf such as spark.driver.memory).  Any other error is a real fault.
_UNSETTABLE = {"CANNOT_MODIFY_STATIC_CONFIG", "CANNOT_MODIFY_CONFIG"}

# A multi-hundred-query session generates one codegen class set per
# plan; the JDK default 240 MB reserved code cache fills and the JIT
# silently stops compiling, after which HOF/hash-heavy expressions run
# interpreted (measured here: 10-25x on the dedup tier late in a
# 229-query bench, while plain scans stay 1x).  Reserve more and keep
# flushing enabled.
#
# The tier-4 (C2) promotion thresholds are 5x their JDK 17 defaults.  A
# fresh JVM otherwise C2-compiles planning, codegen and streaming
# start-up code that is hot for a few hundred ms: in a cold local[4]
# perfbench pass the compiler threads used 11.8 of 20.9 CPU-s
# (batch_stream_sf001) and 14.1 of 23.5 (psvm_train_amp10); at 5x, query
# CPU fell 30% and 27%.  Code stays in C1 until it has been hot 5x
# longer, so per-row loops over real data still reach C2 within their
# first few hundred thousand rows.  In local mode this JVM is also the
# executor.  Sessions not built here (the one a caller hands to
# __spark_entry__, cluster deployments) keep the JVM defaults.
_JVM_OPTS = (
    "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
    " -XX:Tier4InvocationThreshold=25000"
    " -XX:Tier4MinInvocationThreshold=3000"
    " -XX:Tier4CompileThreshold=75000"
    " -XX:Tier4BackEdgeThreshold=200000"
)

# Class-data-sharing cache: one archive per key (see _cds_key), built
# once per box.  Inside the checkout, because the benchmark writes only
# there.  Tests point it elsewhere by rebinding this constant.
_CDS_DIR = Path(__file__).resolve().parents[1] / ".jvm_cache"
# The archive build is a 35-50 s warm-up session run when the first
# process exits; one that takes longer is cut and recorded as failed, so
# a cold first benchmark run still finishes inside its 165 s worker limit.
_BUILD_TIMEOUT_S = 75
_JVM_EXIT_TIMEOUT_S = 60

_cds_state: str | None = None


def cds_state() -> str | None:
    """How this process's JVM started, or None if get_spark did not launch it.

    ``mapped``: it runs from the archive.  ``built``: there was no archive
    yet; this process builds one when it exits.  ``off: <reason>``: it
    started without one.
    """
    return _cds_state


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else min(16g, 3/4 of ``MemTotal``): the
    other quarter is room for the Python workers."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{min(16 * 1024, total_kb * 3 // 4 // 1024)}m"


def _set_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a conf, accepting the session's value only where Spark refuses
    to change it on a live session."""
    try:
        spark.conf.set(key, value)
    except AnalysisException as ex:
        if ex.getCondition() not in _UNSETTABLE:
            raise


def ensure_session_invariants(spark: SparkSession) -> SparkSession:
    """Apply runtime confs needed for correctness on any session, plus
    shuffle parallelism sized to this box (the default 200 is pure
    scheduling overhead on local test scales; AQE coalesces upward
    workloads at real scale anyway)."""
    for k, v in _RUNTIME_CONFS.items():
        _set_conf(spark, k, v)
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        _set_conf(spark, "spark.sql.shuffle.partitions", str(_cpus()))
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the body only: afterwards a key
    that was set has its old value again and one that was unset is
    unset again, also when the body raises.  Plans read confs when they
    run, so an action that must see ``confs`` runs inside the body."""
    saved = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, prev in saved.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def scale_conf(spark: SparkSession, name: str) -> int:
    """Scale conf ``psvm.<name>`` as set on ``spark``, else its default."""
    return int(spark.conf.get(f"psvm.{name}", str(SCALE_CONFS[name])))


def _builder(app_name: str, n: int, jvm_opts: str) -> SparkSession.Builder:
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", _driver_mem())
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/psvm_spark_warehouse")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "psvm_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session sized to the test box.

    local[cpus] with shuffle parallelism = cpus: at sf0.1 (~600k rows)
    the default 200 shuffle partitions would be pure scheduling overhead.
    On a real cluster the same code runs unchanged — shuffle partitions
    are AQE-coalesced from an intentionally higher initial number.
    """
    n = cpus or _cpus()
    if SparkContext._gateway is None:
        spark = _launch_with_cds(app_name, n)
    else:  # this process's JVM is already up; CDS was settled at its launch
        spark = _builder(app_name, n, _JVM_OPTS).getOrCreate()
    return ensure_session_invariants(spark)


# --- JVM class-data sharing -------------------------------------------
#
# A fresh Spark JVM spends most of its start loading and verifying ~19k
# classes.  A JDK 17 dynamic AppCDS archive maps them pre-parsed instead:
# on local[4], perfbench setup_s fell by 45% (BASELINE.md "Session
# start-up with an AppCDS archive").
# The archive is dumped from a separate, fixed warm-up session
# (_dump_archive), never from the working JVM: in one perfbench run,
# dumping at the end of the working session took 20 s, added ~750 MB of
# peak PSS and made the archive depend on whichever workload ran first.
# The dump happens before the building process exits, because a
# benchmark harness may kill the process group as soon as the process
# exits.
#
# Only sessions launched by get_spark get the archive: the session a
# caller hands to __spark_entry__ and cluster deployments keep the
# JVM's default start.  The archive is not mapped at a fixed address
# (ArchiveRelocationMode stays at the JDK default), so ASLR is kept.


def _java_binary() -> Path | None:
    """The java binary Spark's launcher runs (bin/spark-class's rule)."""
    java = (Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME")
            else shutil.which("java"))
    return Path(java).resolve() if java and Path(java).exists() else None


def _cds_key(java: Path, jars: Path, jvm_opts: str, conf_dir: Path) -> str:
    """Hash of everything the archive's validity depends on: the JVM
    binary, the Spark jars (the classpath), the JVM options and the conf
    directory put on the classpath."""
    h = hashlib.sha256()
    for p in [java, *sorted(jars.iterdir())]:
        st = p.stat()
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(f"{jvm_opts}\n{conf_dir}".encode())
    return h.hexdigest()[:16]


def _conf_dir_blocker(conf_dir: Path) -> str | None:
    """Why a launch with ``conf_dir`` cannot use CDS, or None.

    Spark's launcher puts the conf directory on the classpath, and the
    JVM refuses to dump an archive with a non-empty directory there.  So
    CDS launches swap in an empty directory, which is only the same
    launch when Spark would read nothing from the real one: it reads no
    ``*.template`` file.
    """
    if not conf_dir.is_dir():
        return None
    read = sorted(p.name for p in conf_dir.iterdir() if not p.name.endswith(".template"))
    if read:
        return f"{conf_dir} holds {', '.join(read)}, which Spark reads"
    return None


def _cds_plan(cache: Path) -> tuple[str | None, str]:
    """(archive key, "") when the next launch can use CDS, else (None, reason)."""
    java = _java_binary()
    if java is None:
        return None, "no java binary found"
    spark_home = Path(_find_spark_home())
    conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    blocker = _conf_dir_blocker(conf)
    if blocker:
        return None, blocker
    empty = cache / "empty-conf"
    try:
        empty.mkdir(parents=True, exist_ok=True)
    except OSError as ex:
        return None, f"cannot create {empty}: {ex}"
    key = _cds_key(java, spark_home / "jars", _JVM_OPTS, empty)
    failed = cache / f"{key}.failed"
    if failed.exists():
        return None, f"an earlier build failed ({failed.read_text().strip()}); delete {failed} to retry"
    return key, ""


def _launch(builder: SparkSession.Builder, conf_dir: Path) -> SparkSession:
    """getOrCreate, with SPARK_CONF_DIR pointed at ``conf_dir`` for the
    JVM launch only."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(conf_dir)
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _launch_with_cds(app_name: str, n: int) -> SparkSession:
    """Launch this process's JVM from the archive when there is a sound
    one, and otherwise with today's flags.

    No archive yet: start normally and build one when this process exits
    (:func:`_build_archive`).  An archive whose size is not the published
    size, or that the JVM did not map, is moved aside with a warning; the
    session then runs without it and the next process builds a new one.
    A key whose build failed, or whose archive failed to map twice, stays
    off until its ``.failed`` file is deleted.
    """
    global _cds_state
    cache = _CDS_DIR
    plain = _builder(app_name, n, _JVM_OPTS)
    key, reason = _cds_plan(cache)
    if key is None:
        _cds_state = f"off: {reason}"
        log.info("JVM class-data sharing is off: %s", reason)
        return plain.getOrCreate()
    jsa, size_file = cache / f"{key}.jsa", cache / f"{key}.size"
    if not jsa.exists():
        builder_pid = _lock_owner(cache / "build.lock")
        if builder_pid is not None:
            _cds_state = f"off: process {builder_pid} is building the archive"
            return plain.getOrCreate()
        _cds_state = "built"
        atexit.register(_build_archive, cache, key, os.getpid())
        return plain.getOrCreate()
    size = jsa.stat().st_size
    expected = size_file.read_text().strip() if size_file.exists() else "unknown"
    if str(size) != expected:
        _set_aside(cache, key, f"{jsa} is {size} bytes, published as {expected}")
        return plain.getOrCreate()
    map_log = cache / f"map-{os.getpid()}.log"
    opts = (f"{_JVM_OPTS} -XX:SharedArchiveFile={jsa}"
            # An archive corrupted in place makes the JVM die with SIGSEGV
            # when it maps it.  With the archive's CRCs checked (written at
            # every dump), it logs "UseSharedSpaces: Checksum verification
            # failed." and starts without it, which _not_mapped reports.
            # A crash report lands in the cache, not the working directory.
            f" -XX:+VerifySharedSpaces -XX:ErrorFile={cache}/hs_err_%p.log"
            # CDS messages go to the log only: callers parse this
            # process's last stdout line.
            f" -Xlog:cds*=off -Xlog:cds*=info:file={map_log}")
    try:
        spark = _launch(_builder(app_name, n, opts), cache / "empty-conf")
    except Exception as ex:  # noqa: BLE001 — the JVM did not start; retried below
        if SparkContext._gateway is not None:
            raise
        map_log.unlink(missing_ok=True)
        _set_aside(cache, key, f"the JVM failed to start with it: {type(ex).__name__}")
        return plain.getOrCreate()
    text = map_log.read_text(errors="replace") if map_log.exists() else ""
    map_log.unlink(missing_ok=True)
    why_not = _not_mapped(text)
    if why_not:
        _set_aside(cache, key, f"the JVM did not map it: {why_not}")
    else:
        _cds_state = "mapped"
    return spark


def _not_mapped(cds_log: str) -> str | None:
    """Why the JVM that wrote ``cds_log`` (-Xlog:cds*) runs without the
    dynamic archive, or None if it runs from it.  The JVM maps the
    archive before it validates the classpath, so a "Mapped dynamic
    region" line alone is no proof; a mismatch unmaps it again."""
    if "Mapped dynamic region" in cds_log and "Unable to use shared archive" not in cds_log:
        return None
    lines = [l.split("] ", 1)[-1] for l in cds_log.splitlines()]
    why = ([l for l in lines if l.startswith("UseSharedSpaces:")]
           or [l for l in lines if l.startswith("Unable to use shared archive")])
    return why[0] if why else "no dynamic region in the CDS log"


def _set_aside(cache: Path, key: str, reason: str) -> None:
    """Move a bad archive to ``<key>.jsa.bad`` and warn; the second time
    for one key, also write ``<key>.failed`` so no process rebuilds it."""
    global _cds_state
    jsa, bad = cache / f"{key}.jsa", cache / f"{key}.jsa.bad"
    second = bad.exists()
    try:
        os.replace(jsa, bad)
        if second:
            (cache / f"{key}.failed").write_text(f"archive failed twice: {reason}\n")
    except OSError as ex:
        reason += f" (could not move it aside: {ex})"
    _cds_state = f"off: {reason}"
    log.warning("JVM class-data archive not used, starting without it: %s", reason)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _lock_owner(lock: Path) -> int | None:
    """The live pid holding ``lock``, or None (a dead owner's lock is removed)."""
    try:
        pid = int(lock.read_text() or 0)
    except (OSError, ValueError):
        return None
    if pid and _alive(pid):
        return pid
    lock.unlink(missing_ok=True)
    return None


def _take_lock(lock: Path) -> bool:
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _lock_owner(lock) is not None:
                return False
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _stop_jvm(timeout: float | None) -> bool:
    """Let this process's gateway JVM exit (it exits on EOF on its stdin,
    running its shutdown hooks and, when asked, the archive dump) and
    wait for it.  False if it was still running after ``timeout``."""
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return True
    if proc.stdin and not proc.stdin.closed:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        return False
    return True


def _kill_tree(pid: int) -> None:
    """SIGKILL a process and every descendant (the warm-up's JVM and its
    Python workers), so no half-written archive is dumped."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            try:
                with open(f"/proc/{entry.name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry.name))
    todo = [pid]
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _build_archive(cache: Path, key: str, owner: int) -> None:
    """atexit hook of the first process that found no archive: after its
    own JVM has exited, run :func:`_dump_archive` in a child process,
    bounded by ``_BUILD_TIMEOUT_S``, and publish the archive by rename.
    One process builds at a time (``build.lock``, O_EXCL)."""
    if os.getpid() != owner:  # a forked child inherited the hook
        return
    lock = cache / "build.lock"
    jsa = cache / f"{key}.jsa"
    if jsa.exists() or not _take_lock(lock):
        return
    pid = os.getpid()
    tmp, build_log = cache / f"{key}.jsa.tmp-{pid}", cache / f"build-{pid}.log"
    work = Path(tempfile.mkdtemp(prefix="psvm_cds_"))
    try:
        if not _stop_jvm(_JVM_EXIT_TIMEOUT_S):
            log.warning("JVM class-data archive not built: the session's JVM "
                        "did not exit within %d s", _JVM_EXIT_TIMEOUT_S)
            return
        log.warning("building the JVM class-data archive %s once for this box "
                    "(a warm-up session of about 40 s)", jsa)
        t0 = time.monotonic()
        root = str(Path(__file__).resolve().parents[1])
        code = ("import sys; sys.path.insert(0, sys.argv[1]); "
                "from psvm_spark.session import _dump_archive; _dump_archive(*sys.argv[2:])")
        with open(build_log, "wb") as out:
            child = subprocess.Popen(
                [sys.executable, "-c", code, root, str(tmp), str(cache / "empty-conf"), str(work)],
                cwd=work, stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT)
            try:
                rc, reason = child.wait(_BUILD_TIMEOUT_S), ""
            except subprocess.TimeoutExpired:
                _kill_tree(child.pid)
                rc, reason = child.wait(), f"the warm-up session took over {_BUILD_TIMEOUT_S} s"
        if not reason and (rc != 0 or not tmp.exists() or tmp.stat().st_size == 0):
            lines = build_log.read_text(errors="replace").strip().splitlines()
            reason = (f"the warm-up session exited {rc} without an archive"
                      f" ({lines[-1] if lines else 'no output'}; log kept in {build_log.name})")
        if reason:
            (cache / f"{key}.failed").write_text(reason + "\n")
            log.warning("JVM class-data archive build failed: %s", reason)
            return
        (cache / f"{key}.size").write_text(str(tmp.stat().st_size))
        os.replace(tmp, jsa)
        build_log.unlink()
        _prune(cache, key)
        log.warning("published %s (%.0f MB) in %.0f s", jsa, jsa.stat().st_size / 2**20,
                    time.monotonic() - t0)
    finally:
        tmp.unlink(missing_ok=True)
        shutil.rmtree(work, ignore_errors=True)
        lock.unlink(missing_ok=True)


def _prune(cache: Path, key: str) -> None:
    """Delete other keys' archives and the leftovers of dead processes."""
    for p in cache.iterdir():
        m = re.search(r"-(\d+)(\.log)?$", p.name)
        if m and not _alive(int(m.group(1))):
            p.unlink(missing_ok=True)
        elif p.is_file() and p.name.endswith((".jsa", ".size", ".jsa.bad")) \
                and not p.name.startswith(key):
            p.unlink(missing_ok=True)


def _warm_up(spark: SparkSession, path: str) -> None:
    """The archive's fixed workload: a parquet write and read, a codegen
    aggregation over decimals, doubles, dates and strings, and the
    shuffles of a group-by and a sort.  It needs no fixture, so the
    archive does not depend on which workload ran first."""
    (spark.range(4096, numPartitions=4)
     .selectExpr("id % 3 AS flag", "id % 5 AS status",
                 "CAST(id AS DECIMAL(12, 2)) AS price", "id * 0.01D AS disc",
                 "date_add(DATE'1998-01-01', CAST(id % 120 AS INT)) AS day",
                 "CAST(id AS STRING) AS tag")
     .write.mode("overwrite").parquet(path))
    (spark.read.parquet(path)
     .where("day <= DATE'1998-03-01'")
     .groupBy("flag", "status")
     .agg({"price": "sum", "disc": "avg", "tag": "max", "*": "count"})
     .orderBy("flag", "status")
     .collect())


def _dump_archive(archive: str, conf_dir: str, work: str) -> None:
    """Child-process body of :func:`_build_archive`: run the warm-up in a
    JVM launched exactly as a mapping launch is (same options and conf
    directory) that writes its classes to ``archive`` when it exits, and
    wait for that exit."""
    builder = (_builder("psvm_spark_cds_warmup", _cpus(),
                        f"{_JVM_OPTS} -XX:ArchiveClassesAtExit={archive}")
               .config("spark.sql.warehouse.dir", f"{work}/warehouse"))
    spark = ensure_session_invariants(_launch(builder, Path(conf_dir)))
    _warm_up(spark, f"{work}/warmup.parquet")
    spark.stop()
    _stop_jvm(None)
