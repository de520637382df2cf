"""Session-invariant hardening: the driver hands queries() an arbitrary
SparkSession (it does NOT use our factory), so every correctness-
critical runtime conf must self-apply inside the query path even when
the session arrives with hostile values preset."""

from __future__ import annotations

import pytest

from psvm_spark import registry
from psvm_spark.session import _RUNTIME_CONFS, ensure_session_invariants

registry.load_all()

_HOSTILE = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
}


class TestHostileSessionConfs:
    def test_invariants_win_and_queries_stay_parity_exact(self, spark, sf_dir):
        saved = {k: spark.conf.get(k) for k in _HOSTILE}
        try:
            for k, v in _HOSTILE.items():
                spark.conf.set(k, v)
            # compare_query applies the invariants where the session
            # enters, as the driver contract's queries() wrapper does; a
            # timestamp-sensitive oracle must still hash-match bitwise
            from psvm_spark.oracle import compare_query

            for name in ("scalar_datetime", "scan_time_range"):
                res = compare_query(spark, sf_dir, name)
                assert res.ok, (name, str(res))
            for k, v in _RUNTIME_CONFS.items():
                assert spark.conf.get(k) == v, k
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
            ensure_session_invariants(spark)


# The queries that override session confs, and every key each overrides.
_OVERRIDES = {
    "scan_aggregate_pushdown": (
        "spark.sql.sources.useV1SourceList",
        "spark.sql.parquet.aggregatePushDown",
    ),
    "scan_pyds_filter_pushdown": ("spark.sql.python.filterPushdown.enabled",),
    "sink_dynamic_partition_overwrite": ("spark.sql.sources.partitionOverwriteMode",),
    "join_runtime_bloom_filter": (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ),
    "join_aqe_skew_split": (
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.autoBroadcastJoinThreshold",
    ),
}


class TestScopedOverrides:
    @pytest.mark.parametrize("name", sorted(_OVERRIDES))
    def test_override_keys_leave_the_session_as_found(self, spark, sf_dir, name):
        """Every key a query overrides reads the same before and after
        it: an invariant keeps its value, and a key that was unset stays
        unset instead of coming back as its default written explicitly."""
        keys = _OVERRIDES[name]
        saved = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                if k not in _RUNTIME_CONFS:
                    spark.conf.unset(k)
            before = {k: spark.conf.get(k, None) for k in keys}
            registry.QUERIES[name](spark, sf_dir).collect()
            assert {k: spark.conf.get(k, None) for k in keys} == before
        finally:
            for k, v in saved.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)


class TestRegistrationRotation:
    def test_every_registry_key_traces_to_survey_section_2(self):
        """The driver contract (__spark_entry__) defines queries() as
        one callable per SURVEY.md §2 operator; §2 (with its 2.2a/2.2b
        continuations, round 10) must therefore name every registry
        key (verdict r9 item 4)."""
        import re
        from pathlib import Path

        from psvm_spark import registry

        registry.load_all()
        lines = Path("SURVEY.md").read_text().splitlines()
        i0 = next(
            i for i, l in enumerate(lines) if l.startswith("## 2. Operator")
        )
        i1 = next(
            i for i, l in enumerate(lines) if l.startswith("## 3. Query")
        )
        sec2_keys = set(re.findall(r"`([a-z0-9_]+)`", "\n".join(lines[i0:i1])))
        missing = set(registry.QUERIES) - sec2_keys
        assert not missing, sorted(missing)


class TestRegistryTable:
    """The registry is a plain table: callables and oracle SQL strings,
    in registration order."""

    def test_registry_is_a_plain_table_in_stable_order(self):
        import __spark_entry__

        registry.load_all()
        keys = list(registry.QUERIES)
        assert type(registry.ORACLES) is dict
        oracles = __spark_entry__.oracle_sql()
        assert len(oracles) == 499
        assert all(isinstance(v, str) for v in oracles.values())
        registry.load_all()
        assert list(registry.QUERIES) == keys


class TestLazyOracles:
    """The text_compression_ratio oracle is plain SQL built once at
    import; parity compares refuse non-default probe and model-slice
    moduli."""

    def test_zlib_oracle_is_lazy_and_memoized(self):
        """The registered oracle is resolved SQL (no zlib left for
        DuckDB to call), and every read returns the same string."""
        key = "text_compression_ratio"
        assert key in registry.ORACLES
        sql1 = registry.ORACLES[key]
        assert isinstance(sql1, str) and "zlib" not in sql1
        assert "VALUES" in sql1 and "md5(d.text)" in sql1
        assert registry.ORACLES[key] is sql1

    def test_llm_import_does_not_precompute_zlib_table(self):
        """The import-time build reads both correctness-gate fixtures,
        and a fresh build gives the registered SQL."""
        from psvm_spark.queries.llm import (
            _zlib_fixture_parquets,
            _zlib_oracle_available,
            _zlib_oracle_sql,
        )

        assert _zlib_oracle_available()  # container fixtures present
        paths = _zlib_fixture_parquets()
        assert any("sf0.001" in p for p in paths)
        assert any("sf0.01" in p for p in paths)
        sql = _zlib_oracle_sql()
        assert "md5(d.text)" in sql
        assert sql == registry.ORACLES["text_compression_ratio"]

    def test_probe_modulo_guard_blocks_parity_compare(self, spark, sf_dir):
        import pytest

        from psvm_spark.oracle import compare_query

        spark.conf.set("psvm.sim.probe_modulo", "100")
        try:
            with pytest.raises(AssertionError, match="probe_modulo=100"):
                compare_query(spark, sf_dir, "sim_topk_cosine")
        finally:
            spark.conf.unset("psvm.sim.probe_modulo")
        # default conf: compare proceeds (and passes)
        assert compare_query(spark, sf_dir, "sim_topk_cosine").ok

    def test_svm_modulo_guard_blocks_parity_compare(self, spark, sf_dir):
        """The SV x test slices are conf-budgeted (verdict r9 item 2):
        a raised ``psvm.svm.sv_modulo`` is the scale harness's
        fixed-model knob and its output is NOT what the pinned-default
        oracles describe — compare_query must refuse."""
        import pytest

        from psvm_spark.oracle import compare_query

        spark.conf.set("psvm.svm.sv_modulo", "400")
        try:
            with pytest.raises(AssertionError, match="sv_modulo=400"):
                compare_query(spark, sf_dir, "svm_predict_score")
        finally:
            spark.conf.unset("psvm.svm.sv_modulo")
        assert compare_query(spark, sf_dir, "svm_predict_score").ok

    @pytest.mark.parametrize(
        "conf,name",
        [("psvm.graph.n_nodes", "graph_degree_stats"), ("psvm.geo.dbscan_grid", "geo_dbscan_core")],
    )
    def test_graph_and_geo_scale_guards_block_parity_compare(self, spark, sf_dir, conf, name):
        """The guard covers every scale conf, the vertex space and the
        DBSCAN grid among them."""
        from psvm_spark.oracle import compare_query

        spark.conf.set(conf, "96")
        try:
            with pytest.raises(AssertionError, match=f"{conf}=96"):
                compare_query(spark, sf_dir, name)
        finally:
            spark.conf.unset(conf)

    def test_svm_modulo_conf_scales_slices(self, spark, sf_dir):
        """Raising the moduli must shrink BOTH the SV model slice and
        the test panel — the fixed-size-model-artifact protocol that
        keeps the SV x test pair volume flat at amplification."""
        from psvm_spark.ml.svm import sv_test

        sv_b, test_b = sv_test(spark, sf_dir)
        n_sv_b, n_t_b = sv_b.count(), test_b.count()
        spark.conf.set("psvm.svm.sv_modulo", "100")
        spark.conf.set("psvm.svm.test_modulo", "100")
        try:
            sv_w, test_w = sv_test(spark, sf_dir)
            n_sv_w, n_t_w = sv_w.count(), test_w.count()
        finally:
            spark.conf.unset("psvm.svm.sv_modulo")
            spark.conf.unset("psvm.svm.test_modulo")
        assert 0 < n_sv_w < n_sv_b
        assert 0 < n_t_w < n_t_b


class TestScratchDirCleanup:
    def test_scratch_dirs_tracked_for_atexit_removal(self):
        import os
        import shutil

        from psvm_spark.queries._util import _SCRATCH_ROOTS, scratch_dir

        d = scratch_dir("psvm_test_scratch_")
        assert os.path.isdir(d)
        assert d in _SCRATCH_ROOTS
        # Simulate the atexit cleanup for THIS dir only — running the
        # real _cleanup_scratch() here would delete scratch roots other
        # tests in this pytest process still lazily read from.
        shutil.rmtree(d, ignore_errors=True)
        _SCRATCH_ROOTS.remove(d)
        assert not os.path.exists(d)


class TestSessionDefaults:
    def test_defaults_follow_the_box_and_env_overrides(self, monkeypatch):
        """With neither variable set, the CPU count is the process's CPU
        affinity and driver memory is min(16g, 3/4 of MemTotal)."""
        import os

        from psvm_spark.session import _cpus, _driver_mem

        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        assert _cpus() == len(os.sched_getaffinity(0))
        mem = _driver_mem()
        assert mem.endswith("m")
        with open("/proc/meminfo") as fh:
            total_mb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:")) / 1024
        assert 0 < int(mem[:-1]) == min(16 * 1024, int(total_mb * 3 / 4))

        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
        assert _cpus() == 3
        assert _driver_mem() == "2g"

    def test_session_jvm_runs_the_jit_policy(self, spark):
        """get_spark launches its JVM with the enlarged, flushing code
        cache and tier-4 (C2) promotion thresholds at 5x the JDK 17
        defaults."""
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        args = set(mx.getRuntimeMXBean().getInputArguments())
        assert {
            "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing",
            "-XX:Tier4InvocationThreshold=25000",
            "-XX:Tier4MinInvocationThreshold=3000",
            "-XX:Tier4CompileThreshold=75000",
            "-XX:Tier4BackEdgeThreshold=200000",
        } <= args, sorted(args)


class TestConfErrors:
    def test_only_unsettable_confs_are_accepted(self, spark, monkeypatch):
        """A conf Spark will not change on a live session keeps the
        session's value; any other error (here an invalid value)
        surfaces."""
        import pytest
        from pyspark.errors import IllegalArgumentException

        from psvm_spark import session

        monkeypatch.setitem(session._RUNTIME_CONFS, "spark.sql.warehouse.dir", "/nowhere")
        monkeypatch.setitem(session._RUNTIME_CONFS, "spark.driver.memory", "1g")
        ensure_session_invariants(spark)
        assert spark.conf.get("spark.sql.warehouse.dir") != "/nowhere"
        monkeypatch.undo()
        monkeypatch.setitem(session._RUNTIME_CONFS, "spark.sql.adaptive.enabled", "maybe")
        try:
            with pytest.raises(IllegalArgumentException) as err:
                ensure_session_invariants(spark)
            assert err.value.getCondition() == "INVALID_CONF_VALUE.TYPE_MISMATCH"
        finally:
            monkeypatch.undo()
            ensure_session_invariants(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


# Logs written by -Xlog:cds*=info on OpenJDK 17: a launch that runs from
# the dynamic archive, and one whose classpath no longer matches it.
_CDS_MAPPED = """\
[0.012s][info][cds] Mapped static  region #0 at base 0x00007ff2a1000000 top 0x00007ff2a1455000 (ReadWrite)
[0.022s][info][cds] Mapped dynamic region #0 at base 0x00007ff2a1bca000 top 0x00007ff2a58b7000 (ReadWrite)
[0.022s][info][cds] Mapped dynamic region #1 at base 0x00007ff2a58b7000 top 0x00007ff2ab837000 (ReadOnly)
"""
_CDS_MISMATCH = """\
[0.030s][info][cds] Mapped dynamic region #0 at base 0x00007fe96dbca000 top 0x00007fe9718b7000 (ReadWrite)
[0.163s][info][cds] UseSharedSpaces: shared class paths mismatch (hint: enable -Xlog:class+path=info to diagnose the failure)
[0.163s][info][cds] Unmapping region #0 at base 0x00007fe96dbca000 (ReadWrite)
[0.173s][warning][cds,dynamic] Unable to use shared archive. The top archive failed to load: /x/a.jsa
"""
_CDS_CHECKSUM = """\
[0.016s][info][cds] Mapped dynamic region #0 at base 0x00007fe6c1bca000 top 0x00007fe6c59e4000 (ReadWrite)
[0.066s][info][cds] UseSharedSpaces: Checksum verification failed.
[0.067s][warning][cds,dynamic] Unable to use shared archive. The top archive failed to load: /x/a.jsa
"""

# One process of the archive lifecycle test: a get_spark session with the
# archive cache in argv[2]; stderr names the CDS state, stdout ends with
# one line for the caller to parse.  The build limit is raised so that a
# loaded test host cannot turn a slow build into a failed one.
_CDS_CHILD = """\
import sys
from pathlib import Path
sys.path.insert(0, sys.argv[1])
from psvm_spark import session
session._CDS_DIR = Path(sys.argv[2])
session._BUILD_TIMEOUT_S = 240
spark = session.get_spark("cds_lifecycle", cpus=2)
args = list(spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments())
assert spark.range(10).count() == 10
print("cds state:", session.cds_state(), file=sys.stderr)
print("jvm args:", " ".join(args), file=sys.stderr)
print("last line")
"""


class TestClassDataArchive:
    def test_key_follows_options_and_jars(self, tmp_path, monkeypatch):
        """The key changes with the JVM options, the jars and the warm-up:
        an archive holds the classes its warm-up loaded, so a changed
        warm-up must not map the old one."""
        import os

        from psvm_spark import session
        from psvm_spark.session import _cds_key

        java, jars, conf = tmp_path / "java", tmp_path / "jars", tmp_path / "conf"
        jars.mkdir()
        java.write_bytes(b"\x7fELF")
        for name in ("spark-core.jar", "spark-sql.jar"):
            (jars / name).write_bytes(b"PK")
        key = _cds_key(java, jars, "-Xa", conf)
        assert _cds_key(java, jars, "-Xa", conf) == key
        assert _cds_key(java, jars, "-Xa -Xb", conf) != key
        monkeypatch.setattr(session, "_warm_up", lambda spark, path: spark.range(1).collect())
        assert _cds_key(java, jars, "-Xa", conf) != key
        monkeypatch.undo()
        assert _cds_key(java, jars, "-Xa", conf) == key
        st = (jars / "spark-sql.jar").stat()
        os.utime(jars / "spark-sql.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert _cds_key(java, jars, "-Xa", conf) != key

    def test_conf_dir_with_only_templates_is_accepted(self, tmp_path, monkeypatch):
        from psvm_spark.session import _cds_plan

        conf = tmp_path / "conf"
        conf.mkdir()
        for name in ("spark-defaults.conf.template", "log4j2.properties.template"):
            (conf / name).write_text("# template\n")
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
        key, reason = _cds_plan(tmp_path / "cache")
        assert key and reason == ""
        assert (tmp_path / "cache" / "empty-conf").is_dir()

    def test_real_spark_defaults_turns_cds_off(self, tmp_path, monkeypatch):
        from psvm_spark.session import _cds_plan

        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "spark-defaults.conf.template").write_text("# template\n")
        (conf / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
        key, reason = _cds_plan(tmp_path / "cache")
        assert key is None
        assert "spark-defaults.conf" in reason and ".template" not in reason

    def test_cds_log_decides_mapped(self):
        from psvm_spark.session import _not_mapped

        assert _not_mapped(_CDS_MAPPED) is None
        assert "shared class paths mismatch" in _not_mapped(_CDS_MISMATCH)
        assert _not_mapped(_CDS_CHECKSUM) == "UseSharedSpaces: Checksum verification failed."
        assert _not_mapped("") == "no dynamic region in the CDS log"

    def test_archive_lifecycle(self, tmp_path):
        """The first process builds the archive when it exits, the second
        maps it, and a truncated archive is moved aside with a warning
        while the session still starts.  No CDS line reaches stdout."""
        import os
        import subprocess
        import sys
        from pathlib import Path

        repo = str(Path(__file__).resolve().parents[1])
        cache = tmp_path / "cache"
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")

        def run() -> tuple[str, str]:
            p = subprocess.run([sys.executable, "-c", _CDS_CHILD, repo, str(cache)],
                               capture_output=True, text=True, timeout=420, env=env,
                               cwd=tmp_path)
            assert p.returncode == 0, p.stderr[-3000:]
            assert p.stdout.splitlines()[-1] == "last line", p.stdout[-2000:]
            assert "cds" not in p.stdout.lower(), p.stdout[-2000:]
            return next(l for l in p.stderr.splitlines() if l.startswith("cds state:")), p.stderr

        state, err = run()
        assert state == "cds state: built", err[-3000:]
        (jsa,) = cache.glob("*.jsa")
        assert jsa.stat().st_size == int(jsa.with_suffix(".size").read_text())
        assert sorted(p.name for p in cache.iterdir()) == sorted(
            ["empty-conf", jsa.name, jsa.with_suffix(".size").name])

        state, err = run()
        assert state == "cds state: mapped", err[-3000:]
        assert f"-XX:SharedArchiveFile={jsa}" in err
        assert "-XX:+VerifySharedSpaces" in err and f"-XX:ErrorFile={cache}/hs_err_%p.log" in err

        os.chmod(jsa, 0o644)
        with open(jsa, "r+b") as fh:
            fh.truncate(jsa.stat().st_size // 2)
        state, err = run()
        assert state.startswith("cds state: off: ") and "bytes, published as" in state, err
        assert "class-data archive not used" in err
        assert not jsa.exists() and jsa.with_name(jsa.name + ".bad").exists()
