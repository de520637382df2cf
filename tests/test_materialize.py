"""The materialization rule in ``queries._util.checkpoint``: eager, lineage
cut, and on a non-local master written where a lost executor cannot take
it along."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

# Keys whose final plan reads checkpointed data.  Each loses a
# checkpoint block, and fails, when its data lives only in executor
# memory (localCheckpoint).
_LOSS_KEYS = (
    "graph_random_walks",
    "graph_leiden_aggregate",
    "select_dsir",
    "agg_association_rules",
)

# One process of the executor-loss test: a two-executor local-cluster
# session.  It prints one result line per key, then "last line".
# killExecutor also lowers the executor target, so the replacement is
# asked for as a new total.  The victim is the executor that holds the
# most blocks cached by the key's build, so that a local checkpoint is
# sure to lose data.
_LOSS_CHILD = """\
import re, sys, time
sys.path.insert(0, sys.argv[1])
sf_dir, ckpt_dir, keys = sys.argv[2], sys.argv[3], sys.argv[4].split(",")
from pyspark.sql import SparkSession
from psvm_spark import registry
from psvm_spark.oracle import _canon_rows, duckdb_connection
from psvm_spark.queries._util import checkpoint
from psvm_spark.session import ensure_session_invariants

spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
ensure_session_invariants(spark)
sc = spark.sparkContext
jvm, ssc = sc._jvm, sc._jsc.sc()

try:
    checkpoint(spark.range(3))
    print("no checkpoint dir: returned")
except RuntimeError as ex:
    print("no checkpoint dir: raised", "spark.checkpoint.dir" in str(ex))
sc.setCheckpointDir(ckpt_dir)

def executors():
    return [e for e in ssc.getExecutorIds().mkString(",").split(",") if e]

def wait_for(cond, what, timeout=120):
    end = time.time() + timeout
    while not cond():
        if time.time() > end:
            raise TimeoutError(what)
        time.sleep(0.1)

def most_blocks(before):
    bm = jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    held = dict.fromkeys(executors(), 0)
    for rid, rdd in sc._jsc.getPersistentRDDs().items():
        if rid in before:
            continue
        for p in range(rdd.getNumPartitions()):
            locs = bm.getLocations(jvm.org.apache.spark.storage.RDDBlockId(rid, p))
            for i in range(locs.size()):
                e = locs.apply(i).executorId()
                if e in held:
                    held[e] += 1
    return max(sorted(held), key=held.get)

registry.load_all()
con = duckdb_connection(sf_dir)
for key in keys:
    wait_for(lambda: len(executors()) == 2, "two executors")
    before = set(sc._jsc.getPersistentRDDs().keys())
    df = registry.QUERIES[key](spark, sf_dir)
    victim = most_blocks(before)
    ssc.killExecutor(victim)
    wait_for(lambda: victim not in executors(), "executor removed")
    ssc.requestTotalExecutors(2, 0, jvm.PythonUtils.toScalaMap({}))
    try:
        got = _canon_rows(df.toPandas())
    except Exception as ex:
        lost = re.search(r"Checkpoint block \\S+ not found", str(ex))
        print(key, "error", lost.group(0) if lost else str(ex).strip()[:300])
        continue
    want = _canon_rows(con.execute(registry.ORACLES[key]).df())
    print(key, "match" if got == want else "mismatch")
print("last line")
"""


def test_checkpoint_is_eager_and_cuts_lineage(spark):
    from psvm_spark.queries._util import checkpoint

    sc = spark.sparkContext
    # no shuffle: planning alone runs no job, so a job means eager
    df = spark.range(40).selectExpr("id", "id % 7 AS k")
    sc.setJobGroup("checkpoint_helper", "eager check")
    try:
        out = checkpoint(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("checkpoint_helper")
    assert out._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    assert sorted(out.collect()) == sorted(df.collect())


def test_checkpointed_keys_survive_executor_loss(tmp_path, sf_dir):
    """On a two-executor local-cluster, the helper refuses to run without
    a checkpoint directory; with one, every sampled key still matches its
    oracle after the executor holding its blocks is killed."""
    repo = str(Path(__file__).resolve().parents[1])
    p = subprocess.run(
        [sys.executable, "-c", _LOSS_CHILD, repo, sf_dir, str(tmp_path / "ckpt"),
         ",".join(_LOSS_KEYS)],
        capture_output=True, text=True, timeout=400, cwd=tmp_path,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.splitlines()
    assert lines[-1] == "last line", p.stdout[-3000:]
    assert lines[0] == "no checkpoint dir: raised True", p.stdout
    assert lines[1:-1] == [f"{k} match" for k in _LOSS_KEYS], p.stdout
