"""Subprocess driver for tests/test_executor_loss.py — real executor
death on a real multi-executor master.

Runs on ``local-cluster[2,1,1024]``: Spark's standalone-in-one-JVM
master that forks two REAL executor processes
(CoarseGrainedExecutorBackend), unlike ``local[*]`` where "executor
loss" cannot be exercised at all. Executors are killed with SIGKILL —
the same signal a preempted container gets — found by scanning the
process table for this app's id, and the standalone worker then
relaunches replacements, exactly the 1000-executor-cluster lifecycle
``materialize="reliable"`` exists for (operators/materialize.py).

Three scenarios, markers on stdout for the pytest wrapper:

1. PRIMITIVE: materialize both modes eagerly, SIGKILL every executor,
   then consume. ``reliable`` must return the right answer (checkpoint
   files re-read by the replacement executors); ``local`` must fail
   (localCheckpoint blocks died with the executors and there is no
   lineage left to recompute from).
2. CC_LOCAL: connected_components(materialize="local") on a
   diameter-11 graph, forced onto the distributed star-contraction
   loop, with all executors SIGKILLed mid-iteration (after ≥5 jobs of
   its job group) — must raise: every round reads the previous round's
   localCheckpoint blocks.
3. CC_RELIABLE: same graph, same mid-iteration kill,
   materialize="reliable" — must complete AND match the exact
   union-find answer computed driver-side, with the kill timestamped
   before the job finished.

Needs its own process because one JVM holds one SparkContext and the
test suite's session is local[*]. Prints LC_UNAVAILABLE (→ pytest
skip) if the cluster's two executors don't register.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def kill_app_executors(app_id: str) -> list[int]:
    """SIGKILL every live executor process of this app (replacements
    included if called again). Returns the pids killed."""
    out = subprocess.run(
        ["ps", "axo", "pid,args"], capture_output=True, text=True
    ).stdout
    killed = []
    for line in out.splitlines():
        if "CoarseGrainedExecutorBackend" in line and app_id in line:
            pid = int(line.split(None, 1)[0])
            try:
                os.kill(pid, 9)
                killed.append(pid)
            except ProcessLookupError:
                pass
    return killed


def main(tmp: str) -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local-cluster[2,1,1024]")
        .appName("executor-loss")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.setCheckpointDir(os.path.join(tmp, "ckpt"))
    jsc = sc._jsc.sc()
    for _ in range(90):
        if jsc.getExecutorIds().size() >= 2:
            break
        time.sleep(1)
    else:
        print("LC_UNAVAILABLE: executors never registered")
        spark.stop()
        return 0
    app_id = sc.applicationId
    print(f"APP {app_id}")

    from ethereum_analytical_db_spark.operators.dedup import connected_components
    from ethereum_analytical_db_spark.operators.materialize import materialize

    # --- scenario 1: the primitive, deterministic kill-then-consume ---
    df = spark.range(0, 100_000, 1, 8).selectExpr("id", "id % 97 as k")
    rel = materialize(df, "reliable")
    loc = materialize(df, "local")
    print(f"KILLED1 {kill_app_executors(app_id)}")
    time.sleep(2)
    assert rel.count() == 100_000, "reliable lost rows after executor death"
    print("PRIMITIVE_RELIABLE_OK")
    try:
        loc.count()
        print("PRIMITIVE_LOCAL_SURVIVED")  # wrapper fails on this marker
    except Exception as e:  # noqa: BLE001 - any job failure is the point
        print(f"PRIMITIVE_LOCAL_FAILED {type(e).__name__}")

    # --- the CC workload: 2000 chains of 12 nodes (diameter 11): several
    # star-contraction rounds, each a few jobs = plenty of mid-run
    # runway; component of every node is its chain head ---
    chains, length = 2000, 12
    edges = spark.range(0, chains * (length - 1), 1, 8).selectExpr(
        f"cast(id / {length - 1} as long) * 1000 + (id % {length - 1}) as doc_a",
        f"cast(id / {length - 1} as long) * 1000 + (id % {length - 1}) + 1 as doc_b",
    )
    n_nodes = chains * length

    def kill_after_jobs(group: str, n_jobs: int, state: dict) -> None:
        tracker = sc.statusTracker()
        while len(tracker.getJobIdsForGroup(group) or []) < n_jobs:
            time.sleep(0.2)
        state["pids"] = kill_app_executors(app_id)
        state["at"] = time.monotonic()

    # --- scenario 2: local mode must FAIL under mid-iteration death ---
    state_local: dict = {}
    t = threading.Thread(
        target=kill_after_jobs, args=("cc_local", 5, state_local), daemon=True
    )
    t.start()
    sc.setJobGroup("cc_local", "cc local-mode under executor death")
    try:
        connected_components(
            edges, materialize="local", driver_max_edges=None
        ).count()
        print("CC_LOCAL_SURVIVED")  # wrapper fails on this marker
    except Exception as e:  # noqa: BLE001
        print(f"CC_LOCAL_FAILED {type(e).__name__}")
    finally:
        sc.setJobGroup("", "")
    t.join(timeout=60)
    print(f"KILLED2 {state_local.get('pids')}")
    time.sleep(2)

    # --- scenario 3: reliable mode must COMPLETE, correctly ---
    state_rel: dict = {}
    t = threading.Thread(
        target=kill_after_jobs, args=("cc_reliable", 5, state_rel), daemon=True
    )
    t.start()
    sc.setJobGroup("cc_reliable", "cc reliable-mode under executor death")
    rows = connected_components(
        edges, materialize="reliable", driver_max_edges=None
    ).collect()
    done_at = time.monotonic()
    sc.setJobGroup("", "")
    t.join(timeout=60)
    print(f"KILLED3 {state_rel.get('pids')}")
    assert state_rel.get("at") is not None, "kill thread never fired"
    assert state_rel["at"] < done_at, (
        "kill landed after the CC job finished — nothing was proven"
    )
    got = {r["doc"]: r["component"] for r in rows}
    want = {c * 1000 + j: c * 1000 for c in range(chains) for j in range(length)}
    assert len(got) == n_nodes, f"expected {n_nodes} labeled nodes, got {len(got)}"
    assert got == want, "reliable CC under executor death mislabeled components"
    print("CC_RELIABLE_OK")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
