"""Adversarial-skew behavior of the stateful/grouped paths (round-4
review ask): one session key holding half of all events, a single giant
connected component, and an LSH corpus collapsing into ONE bucket. The
LSH bound is asserted from real execution — a max-merging accumulator
records the largest group any gemm task received — not inferred from
the plan.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from ethereum_analytical_db_spark.operators import dedup, similarity
from ethereum_analytical_db_spark.streaming.stateful import sessionize_batch


def test_sessionize_hot_key_half_of_events(spark):
    """One key owns 50% of events. Per-key windows make the hot key one
    sorted partition (inherent to gap semantics — state is the window
    frame, spill-safe); correctness must hold and the plan must shuffle
    by key exactly once, reused by the final aggregation."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    # hot key: 3000 events at 60 s spacing with a >gap jump every 1000
    for i in range(3000):
        ts = base + datetime.timedelta(seconds=i * 60 + (i // 1000) * 10_000)
        rows.append(("hot", ts, 1.0, i))
    # 3000 cold events over 100 keys, one session each
    for i in range(3000):
        k = f"cold{i % 100}"
        ts = base + datetime.timedelta(seconds=(i // 100) * 60)
        rows.append((k, ts, 1.0, 10_000 + i))
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, value double, event_id long"
    )
    out = sessionize_batch(
        df, gap_seconds=300, id_col="event_id"
    ).collect()
    hot = sorted(
        (r for r in out if r["user_id"] == "hot"),
        key=lambda r: r["session_start"],
    )
    assert [r["n_events"] for r in hot] == [1000, 1000, 1000]
    assert sum(r["n_events"] for r in out) == 6000
    cold = [r for r in out if r["user_id"] != "hot"]
    assert len(cold) == 100 and all(r["n_events"] == 30 for r in cold)
    # one Exchange on user_id feeds window AND aggregation
    plan = sessionize_batch(
        df, gap_seconds=300, id_col="event_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_giant_component_min_label_converges_low_diameter(spark):
    """A single component holding EVERY node (hub-and-spoke with local
    chains: diameter 6) — the distributed path stays within a 10-round
    budget and labels all 4000 nodes with the global minimum."""
    edges = []
    # 40 hubs, each with a 3-deep chain of 33 spokes
    n = 0
    for hub in range(40):
        hub_id = n
        n += 1
        edges.append((0, hub_id))  # all hubs attach to node 0
        for _ in range(33):
            a, b, c = n, n + 1, n + 2
            n += 3
            edges += [(hub_id, a), (a, b), (b, c)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = dedup.connected_components(
        pairs, max_iterations=10, driver_max_edges=None
    ).collect()
    assert len(got) == n
    assert all(r["component"] == 0 for r in got)


def test_giant_chain_converges_in_log_rounds(spark):
    """Adversarial 600-node path graph (diameter 600): both paths label
    it as one component; the distributed star contraction does so
    within 12 rounds (O(log n), not O(diameter))."""
    chain = [(i, i + 1) for i in range(600)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    # driver_max_edges=None forces the distributed loop: the r16 driver
    # fast path labels a small chain in one pass, with no rounds
    got = dedup.connected_components(
        pairs, max_iterations=12, driver_max_edges=None
    ).collect()
    assert len(got) == 601 and all(r["component"] == 0 for r in got)
    fast = dedup.connected_components(pairs, max_iterations=12).collect()
    assert len(fast) == 601 and all(r["component"] == 0 for r in fast)


def test_lsh_identical_vectors_one_bucket_sub_blocks_bound(spark):
    """All-identical vectors land in ONE sign bucket — the worst skew
    LSH can see. sub_blocks must decompose that bucket into bounded
    tasks: with S=4 the hottest task may hold at most 2/S of the bucket
    (plus the handful of distinct background vectors), measured by the
    accumulator from the gemm tasks themselves. Output must be identical
    to the undecomposed run."""
    n_hot = 240
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n_hot)]
    # background vectors, far from the hot direction and each other
    rows += [
        (1000 + j, [float(j + 5), -1.0, float((j * 7) % 11), 0.5])
        for j in range(8)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)

    acc1 = similarity.max_group_accumulator(spark.sparkContext)
    flat = similarity.embedding_near_dup_lsh(
        emb, dim=4, threshold=0.999, planes=4, sub_blocks=1, group_size_acc=acc1
    )
    flat_pairs = {(r["id_a"], r["id_b"]) for r in flat.collect()}
    assert len(flat_pairs) == n_hot * (n_hot - 1) // 2  # all-pairs of identicals
    assert acc1.value >= n_hot  # undecomposed: one task got the whole bucket

    acc4 = similarity.max_group_accumulator(spark.sparkContext)
    split = similarity.embedding_near_dup_lsh(
        emb, dim=4, threshold=0.999, planes=4, sub_blocks=4, group_size_acc=acc4
    )
    split_pairs = {(r["id_a"], r["id_b"]) for r in split.collect()}
    assert split_pairs == flat_pairs  # decomposition never changes output
    # hottest task bounded by ~2·bucket/S (xxhash64 spread isn't exactly
    # even; 1.5x headroom on the 2/S share covers it)
    assert acc4.value <= int(n_hot * 2 / 4 * 1.5) + 8
    assert acc4.value < acc1.value


def _sum_shuffle_records(df) -> int:
    """Sum the 'shuffle records written' SQLMetric over every exchange
    in the EXECUTED plan (AQE-final, real runtime values — not a plan
    string)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    # unwrap AdaptiveSparkPlanExec to the current physical plan
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    total = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            if kv._1() == "shuffleRecordsWritten" or "shuffle records written" in str(
                metric.name().toString() if hasattr(metric.name(), "toString") else metric.name()
            ):
                total += metric.value()
        # ReusedExchange references an already-counted exchange; its
        # children are the same JVM nodes, so the walk naturally dedups
        # nothing here — each physical exchange is visited once
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
        # AQE query-stage nodes (Shuffle/Broadcast/Result) are leaves
        # that hide their materialized subplan behind .plan()
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
    return int(total)


def test_balances_pyramid_hot_address_map_side_combine(spark, tmp_path):
    """One address owns 50% of all events (round-5 review ask: the
    pyramid's 100 TB story needs a measured skew bound, not prose).

    The mitigation is partial (map-side) aggregation: every per-type
    aggregate collapses the hot address to one row per map partition
    BEFORE the shuffle, so per-key shuffled rows are bounded by the
    partition count, not the key's row count. Asserted from REAL
    execution metrics: total shuffle records across the whole plan stay
    far below the hot key's raw row count."""
    from ethereum_analytical_db_spark.plans import analytics

    n_hot, n_cold_keys = 10_000, 100
    rows = [("hot", "purchase", 1.0, i) for i in range(n_hot)]
    rows += [
        # i//100 decouples type from key (i%5 would alias with i%100 and
        # starve 2/5 of the cold keys out of the universe)
        (f"c{i % n_cold_keys}", ["purchase", "click", "signup", "error", "view"][(i // n_cold_keys) % 5], 2.0, n_hot + i)
        for i in range(n_hot)
    ]
    # land the fixture as parquet so each branch SCANS (like production)
    # instead of inheriting a repartition exchange that would drown the
    # aggregate-shuffle measurement in fixture-shuffle records
    src = str(tmp_path / "skew_events")
    spark.createDataFrame(
        rows, "user_id string, event_type string, value double, event_id long"
    ).repartition(8).write.mode("overwrite").parquet(src)
    ev = spark.read.parquet(src)

    orig = analytics.table
    try:
        analytics.table = lambda s, sf, name: ev  # feed the skewed fixture
        df = analytics.balances_pyramid(spark, "unused")
        out = {r["address"]: r["balance"] for r in df.collect()}
    finally:
        analytics.table = orig

    # correctness under skew: hot = 10k purchases of 1.0
    assert out["hot"] == pytest.approx(10_000.0)
    assert len(out) == 1 + n_cold_keys
    # cold keys: 20 purchases*2 - 20 clicks*2 + 20 signups*2 - 20*2*0.01 + 20*2*0.01
    assert out["c0"] == pytest.approx(40.0)

    shuffled = _sum_shuffle_records(df)
    # the hot key alone has 10k raw rows; with map-side combine the
    # whole multi-stage plan (5 aggs + distinct + joins) must shuffle
    # far fewer records than that single key's input
    assert 0 < shuffled < n_hot, shuffled

    # and the plan shape confirms why: partial aggregation before every
    # exchange that feeds a per-address aggregate
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan_str
    assert "CartesianProduct" not in plan_str
    assert "BroadcastNestedLoopJoin" not in plan_str


def test_substring_dedup_universal_boilerplate_window(spark):
    """Adversarial: every doc carries the SAME k-word boilerplate
    header, so one fingerprint partition holds one row per doc (the
    hot-key shape). The fp-partitioned window pass is a linear sort,
    not a pair join — the operator must stay correct and complete at a
    few hundred docs with a universal hot fingerprint, cutting the
    boilerplate from every doc except the global first occurrence."""
    import random

    rnd = random.Random(5)
    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [
        (i, boiler + " " + " ".join(f"u{i}_{j}_{rnd.randrange(9)}" for j in range(20)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.exact_substring_dedup(df, k=8).collect()}
    assert len(out) == 300
    # keep-first: doc 0 keeps the boilerplate, everyone else loses it
    assert out[0]["tokens_removed"] == 0
    assert all(out[i]["tokens_removed"] == 8 for i in range(1, 300))
    assert all(not out[i]["text_clean"].startswith("b0 ") for i in range(1, 300))
