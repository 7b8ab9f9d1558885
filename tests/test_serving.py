"""REST serving layer S17 — Flask over spark.sql views, reference
balances arithmetic (J15): income − outcome + reward − fee + fee_reward,
floored at 0 (examples/balances_api tests' semantics)."""

import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ethereum_analytical_db_spark.catalog import Warehouse
from ethereum_analytical_db_spark.serving import api


@pytest.fixture()
def chain_views(spark):
    itx_cols = (
        "id string, blockNumber long, `from` string, `to` string, value double, "
        "gasUsed int, gasPrice double, type string, rewardType string, "
        "author string, error string, parent_error boolean"
    )
    rows = [
        # block 1: a→b 10 ETH top-level, fee 21000 * 1e-9
        Row(id="0xT1.0", blockNumber=1, **{"from": "0xa"}, to="0xb", value=10.0,
            gasUsed=21000, gasPrice=1e-9, type="call", rewardType=None,
            author=None, error=None, parent_error=False),
        # failed tx: must not move value
        Row(id="0xT2.0", blockNumber=1, **{"from": "0xb"}, to="0xa", value=99.0,
            gasUsed=0, gasPrice=0.0, type="call", rewardType=None,
            author=None, error="Reverted", parent_error=False),
        # block reward to miner m + fee_reward from block 1 fees
        Row(id="0xR1.0", blockNumber=1, **{"from": None}, to=None, value=2.0,
            gasUsed=None, gasPrice=None, type="reward", rewardType="block",
            author="0xm", error=None, parent_error=False),
    ]
    spark.createDataFrame(rows, itx_cols).createOrReplaceTempView(
        "internal_transaction"
    )
    tt = [
        Row(id="0xE1.0", token="0xtok", **{"from": "0xa"}, to="0xb", value=7.5),
        Row(id="0xE2.0", token="0xtok", **{"from": "0xb"}, to="0xc", value=2.5),
    ]
    spark.createDataFrame(
        tt, "id string, token string, `from` string, `to` string, value double"
    ).createOrReplaceTempView("token_transaction")


def test_compute_balances(spark, chain_views):
    out = {r["address"]: r["balance"] for r in api.compute_balances(spark).collect()}
    fee = 21000 * 1e-9
    assert out["0xb"] == pytest.approx(10.0)        # received 10; failed send ignored
    assert out["0xa"] == pytest.approx(0.0)          # 0 - 10 - fee → floored at 0
    assert out["0xm"] == pytest.approx(2.0 + fee)    # block reward + fee_reward


def test_flask_endpoints(spark, chain_views):
    app = api.create_app(spark)
    client = app.test_client()

    resp = client.post("/balances/", json={"addresses": ["0xB", "0xM"]})
    assert resp.status_code == 200
    body = resp.get_json()
    assert set(body) == {"0xb", "0xm"}
    assert body["0xb"] == pytest.approx(10.0)

    resp = client.post("/token_balances/0xTOK")
    body = resp.get_json()
    assert body["0xb"] == pytest.approx(7.5 - 2.5)
    assert body["0xc"] == pytest.approx(2.5)
    assert body["0xa"] == pytest.approx(-7.5)  # token balances are not floored

    # malformed bodies are refused with a 400 naming the expected shape
    for bad in ("0xa", 5, ["0xa", 5], {"addresses": [None]}, {"addresses": "0xa"}):
        resp = client.post("/balances/", json=bad)
        assert resp.status_code == 400, bad
        assert "address strings" in resp.get_json()["error"]


# The join-pyramid form of both queries, kept as the parity reference:
# every aggregate built from its own reference to the view, merged by
# LEFT/FULL OUTER joins (examples/sql_balances/balances.sql's shape).
PYRAMID_BALANCES_SQL = """
WITH universe AS (
  SELECT DISTINCT address FROM (
    SELECT `to` AS address FROM internal_transaction
    UNION ALL SELECT `from` AS address FROM internal_transaction
    UNION ALL SELECT author AS address FROM internal_transaction
  ) WHERE address IS NOT NULL
),
income AS (
  SELECT `to` AS address, SUM(value) AS v FROM internal_transaction
  WHERE type != 'reward' AND error IS NULL
    AND (parent_error IS NULL OR CAST(parent_error AS INT) = 0)
  GROUP BY `to`
),
outcome AS (
  SELECT `from` AS address, SUM(value) AS v FROM internal_transaction
  WHERE error IS NULL
    AND (parent_error IS NULL OR CAST(parent_error AS INT) = 0)
  GROUP BY `from`
),
reward AS (
  SELECT author AS address, SUM(value) AS v FROM internal_transaction
  WHERE type = 'reward' GROUP BY author
),
fee AS (
  SELECT `from` AS address, SUM(gasUsed * gasPrice) AS v
  FROM internal_transaction WHERE id LIKE '%.0' GROUP BY `from`
),
block_fee AS (
  SELECT blockNumber, SUM(gasUsed * gasPrice) AS v
  FROM internal_transaction WHERE id LIKE '%.0' GROUP BY blockNumber
),
fee_reward AS (
  SELECT m.author AS address, SUM(bf.v) AS v
  FROM (SELECT author, blockNumber FROM internal_transaction
        WHERE type = 'reward' AND rewardType = 'block') m
  JOIN block_fee bf USING (blockNumber)
  GROUP BY m.author
)
SELECT u.address,
       GREATEST(
         COALESCE(i.v, 0) - COALESCE(o.v, 0) + COALESCE(r.v, 0)
         - COALESCE(f.v, 0) + COALESCE(fr.v, 0),
         0
       ) AS balance
FROM universe u
LEFT JOIN income i ON u.address = i.address
LEFT JOIN outcome o ON u.address = o.address
LEFT JOIN reward r ON u.address = r.address
LEFT JOIN fee f ON u.address = f.address
LEFT JOIN fee_reward fr ON u.address = fr.address
"""

PYRAMID_TOKEN_BALANCES_SQL = """
SELECT COALESCE(o.token, i.token) AS token,
       COALESCE(o.address, i.address) AS address,
       COALESCE(i.v, 0) - COALESCE(o.v, 0) AS balance
FROM (
  SELECT token, `from` AS address, SUM(value) AS v
  FROM token_transaction GROUP BY token, `from`
) o
FULL OUTER JOIN (
  SELECT token, `to` AS address, SUM(value) AS v
  FROM token_transaction GROUP BY token, `to`
) i ON o.token = i.token AND o.address = i.address
"""

ADDRS = [f"0x{i:x}" for i in range(12)]


def _maybe(rng, p, value):
    return None if rng.random() < p else value


def _random_itx(rng, parent_error_type):
    """~300 internal_transaction rows over 15 blocks with NULLs in every
    column the balances read, plus block 99: two block rewards and no
    top-level call."""
    flags = {"tinyint": [None, 0, 1], "boolean": [None, False, True]}
    rows = []
    for n in range(300):
        block = rng.randrange(1, 16)
        typ = _maybe(rng, 0.05, rng.choice(["call", "call", "create", "reward"]))
        rows.append((
            _maybe(rng, 0.05, f"0x{block:x}{n:x}.{rng.choice([0, 0, 1, 2, 10])}"),
            block,
            _maybe(rng, 0.1, rng.choice(ADDRS)),
            _maybe(rng, 0.1, rng.choice(ADDRS)),
            _maybe(rng, 0.05, rng.uniform(0, 100)),
            _maybe(rng, 0.1, rng.randrange(21000, 200000)),
            _maybe(rng, 0.1, rng.uniform(1e-9, 1e-7)),
            typ,
            rng.choice(["block", "block", "uncle", None]) if typ == "reward" else None,
            _maybe(rng, 0.3 if typ == "reward" else 0.8, rng.choice(ADDRS)),
            _maybe(rng, 0.8, "Reverted"),
            rng.choice(flags[parent_error_type]),
        ))
    for author in ("0x1", "0x2"):
        rows.append((f"0xr99{author}.1", 99, None, None, 2.0, None, None,
                     "reward", "block", author, None, None))
    return rows


def _random_token_tx(rng):
    return [
        (f"0xe{n:x}.0", _maybe(rng, 0.1, rng.choice(["0xt1", "0xt2"])),
         _maybe(rng, 0.1, rng.choice(ADDRS)), _maybe(rng, 0.1, rng.choice(ADDRS)),
         _maybe(rng, 0.05, rng.uniform(0, 100)))
        for n in range(300)
    ]


def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


@pytest.mark.parametrize("parent_error_type", ["tinyint", "boolean"])
def test_one_scan_matches_join_pyramid_on_random_frames(spark, parent_error_type):
    itx_cols = (
        "id string, blockNumber long, `from` string, `to` string, value double, "
        "gasUsed int, gasPrice double, type string, rewardType string, "
        f"author string, error string, parent_error {parent_error_type}"
    )
    tt_cols = "id string, token string, `from` string, `to` string, value double"
    for seed in range(3):
        rng = random.Random(seed)
        itx = spark.createDataFrame(_random_itx(rng, parent_error_type), itx_cols)
        itx.createOrReplaceTempView("internal_transaction")
        # the frame covers the edge cases the two forms could disagree on
        top = itx.filter(F.col("id").like("%.0"))
        block_rewards = itx.filter("type = 'reward' AND rewardType = 'block'")
        assert block_rewards.groupBy("blockNumber").count().filter("count > 1").count()
        assert block_rewards.join(top, "blockNumber", "left_anti").count()
        assert itx.filter("error IS NULL AND parent_error IS NOT NULL "
                          "AND CAST(parent_error AS INT) = 1").count()

        want = {r["address"]: r["balance"]
                for r in spark.sql(PYRAMID_BALANCES_SQL).collect()}
        got = {r["address"]: r["balance"]
               for r in api.compute_balances(spark).collect()}
        assert set(got) == set(want) == set(ADDRS)
        assert all(_close(got[a], want[a]) for a in want), (seed, got, want)
        assert any(v > 0 for v in want.values())
        sample = rng.sample(ADDRS, 3)
        picked = api.compute_balances(spark, [a.upper() for a in sample]).collect()
        assert {r["address"]: r["balance"] for r in picked} == {
            a: got[a] for a in sample}

        spark.createDataFrame(_random_token_tx(rng), tt_cols) \
            .createOrReplaceTempView("token_transaction")
        pyramid = spark.sql(PYRAMID_TOKEN_BALANCES_SQL)
        for token in ("0xT1", "0xt2"):
            want = sorted(
                (r["address"] or "", r["balance"])
                for r in pyramid.filter(F.col("token") == token.lower()).collect())
            got = sorted(
                (r["address"] or "", r["balance"])
                for r in api.compute_token_balances(spark, token).collect())
            assert [a for a, _ in got] == [a for a, _ in want]
            assert all(_close(g, w) for (_, g), (_, w) in zip(got, want))
            # a NULL `from` and a NULL `to` stay two rows, one per side
            assert [a for a, _ in got].count("") == 2


def _group_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_balances_request_job_count(spark, tmp_path):
    """One balances request reads the view once: a handful of jobs
    through the FINAL window (two writes), fewer dedup-free after
    compact(). The per-aggregate join form ran 23 and 14 here."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("0xT1.0", 1, "0xa", "0xb", 10.0, 21000, 1e-9, "call", None, None),
         ("0xR1.0", 1, None, None, 2.0, None, None, "reward", "block", "0xm")],
        "id string, blockNumber long, `from` string, `to` string, value double, "
        "gasUsed int, gasPrice double, type string, rewardType string, "
        "author string",
    )
    wh.write("internal_transaction", df)
    wh.write("internal_transaction", df.withColumn("value", F.col("value") * 2))
    wh.register_views()
    request = ["0xa", "0xb", "0xm"]

    def serve():
        return {r["address"]: r["balance"]
                for r in api.compute_balances(spark, request).collect()}

    assert serve() == pytest.approx(
        {"0xa": 0.0, "0xb": 20.0, "0xm": 4.0 + 21000 * 1e-9})
    assert _group_jobs(spark, "serving-final", serve) <= 4

    wh.compact("internal_transaction")
    wh.register_views()
    assert wh.is_dedup_free("internal_transaction")
    assert _group_jobs(spark, "serving-dedup-free", serve) <= 3
