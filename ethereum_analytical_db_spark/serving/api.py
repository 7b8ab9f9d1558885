"""REST serving layer (SURVEY §2.1 S17, §2.3 J15).

The reference serves balances over Flask: POST /balances/ with a JSON
address list, POST /token_balances/<token>
(examples/balances_api/server.py:8-18). Each handler combines five
per-address aggregates in Python dicts — income − outcome + reward −
fee + fee_reward, floored at 0
(examples/balances_api/actions/balances.py:68-83,
token_balances.py:26-35).

Here the combine is one Spark SQL aggregate over the warehouse's
registered views (the analytics read path, SURVEY §3.3) — the engine
does the distributed work; Flask only shapes JSON. Balance semantics
follow examples/sql_balances/balances.sql:1-63: fees count only
top-level calls (id LIKE '%.0'), rewards only type='reward', and a
miner earns each block's total fees (fee_reward).

Each query reads its view once. A window over the block adds every
row's block fee total, ``stack`` emits one leg per address a row
touches (``to``: income; ``from``: outcome and fee; ``author``: reward
and fee_reward), and one GROUP BY address sums the legs. Under the
FINAL view every further reference to the view would rerun the whole
last-write-wins window, so the five terms are never built as separate
aggregates joined back together (SCALE.md: 4 Spark jobs per
FINAL-window request).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

BALANCES_SQL = """
WITH itx AS (
  SELECT *,
         SUM(CASE WHEN id LIKE '%.0' THEN gasUsed * gasPrice END)
           OVER (PARTITION BY blockNumber) AS block_fee,
         error IS NULL
           AND (parent_error IS NULL OR CAST(parent_error AS INT) = 0) AS succeeded
  FROM internal_transaction
),
legs AS (
  SELECT stack(3,
    `to`, CASE WHEN type != 'reward' AND succeeded THEN value END,
          NULL, NULL, NULL, NULL,
    `from`, NULL, CASE WHEN succeeded THEN value END,
            CASE WHEN id LIKE '%.0' THEN gasUsed * gasPrice END, NULL, NULL,
    -- a block without a top-level call has a NULL block_fee: no fee_reward
    author, NULL, NULL, NULL, CASE WHEN type = 'reward' THEN value END,
            CASE WHEN type = 'reward' AND rewardType = 'block' THEN block_fee END
  ) AS (address, income, outcome, fee, reward, fee_reward)
  FROM itx
)
SELECT address,
       GREATEST(
         COALESCE(SUM(income), 0) - COALESCE(SUM(outcome), 0)
         + COALESCE(SUM(reward), 0) - COALESCE(SUM(fee), 0)
         + COALESCE(SUM(fee_reward), 0),
         0
       ) AS balance
FROM legs
WHERE address IS NOT NULL
GROUP BY address
"""

# one signed leg per side of a transfer; NULL addresses are grouped per
# side, so a NULL `from` and a NULL `to` stay two separate rows
TOKEN_BALANCES_SQL = """
SELECT token, address, COALESCE(SUM(v), 0) AS balance
FROM (
  SELECT token, stack(2, `to`, 'to', value, `from`, 'from', -value)
           AS (address, side, v)
  FROM token_transaction
)
GROUP BY token, address, CASE WHEN address IS NULL THEN side END
"""


def compute_balances(
    spark: SparkSession, addresses: list[str] | None = None
) -> DataFrame:
    df = spark.sql(BALANCES_SQL)
    # None = no filter (full scan is the explicit ask); an EMPTY list
    # means "these zero addresses" and must return zero rows — the
    # falsy-list check previously collected the whole address universe
    # for a request that asked for nothing
    if addresses is not None:
        df = df.filter(df["address"].isin([a.lower() for a in addresses]))
    return df


def compute_token_balances(spark: SparkSession, token: str) -> DataFrame:
    df = spark.sql(TOKEN_BALANCES_SQL)
    return df.filter(df["token"] == token.lower()).select("address", "balance")


def create_app(spark: SparkSession):
    """Flask app factory (import-gated: serving is optional)."""
    from flask import Flask, jsonify, request

    app = Flask("spark-chain-analytics")

    @app.post("/balances/")
    def balances():
        payload = request.get_json(silent=True)
        # accept both body shapes: {"addresses": [...]} and a bare JSON
        # list (the reference clients post the latter); no body at all
        # asks for every address
        addrs = payload.get("addresses") if isinstance(payload, dict) else payload
        if addrs is not None and not (
            isinstance(addrs, list) and all(isinstance(a, str) for a in addrs)
        ):
            return jsonify(error="expected a JSON list of address strings "
                                 'or {"addresses": [...]}'), 400
        rows = compute_balances(spark, addrs).collect()
        return jsonify({r["address"]: r["balance"] for r in rows})

    @app.post("/token_balances/<token>")
    def token_balances(token: str):
        rows = compute_token_balances(spark, token).collect()
        return jsonify({r["address"]: r["balance"] for r in rows})

    return app
