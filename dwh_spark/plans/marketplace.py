"""Driver-facing marketplace-replay queries.

These run the full M1-M24 transition engine over the deterministic
gen_marketplace_data.sh scenario fixture and compare against golden
oracles (hand-derived final state, independently pinned by
tests/test_transitions.py). The testdata sf_dir is ignored — the
input is the embedded event log, the same at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.functions.coins import coin_amount, coin_denom
from dwh_spark.operators.transitions import (
    materialize_auction_bids,
    materialize_fungible_tokens,
    materialize_ft_transfers,
    materialize_messages,
    materialize_nfts,
    materialize_offers,
    materialize_txes,
    materialize_users,
)
from dwh_spark.plans.registry import query
from dwh_spark.session import scratch_dir, session_memo
from dwh_spark.sources.marketplace_fixture import BB, SB, U1, U2, marketplace_events

# (token, owner, status, price, seller_beneficiary, buyout, opening) —
# hand-derived from the reference's transition semantics; see
# tests/test_transitions.py for the per-rule derivation.
_NFTS_FINAL = [
    ("TOKEN_1", U2, 0, "", "", "", ""),
    ("TOKEN_2", U2, 0, "", SB, "", ""),
    ("TOKEN_3", U2, 0, "", "", "", ""),
    ("TOKEN_4", U2, 2, "", SB, "100token", "22token"),
    ("TOKEN_5", U2, 0, "", "", "", ""),
    ("TOKEN_6", U1, 2, "", SB, "100token", "10token"),
    ("TOKEN_7", U1, 0, "", "", "", ""),
    ("TOKEN_8", U1, 0, "", "", "", ""),
    ("TOKEN_9", U2, 0, "", "", "", ""),
    ("TOKEN_10", U1, 1, "12345678token", SB, "", ""),
    ("TOKEN_11", U1, 0, "", "", "", ""),
    ("TOKEN_12", U1, 0, "", "", "", ""),
    ("TOKEN_13", U1, 2, "", SB, "", "1000000token"),
    ("TOKEN_14", U2, 1, "182token", SB, "", ""),
    ("TOKEN_15", U2, 1, "195token", SB, "", ""),
    ("TOKEN_16", U2, 1, "208token", SB, "", ""),
    ("TOKEN_17", U2, 0, "", "", "", ""),
]

_OFFERS_FINAL = [
    ("TOKEN_7", "1", U2, "100token"),
    ("TOKEN_3", "2", U1, "200token"),
    ("TOKEN_8", "3", U2, "678token"),
    ("TOKEN_8", "4", U2, "789token"),
    ("TOKEN_12", "5", U2, "1567token"),
    ("TOKEN_12", "6", U2, "1867token"),
]


def _values_sql(rows: list[tuple], columns: list[str], types: list[str]) -> str:
    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ",\n      ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in zip(columns, types))
    return (
        f"SELECT {casts} FROM (VALUES\n      {body}\n    ) AS t({', '.join(columns)})"
    )


_NFTS_STATE_ORACLE = _values_sql(
    _NFTS_FINAL,
    ["token_id", "owner_address", "status", "price",
     "seller_beneficiary", "buyout_price", "opening_price"],
    ["VARCHAR", "VARCHAR", "INTEGER", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"],
)

_NFTS_STATE_COLS = (
    "token_id", "owner_address", "status", "price",
    "seller_beneficiary", "buyout_price", "opening_price",
)


@query("marketplace_nfts_state", oracle=_NFTS_STATE_ORACLE)
def marketplace_nfts_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    nfts = materialize_nfts(marketplace_events(spark))
    return nfts.filter(F.col("deleted_at").isNull()).select(*_NFTS_STATE_COLS)


# One stream drain per session serves every marketplace_stream_* query
# — mirrors the reference, where one continuous indexer feeds all state
# tables.
def _stream_state(spark: SparkSession):
    return session_memo(spark, "stream_stores", lambda: _drain_stream_stores(spark))


def _drain_stream_stores(spark: SparkSession):
    import os
    import shutil
    import sys
    import time

    from pyspark.sql.window import Window

    from dwh_spark.streaming.ingest import ParquetStateStore, stream_events
    from dwh_spark.streaming.marketplace import run_marketplace_stream

    t0 = time.perf_counter()
    events = marketplace_events(spark)
    root = scratch_dir("mkt_stream_")
    input_dir = os.path.join(root, "input")
    os.makedirs(input_dir)
    # stage 4 chain-ordered slices; mtimes make the file-source cursor
    # deliver them in chain order (the reference's LevelDB cursor).
    # ONE partitionBy write (not 4 filtered jobs): the fixture is tiny,
    # so staging cost is pure per-job overhead — and each filtered job
    # re-ran the ntile window from scratch.
    sliced = events.withColumn(
        "__slice", F.ntile(4).over(Window.orderBy("height", "tx_index", "msg_id"))
    )
    tmp = os.path.join(root, "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(tmp)
    for i in range(1, 5):
        sdir = os.path.join(tmp, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    t_stage = time.perf_counter()
    # 2 files per trigger → 2 micro-batches: still exercises the
    # cross-batch merge + carried makes state at half the per-batch
    # store-job overhead (same trade as streaming_daily_rollup; the
    # one-file-per-batch path is pinned by tests/test_streaming.py)
    stream = stream_events(
        spark, input_dir, events.schema, max_files_per_trigger=2
    )
    # fixture states are dimension-scale: one part file per snapshot,
    # or the 32-partition default drowns the fold in empty-file tasks
    stores = {
        name: ParquetStateStore(os.path.join(root, f"{name}_state"), write_partitions=1)
        for name in ("nft", "makes", "users", "offers", "bids", "fts")
    }
    run_marketplace_stream(
        stream, stores["nft"], stores["makes"], os.path.join(root, "ckpt"),
        users_store=stores["users"], offers_store=stores["offers"],
        bids_store=stores["bids"], fts_store=stores["fts"],
    )
    t_drain = time.perf_counter()
    # Stage attribution on stderr (VERDICT r6 item 2): the whole
    # harness is session-fixed cost absorbed by the alphabetically
    # first marketplace_stream_* consumer, so drift must be
    # attributable without re-instrumenting.
    print(
        f"# _stream_state: staging {t_stage - t0:.2f}s, "
        f"drain(2 micro-batches x 6 stores) {t_drain - t_stage:.2f}s",
        file=sys.stderr,
    )
    return stores


@query("marketplace_stream_nfts_state", oracle=_NFTS_STATE_ORACLE)
def marketplace_stream_nfts_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME golden final state, materialized INCREMENTALLY: the
    event log is staged as chain-ordered files, replayed by the real
    streaming engine in micro-batches, folded into mergeable partial
    state per batch (streaming/marketplace.py) and finalized at read
    time. Equality with the hand-derived oracle proves stream = batch
    for the reference's core state table."""
    from dwh_spark.operators.transitions import finalize_nfts

    stores = _stream_state(spark)
    final = finalize_nfts(stores["nft"].current(spark))
    return final.filter(F.col("deleted_at").isNull()).select(*_NFTS_STATE_COLS)


_OFFERS_ORACLE = _values_sql(
    _OFFERS_FINAL,
    ["token_id", "offer_id", "buyer", "price"],
    ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"],
)

_BIDS_ORACLE = _values_sql(
    [("TOKEN_6", U2, "50token")],
    ["token_id", "bidder_address", "price"],
    ["VARCHAR", "VARCHAR", "VARCHAR"],
)


@query("marketplace_offers_surviving", oracle=_OFFERS_ORACLE)
def marketplace_offers_surviving(spark: SparkSession, sf_dir: str) -> DataFrame:
    offers = materialize_offers(marketplace_events(spark))
    return offers.select("token_id", "offer_id", "buyer", "price")


@query("marketplace_bids_surviving", oracle=_BIDS_ORACLE)
def marketplace_bids_surviving(spark: SparkSession, sf_dir: str) -> DataFrame:
    bids = materialize_auction_bids(marketplace_events(spark))
    return bids.select("token_id", "bidder_address", "price")


@query("marketplace_stream_offers_surviving", oracle=_OFFERS_ORACLE)
def marketplace_stream_offers_surviving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13/M14/M15 incrementally: makes kept as per-key struct sets
    (idempotent array_distinct∘flatten merge), removals as per-key max
    seq; survivors computed at read time. Same golden oracle as the
    batch survivors."""
    from dwh_spark.operators.transitions import finalize_offers

    stores = _stream_state(spark)
    return finalize_offers(stores["offers"].current(spark)).select(
        "token_id", "offer_id", "buyer", "price"
    )


@query("marketplace_stream_bids_surviving", oracle=_BIDS_ORACLE)
def marketplace_stream_bids_surviving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10-M12 incrementally: bids as per-token struct sets, clears as
    per-token max seq."""
    from dwh_spark.operators.transitions import finalize_bids

    stores = _stream_state(spark)
    return finalize_bids(stores["bids"].current(spark)).select(
        "token_id", "bidder_address", "price"
    )


@query(
    "marketplace_audit_counts",
    oracle="""
    SELECT CAST(67 AS BIGINT) AS n_txes, CAST(67 AS BIGINT) AS n_messages,
           CAST(2 AS BIGINT) AS n_failed
    """,
)
def marketplace_audit_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = marketplace_events(spark)
    txes = materialize_txes(events)
    messages = materialize_messages(events, txes)
    return (
        messages.agg(
            F.count("*").alias("n_messages"),
            F.sum(F.when(F.col("failed"), 1).otherwise(0)).alias("n_failed"),
        )
        .crossJoin(F.broadcast(txes.agg(F.count("*").alias("n_txes"))))
        .select("n_txes", "n_messages", "n_failed")
    )


_USERS_STATE_ORACLE = _values_sql(
    [
        (1, U1, 41, "2024-01-01 00:01:00", "2024-01-01 01:04:00"),
        (2, U2, 24, "2024-01-01 00:08:00", "2024-01-01 01:07:00"),
        (3, SB, 0, "2024-01-01 00:09:00", "2024-01-01 01:01:00"),
        (4, BB, 0, "2024-01-01 00:12:00", "2024-01-01 01:02:00"),
    ],
    ["id", "address", "sequence_number", "created_at", "updated_at"],
    ["BIGINT", "VARCHAR", "BIGINT", "TIMESTAMP", "TIMESTAMP"],
)

_USERS_STATE_COLS = ("id", "address", "sequence_number", "created_at", "updated_at")


@query("marketplace_users_state", oracle=_USERS_STATE_ORACLE)
def marketplace_users_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17/M18: find-or-create over every address appearing in any
    successful message (signers + reflected address fields); id is
    first-seen order, sequence_number counts signed messages."""
    users = materialize_users(marketplace_events(spark))
    return users.select(*_USERS_STATE_COLS)


@query("marketplace_stream_users_state", oracle=_USERS_STATE_ORACLE)
def marketplace_stream_users_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17/M18 incrementally: per-batch user partials (min/max/sum)
    folded across micro-batches — the sum makes replay guarding
    mandatory (the is_current check is what keeps sequence_number
    exactly-once). Same golden oracle as the batch form."""
    from dwh_spark.operators.transitions import finalize_users

    stores = _stream_state(spark)
    return finalize_users(stores["users"].current(spark)).select(*_USERS_STATE_COLS)


_FT_STATE_ORACLE = _values_sql(
    [
        ("terra", U1, 298765, 1),
        ("bitcoin", U2, 194999, 0),
        ("tugrik", U1, 9999, 0),
    ],
    ["denom", "owner_address", "emission_amount", "n_transfers"],
    ["VARCHAR", "VARCHAR", "BIGINT", "BIGINT"],
)


@query("marketplace_stream_ft_state", oracle=_FT_STATE_ORACLE)
def marketplace_stream_ft_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16 incrementally: create payload as max-struct, transfer counts
    as guarded sums."""
    from dwh_spark.operators.transitions import finalize_ft_state

    stores = _stream_state(spark)
    return finalize_ft_state(stores["fts"].current(spark))


@query("marketplace_ft_state", oracle=_FT_STATE_ORACLE)
def marketplace_ft_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16: fungible tokens with their transfer counts (FK join via
    the surrogate id, as the reference's association table does)."""
    events = marketplace_events(spark)
    fts = materialize_fungible_tokens(events)
    transfers = materialize_ft_transfers(events, fts)
    counts = transfers.groupBy("fungible_token_id").agg(F.count("*").alias("n_transfers"))
    return (
        fts.join(counts, fts.id == counts.fungible_token_id, "left")
        .select(
            "denom", "owner_address", "emission_amount",
            F.coalesce(F.col("n_transfers"), F.lit(0)).alias("n_transfers"),
        )
    )


@query(
    "marketplace_listed_value",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'token', CAST(12346263 AS DOUBLE), CAST(4 AS BIGINT)),
      (2, 'token', CAST(1000032 AS DOUBLE), CAST(3 AS BIGINT))
    ) AS t(status, denom, listed_value, n)
    """,
)
def marketplace_listed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coin-string analytics (SURVEY.md §7 hard part 2): parse
    "100token" money into (amount DECIMAL(38,0), denom) and aggregate
    the marketplace's listed value — sale price for on-market NFTs,
    opening price for on-auction ones. String columns stay string for
    reference parity; parsing is opt-in per query."""
    nfts = materialize_nfts(marketplace_events(spark)).filter(
        F.col("deleted_at").isNull() & F.col("status").isin(1, 2)
    )
    listed = F.when(F.col("status") == 1, F.col("price")).otherwise(F.col("opening_price"))
    return (
        nfts.select(
            "status",
            coin_denom(listed).alias("denom"),
            coin_amount(listed).alias("amount"),
        )
        .filter(F.col("denom").isNotNull())
        .groupBy("status", "denom")
        .agg(
            F.sum("amount").cast("double").alias("listed_value"),
            F.count("*").alias("n"),
        )
    )


def _nft_offers_expected() -> list[tuple]:
    """Expected nested shape, derived from the hand-pinned final states:
    each surviving NFT with its surviving offers sorted numerically by
    offer_id and rendered ``offer_id:buyer:price`` comma-joined."""
    by_tok: dict[str, list[tuple[int, str]]] = {}
    for tok, oid, buyer, price in _OFFERS_FINAL:
        by_tok.setdefault(tok, []).append((int(oid), f"{oid}:{buyer}:{price}"))
    return [
        (
            tok,
            owner,
            len(by_tok.get(tok, [])),
            ",".join(s for _, s in sorted(by_tok.get(tok, []))),
        )
        for tok, owner, *_ in _NFTS_FINAL
    ]


@query(
    "flagship_nft_offers_nested",
    oracle=_values_sql(
        _nft_offers_expected(),
        ["token_id", "owner_address", "n_offers", "offers"],
        ["VARCHAR", "VARCHAR", "BIGINT", "VARCHAR"],
    ),
)
def flagship_nft_offers_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 nested 1:N on the SECOND FK pair (reference nests
    nfts→offers via GORM association, `x/indexer/db/marketplace.go:482-488`;
    response shape `README.md:104-118`): every surviving NFT with its
    surviving offers as a nested list. The Spark shape is
    ``sort_array(collect_list(struct))`` — sorted numerically by
    offer_id, then rendered to a comma-join for oracle hash-stability
    (registry docstring rule)."""
    events = marketplace_events(spark)
    nfts = materialize_nfts(events).filter(F.col("deleted_at").isNull())
    off = materialize_offers(events).select(
        "token_id",
        F.struct(
            F.col("offer_id").cast("int").alias("k"),
            F.concat_ws(":", "offer_id", "buyer", "price").alias("s"),
        ).alias("o"),
    )
    return (
        nfts.select("token_id", "owner_address")
        .join(off, "token_id", "left")
        .groupBy("token_id", "owner_address")
        .agg(
            F.count("o").alias("n_offers"),
            F.concat_ws(
                ",", F.transform(F.sort_array(F.collect_list("o")), lambda x: x["s"])
            ).alias("offers"),
        )
    )


# Multi-coin inputs shared verbatim by the Spark query and the oracle —
# exercises every parse_coins branch: multi-coin, single, empty string,
# '/'-denom, and an invalid short denom ('5ab' → NULL element, dropped).
_MULTICOIN_ROWS = """
      (1, '5atom,100token'),
      (2, '42atom'),
      (3, ''),
      (4, '7uatom/ibc0,9token'),
      (5, '13nacl,5ab,777token'),
      (6, '1000000uatom/ibc0')
"""


@query(
    "marketplace_multicoin_totals",
    oracle=f"""
    WITH inp AS (
      SELECT id, coins FROM (VALUES {_MULTICOIN_ROWS}) AS t(id, coins)
    ), elems AS (
      SELECT unnest(string_split(coins, ',')) AS c FROM inp WHERE coins <> ''
    ), parsed AS (
      SELECT
        nullif(regexp_extract(c, '^([0-9]+)[a-z][a-z0-9/]{{2,127}}$', 1), '') AS amt,
        nullif(regexp_extract(c, '^[0-9]+([a-z][a-z0-9/]{{2,127}})$', 1), '') AS denom
      FROM elems
    )
    SELECT denom,
           CAST(sum(CAST(amt AS DECIMAL(38,0))) AS DOUBLE) AS total_amount,
           count(*) AS n
    FROM parsed WHERE denom IS NOT NULL GROUP BY 1
    """,
)
def marketplace_multicoin_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-coin ``sdk.Coins.String()`` parsing (cosmos grammar,
    `x/common/types.go:42`): explode ``parse_coins`` arrays and total
    per denom. Invalid coins parse to NULL elements and are excluded —
    bad rows are data, not errors. The oracle re-derives the parse with
    the same regexes in DuckDB over the same VALUES literal."""
    from dwh_spark.functions.coins import parse_coins

    inp = spark.sql(f"SELECT id, coins FROM VALUES {_MULTICOIN_ROWS} AS t(id, coins)")
    return (
        inp.select(F.explode(parse_coins(F.col("coins"))).alias("c"))
        .filter(F.col("c").isNotNull())
        .groupBy(F.col("c.denom").alias("denom"))
        .agg(
            F.sum("c.amount").cast("double").alias("total_amount"),
            F.count("*").alias("n"),
        )
    )
