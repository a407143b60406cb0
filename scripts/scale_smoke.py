"""Scale smoke: run core operators at 100x the bench scale factor.

Generates a deterministic 10M-row events table (100x sf0.1) under
/tmp and times the operators whose plans must survive scale-up —
latest-state compaction, rollups, as-of join, sketches. Run:

    python scripts/scale_smoke.py [n_rows]
    python scripts/scale_smoke.py append_log   # 50-batch ingest soak

Prints one timing line per operator; results are recorded in
README.md ("Scale design"). The table is generated, not copied, so
this never touches /root/testdata.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dwh_spark.operators.sketch import kmv_distinct
from dwh_spark.operators.temporal import asof_join
from dwh_spark.session import get_spark, scratch_dir
from dwh_spark.sources.media_fixtures import md5_clip, md5_grid

CASE = None
if len(sys.argv) > 1 and not sys.argv[1].isdigit():
    CASE = sys.argv.pop(1)
N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
N_USERS = N_ROWS // 66  # same user:event ratio as the fixtures
PATH = f"/tmp/dwh_scale_smoke_{N_ROWS}"


def main() -> None:
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    types = F.array(*[F.lit(t) for t in ("click", "error", "purchase", "signup", "view")])
    events = (
        spark.range(N_ROWS)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1704067200000000) + (F.col("id") * 7_919_773) % (30 * 86400 * 1_000_000)
            ).alias("ts"),
            F.pmod(F.xxhash64("id"), F.lit(N_USERS)).alias("user_id"),
            F.element_at(types, (F.col("id") % 5 + 1).cast("int")).alias("event_type"),
            F.round((F.xxhash64("id", F.lit(1)) % 100000) / 100.0, 2).alias("value"),
        )
    )
    events.write.mode("overwrite").parquet(PATH)
    print(f"generate+write {N_ROWS} rows: {time.perf_counter() - t0:.1f}s")

    ev = spark.read.parquet(PATH)

    def timed(name, df):
        t = time.perf_counter()
        n = df.count()
        print(f"{name}: {time.perf_counter() - t:.1f}s ({n} rows)")

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    timed(
        "latest_state (window rank over all users)",
        ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1),
    )
    timed(
        "daily_rollup (groupBy day x type)",
        ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count("*"), F.sum(F.col("value").cast("decimal(18,2)"))
        ),
    )
    # filter on the carried column so the count can't prune the window
    timed(
        "asof_join (purchases pick up last click per user)",
        asof_join(
            ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts"),
            ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value"),
            key="user_id",
            right_cols=["value"],
        ).filter(F.col("asof_ts").isNotNull()),
    )
    timed(
        "kmv_distinct (users per type, k=64)",
        kmv_distinct(ev, ["event_type"], "user_id", k=64),
    )

    # ---- dedup scale path: synthetic docs at 10x the sf0.1 corpus ----
    n_docs = max(N_ROWS // 20, 1000)
    vocab = F.array(*[F.lit(f"w{i:03d}") for i in range(400)])
    # ~5% of docs are near-duplicates: pairs (id, id+1) share a seed
    seed = F.when(F.col("id") % 40 < 2, (F.col("id") / 10).cast("long") * 10).otherwise(
        F.col("id")
    )
    word = lambda i: F.element_at(  # noqa: E731
        vocab, (F.pmod(F.xxhash64(seed, F.lit(i)), F.lit(400)) + 1).cast("int")
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[word(i) for i in range(60)]).alias("text"),
    )
    doc_path = f"{PATH}_docs"
    t = time.perf_counter()
    docs.write.mode("overwrite").parquet(doc_path)
    print(f"generate+write {n_docs} docs: {time.perf_counter() - t:.1f}s")
    d = spark.read.parquet(doc_path)

    from dwh_spark.operators.dedup import lsh_candidate_pairs, minhash_near_duplicates

    timed("lsh_candidate_pairs (16 hashes, 4 bands)", lsh_candidate_pairs(d))
    timed("minhash_near_duplicates (LSH + verify)", minhash_near_duplicates(d))

    # ---- similarity scale path: 1M x 64-dim vectors, brute force vs LSH ----
    n_vecs = max(N_ROWS // 10, 10_000)
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (F.pmod(F.xxhash64("id", i), F.lit(2000)) / 1000.0 - 1.0).cast("float"),
    )
    vec_path = f"{PATH}_vecs"
    t = time.perf_counter()
    spark.range(n_vecs).select(F.col("id").alias("vec_id"), emb.alias("embedding")).write.mode(
        "overwrite"
    ).parquet(vec_path)
    print(f"generate+write {n_vecs} vectors: {time.perf_counter() - t:.1f}s")
    vecs = spark.read.parquet(vec_path)
    qset = vecs.limit(8)

    from dwh_spark.operators.similarity import (
        cosine_topk, cosine_topk_vectorized, lsh_topk,
    )

    timed("cosine_topk (fold expr, 8 queries x 1M vectors)", cosine_topk(vecs, qset))
    timed("cosine_topk_vectorized (numpy matmul)", cosine_topk_vectorized(vecs, qset))
    timed("lsh_topk (bucketed, 8 queries)", lsh_topk(vecs, qset))

    # ---- round-2 operators at scale ----
    from dwh_spark.operators.dedup import jaccard_pairs_hashed
    from dwh_spark.operators.packing import pack_by_budget
    from dwh_spark.operators.sampling import train_test_split
    from dwh_spark.operators.temporal import sweep_max_concurrency

    timed(
        "jaccard_pairs_hashed (xxhash64-keyed self-join)",
        jaccard_pairs_hashed(d, threshold=0.7),
    )
    timed(
        "pack_by_budget (2048-token packs, sharded prefix sum)",
        pack_by_budget(
            d.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(64))),
            F.size(F.split("text", " ")),
            budget=2048,
            shard="shard",
            order="doc_id",
        ).groupBy("shard", "pack_id").count(),
    )
    timed(
        "train_test_split (md5 buckets over all docs)",
        train_test_split(d, "doc_id").groupBy("split").count(),
    )
    # intervals: one per user from the event table (first..last activity)
    intervals = ev.groupBy("user_id").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )
    timed(
        "sweep_max_concurrency (two-phase prefix sum over user intervals)",
        sweep_max_concurrency(intervals),
    )

    # ---- marketplace replay at chain scale: 1M-message synthetic log ----
    # 100k tokens × 10 messages each (mint + a cycling op mix), columns
    # generated entirely on-executor — verifies the set-oriented replay
    # (one LWW shuffle per state table) holds at 15,000× the fixture.
    from dwh_spark.operators.transitions import (
        materialize_nfts, materialize_users, merge_nft_partials, nft_partial_state,
    )
    from dwh_spark.schemas import MARKETPLACE_EVENTS

    n_msgs = max(N_ROWS // 10, 100_000)
    n_tokens = n_msgs // 10
    i = F.col("id")
    tok = F.concat(F.lit("TOK"), (i % n_tokens).cast("string"))
    user = F.concat(F.lit("cosmos1u"), F.pmod(F.xxhash64("id"), F.lit(50_000)).cast("string"))
    is_mint = i < n_tokens  # first pass mints every token, then ops cycle
    op = F.element_at(
        F.array(*[F.lit(t) for t in (
            "MsgTransferNFT", "MsgPutNFTOnMarket", "MsgRemoveNFTFromMarket",
            "MsgBuyNFT", "MsgEditNFTMetadata",
        )]),
        (i % 5 + 1).cast("int"),
    )
    def make_log(token_col):
        return spark.range(n_msgs).select(
            i.alias("height"),
            F.lit(0).cast("int").alias("tx_index"), F.lit(0).cast("int").alias("msg_id"),
            F.concat(F.lit("H"), i.cast("string")).alias("tx_hash"),
            F.lit(0).cast("int").alias("code"),
            F.lit(200000).cast("long").alias("gas_wanted"),
            F.lit(100000).cast("long").alias("gas_used"),
            F.when(is_mint, F.lit("nft")).otherwise(F.lit("marketplace")).alias("route"),
            F.when(is_mint, F.lit("MsgMintNFT")).otherwise(op).alias("msg_type"),
            user.alias("signers"),
            token_col.alias("token_id"),
            F.lit("basic").alias("denom"),
            user.alias("sender"),
            user.alias("recipient"),
            user.alias("buyer"),
            F.lit(None).cast("string").alias("bidder"),
            F.lit(None).cast("string").alias("beneficiary"),
            F.concat((i % 1000).cast("string"), F.lit("token")).alias("price"),
            F.lit(None).cast("string").alias("buyout_price"),
            F.lit(None).cast("string").alias("opening_price"),
            F.lit(None).cast("string").alias("bid"),
            F.lit(None).cast("long").alias("amount"),
            F.lit(None).cast("timestamp").alias("time_to_sell"),
            F.concat(F.lit("http://m/"), token_col).alias("token_uri"),
            F.create_map().cast("map<string,string>").alias("event_attrs"),
            F.timestamp_micros(F.lit(1704067200000000) + i * 60_000_000).alias("ts"),
        )

    mlog = make_log(tok)
    mkt_path = f"{PATH}_mktlog"
    t = time.perf_counter()
    mlog.write.mode("overwrite").parquet(mkt_path)
    print(f"generate+write {n_msgs} marketplace messages: {time.perf_counter() - t:.1f}s")
    big_log = spark.read.parquet(mkt_path)
    got_schema = [(f.name, f.dataType.simpleString()) for f in big_log.schema.fields]
    want_schema = [(f.name, f.dataType.simpleString()) for f in MARKETPLACE_EVENTS.fields]
    assert got_schema == want_schema, f"generator drifted: {got_schema} != {want_schema}"
    timed(f"materialize_nfts (full replay, {n_tokens} tokens)", materialize_nfts(big_log))
    timed("materialize_users (address explode + agg)", materialize_users(big_log))
    # incremental path: two half-log partials merged — the streaming fold shape
    half = n_msgs // 2
    p1 = nft_partial_state(big_log.filter(F.col("height") < half))
    p2 = nft_partial_state(big_log.filter(F.col("height") >= half))
    timed("merge_nft_partials (two half-log partials)", merge_nft_partials(p1, p2))

    # ---- hot-key skew replay: power-law token activity ----
    # A real chain is power-law — one hot collection can take >20% of
    # all messages. The LWW fold is a groupBy of combinable max/min
    # aggregates, so the hot token is pre-reduced MAP-SIDE: each input
    # partition emits ONE partial row for the hot key and the reduce
    # task receives #partitions rows, not 270k — no salting needed,
    # unlike a window-rank formulation which would ship every hot-key
    # row to a single task. This run proves skewed ≈ uniform wall time.
    hot = F.pmod(F.xxhash64("id", F.lit(99)), F.lit(10)) < 3  # 27% of non-mints
    tok_skew = F.when(is_mint | ~hot, tok).otherwise(F.lit("TOK0"))
    mlog_skew = make_log(tok_skew)
    skew_path = f"{PATH}_mktlog_skew"
    t = time.perf_counter()
    mlog_skew.write.mode("overwrite").parquet(skew_path)
    print(f"generate+write {n_msgs} SKEWED marketplace messages: {time.perf_counter() - t:.1f}s")
    skew_log = spark.read.parquet(skew_path)
    n_hot = skew_log.filter(F.col("token_id") == "TOK0").count()
    print(f"hottest token share: {n_hot / n_msgs:.1%} of {n_msgs} messages")
    timed(
        f"materialize_nfts (SKEWED replay, hottest token {n_hot / n_msgs:.0%})",
        materialize_nfts(skew_log),
    )
    ps1 = nft_partial_state(skew_log.filter(F.col("height") < half))
    ps2 = nft_partial_state(skew_log.filter(F.col("height") >= half))
    timed("merge_nft_partials (SKEWED half-log partials)", merge_nft_partials(ps1, ps2))

    # ---- round-3 operators at scale ----
    from dwh_spark.operators.graph import pagerank
    from dwh_spark.operators.lm import doc_predictability
    from dwh_spark.operators.similarity import pq_adc_topk, pq_codebook
    from dwh_spark.operators.sketch import cms_build, cms_estimate

    # CMS: sketch the full event table; probe 10 fixed users
    sketch = cms_build(ev, "user_id")
    probes = spark.range(10).select(F.col("id").alias("user_id"))
    timed(
        "cms_build + 10 probes (4x64 cells over all events)",
        cms_estimate(sketch, probes, "user_id"),
    )
    # PQ: encode the 1M vectors, ADC-scan with 8 queries
    codebook = pq_codebook(vecs.limit(8))
    timed(
        "pq_adc_topk (encode 1M vectors + ADC scan, 8 queries)",
        pq_adc_topk(vecs, qset, codebook),
    )

    # Semantic dedup (SemDeDup shape) at 100x the fixture: 50k vectors
    # with 500 PLANTED exact clones (ids >= 49_500 repeat ids 0..499),
    # 256 IVF cells (~195 vectors/cell keeps the within-cell join
    # quadratic-in-cell only). Clones land in their twin's cell
    # (identical embedding -> identical centroid scores, deterministic
    # tie-break) and at threshold 0.999 ONLY clones prune: the count
    # must be exactly 500.
    from dwh_spark.operators.similarity import semantic_prune

    t = time.perf_counter()
    sem_src = spark.range(50_000).select(
        F.col("id").alias("vec_id"), F.pmod(F.col("id"), F.lit(49_500)).alias("src")
    )
    sem_emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (F.pmod(F.xxhash64("src", i), F.lit(2000)) / 1000.0 - 1.0).cast("float"),
    )
    sem_vecs = sem_src.select("vec_id", sem_emb.alias("embedding"))
    # Deterministic 256-centroid pick: vec_id in {0, 195, ..., 195*255}.
    # An unordered limit(256) is nondeterministic AND the centroid
    # subplan appears in multiple subtrees of the semantic_prune DAG
    # (both join sides + the flagged frame), so different evaluations
    # could in principle pick DIFFERENT centroid sets within one query;
    # the exact filter (plus persist) pins one set everywhere.
    sem_cents = sem_vecs.filter(
        (F.pmod(F.col("vec_id"), F.lit(195)) == 0) & (F.col("vec_id") < 195 * 256)
    ).persist()
    assert sem_cents.count() == 256
    n_pruned = (
        semantic_prune(sem_vecs, sem_cents, threshold=0.999)
        .filter("pruned")
        .count()
    )
    assert n_pruned == 500, n_pruned
    print(
        f"semantic_prune (50k vecs = 100x fixture, 256 cells, 500 planted "
        f"clones): {time.perf_counter() - t:.1f}s ({n_pruned} pruned, exact)"
    )

    # TRAINED-index semantic prune at 400x the fixture: 200k vectors,
    # 2000 planted exact clones (ids >= 198_000 repeat ids 0..1999).
    # train_semantic_cells derives n_cells = ceil(200k/512) = 391 from
    # the corpus (no pinned centroid list), trains one exact-mean
    # Lloyd step on a 10% deterministic hash-sample, and the prune
    # runs the BLAS path end-to-end (vectorized assignment + gram
    # pruning). Checks: exact clone recall at threshold 0.999 AND the
    # bounded-cell-population contract the docstring promises.
    from dwh_spark.operators.similarity import (
        assign_cells_vectorized,
        semantic_prune_vectorized,
        train_semantic_cells,
    )

    t = time.perf_counter()
    tr_src = spark.range(200_000).select(
        F.col("id").alias("vec_id"), F.pmod(F.col("id"), F.lit(198_000)).alias("src")
    )
    tr_vecs = tr_src.select("vec_id", sem_emb.alias("embedding")).persist()
    tr_vecs.count()
    tr_cents, tr_ncells = train_semantic_cells(
        tr_vecs, rows_per_cell=512, n_iter=1, train_fraction=0.1
    )
    tr_cents = tr_cents.persist()
    assert tr_cents.count() == tr_ncells == -(-200_000 // 512), tr_ncells
    train_s = time.perf_counter() - t
    t = time.perf_counter()
    tr_flagged = semantic_prune_vectorized(tr_vecs, tr_cents, threshold=0.999).persist()
    tr_pruned = tr_flagged.filter("pruned").count()
    assert tr_pruned == 2000, tr_pruned
    pops = (
        tr_flagged.groupBy("cell").count().agg(
            F.max("count").alias("mx"), F.avg("count").alias("av")
        ).collect()[0]
    )
    print(
        f"train_semantic_cells + semantic_prune_vectorized (200k vecs, "
        f"auto n_cells={tr_ncells}, 10% train sample): train {train_s:.1f}s, "
        f"prune {time.perf_counter() - t:.1f}s ({tr_pruned} pruned, exact; "
        f"cell pop max {pops['mx']} avg {pops['av']:.0f})"
    )
    # the vectorized assignment alone (the ADVICE-flagged fast path —
    # one broadcast matmul per Arrow batch, no O(n*n_cells) Catalyst folds)
    timed(
        f"assign_cells_vectorized (200k vecs x {tr_ncells} trained cells)",
        assign_cells_vectorized(tr_vecs, tr_cents).select("vec_id", "cell"),
    )
    tr_flagged.unpersist()
    tr_vecs.unpersist()

    # MEGA-CELL skew split (round 9, VERDICT r7 ask #6): 20k vectors
    # where 4000 (20%) share one base vector and therefore land in ONE
    # cell — 16M candidate pairs that the plain prune evaluates in a
    # single straggler task. discover_hot_cells (MG over cell ids)
    # must find exactly that cell, and semantic_prune_skew_split's
    # (cell, block_a, block_b) decomposition spreads the pairs over
    # n_blocks^2=64 even buckets. Measured local[32]: plain 80.7s ->
    # split 28.0s with IDENTICAL pruned counts — and the gap grows
    # quadratically with hot-cell size.
    from dwh_spark.operators.similarity import (
        assign_cells,
        discover_hot_cells,
        semantic_prune_skew_split,
    )

    sk_src = spark.range(20_000).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") >= 16_000, F.lit(9999))
        .otherwise(F.pmod(F.col("id"), F.lit(63)))
        .alias("fam"),
    )
    sk_emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            (F.pmod(F.xxhash64("fam", i), F.lit(2000)) / 1000.0 - 1.0)
            + (F.pmod(F.xxhash64("vec_id", i, F.lit(5)), F.lit(100)) / 50000.0)
        ).cast("float"),
    )
    sk_vecs = sk_src.select("vec_id", sk_emb.alias("embedding")).persist()
    sk_vecs.count()
    # one centroid per family: the first cold member of each family
    # (vec_id == fam for 0..62) plus the first hot row
    sk_cents = sk_vecs.filter(
        (F.col("vec_id") < 63) | (F.col("vec_id") == 16_000)
    ).persist()
    assert sk_cents.count() == 64
    t = time.perf_counter()
    sk_hot = discover_hot_cells(assign_cells(sk_vecs, sk_cents), hot_fraction=0.1)
    assert sk_hot == [16_000], sk_hot
    disc_s = time.perf_counter() - t
    t = time.perf_counter()
    sk_plain = (
        semantic_prune(sk_vecs, sk_cents, threshold=0.98)
        .agg(
            F.count(F.when(F.col("pruned"), 1)).alias("n"),
            F.sum(F.when(F.col("pruned"), F.col("vec_id"))).alias("s"),
        )
        .collect()[0]
    )
    plain_s = time.perf_counter() - t
    t = time.perf_counter()
    sk_split = (
        semantic_prune_skew_split(
            sk_vecs, sk_cents, threshold=0.98, hot_fraction=0.1, n_blocks=8
        )
        .agg(
            F.count(F.when(F.col("pruned"), 1)).alias("n"),
            F.sum(F.when(F.col("pruned"), F.col("vec_id"))).alias("s"),
        )
        .collect()[0]
    )
    split_s = time.perf_counter() - t
    assert (sk_plain["n"], sk_plain["s"]) == (sk_split["n"], sk_split["s"])
    print(
        f"mega-cell skew split (20k vecs, 4000-row hot cell = 16M pairs): "
        f"MG discovery {disc_s:.1f}s, plain prune {plain_s:.1f}s -> "
        f"block-split {split_s:.1f}s ({sk_split['n']} pruned, id-sum equal)"
    )
    sk_vecs.unpersist()
    sk_cents.unpersist()

    # The BLAS composition at a 10x bigger mega-cell (200k vectors —
    # the trained-prune smoke's scale — with 30% in one cell = 3.6B
    # candidate pair scores): the plain vectorized prune hands the
    # whole cell to ONE pandas worker (straggler + serial per-block
    # gram slabs); the skew-split variant scores per-BUCKET
    # cross-grams — bounded memory, n_blocks² parallel tasks. Measured
    # local[32]: 155.4s -> 17.7s, byte-identical flags. This is the
    # full 100 TB path: MG discovery + block split + BLAS scoring.
    from dwh_spark.operators.similarity import semantic_prune_vectorized_skew_split

    vk_src = spark.range(200_000).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") >= 140_000, F.lit(9999))
        .otherwise(F.pmod(F.col("id"), F.lit(63)))
        .alias("fam"),
    )
    vk_vecs = vk_src.select("vec_id", sk_emb.alias("embedding")).persist()
    vk_vecs.count()
    vk_cents = vk_vecs.filter(
        (F.col("vec_id") < 63) | (F.col("vec_id") == 140_000)
    ).persist()
    assert vk_cents.count() == 64
    t = time.perf_counter()
    vk_plain = (
        semantic_prune_vectorized(vk_vecs, vk_cents, threshold=0.98)
        .agg(
            F.count(F.when(F.col("pruned"), 1)).alias("n"),
            F.sum(F.when(F.col("pruned"), F.col("vec_id"))).alias("s"),
        )
        .collect()[0]
    )
    vp_s = time.perf_counter() - t
    t = time.perf_counter()
    vk_split = (
        semantic_prune_vectorized_skew_split(
            vk_vecs, vk_cents, threshold=0.98, hot_fraction=0.1, n_blocks=16
        )
        .agg(
            F.count(F.when(F.col("pruned"), 1)).alias("n"),
            F.sum(F.when(F.col("pruned"), F.col("vec_id"))).alias("s"),
        )
        .collect()[0]
    )
    vs_s = time.perf_counter() - t
    assert (vk_plain["n"], vk_plain["s"]) == (vk_split["n"], vk_split["s"])
    print(
        f"mega-cell BLAS skew split (200k vecs, 60k-row hot cell = 3.6B "
        f"pair scores): vec-plain {vp_s:.1f}s -> vec-split {vs_s:.1f}s "
        f"({vk_split['n']} pruned, id-sum equal)"
    )
    vk_vecs.unpersist()
    vk_cents.unpersist()
    # bigram LM over the synthetic doc corpus (500k docs at default)
    timed(
        "bigram_lm doc_predictability (train + score, one corpus)",
        doc_predictability(d.select("doc_id", "text")),
    )
    # PageRank: 5 rounds over a 1M-edge power-lawish synthetic graph
    n_edges = max(N_ROWS // 10, 100_000)
    graph = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("src"),
        # skewed destinations: low ids are hubs
        F.pmod(F.xxhash64("id", F.lit(7)), F.pmod(F.xxhash64("id", F.lit(13)), F.lit(99_999)) + 1).alias("dst"),
        F.lit(1).cast("long").alias("w"),
    ).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    # consume the rank column: under a bare count() Catalyst proves the
    # per-round left-join keys unique (they come from an Aggregate) and
    # eliminates the entire message-passing subtree
    timed(
        f"pagerank (5 rounds, ~{n_edges} raw edges, 100k nodes)",
        pagerank(graph, n_iter=5).agg(
            F.sum("rank").alias("mass"), F.count("*").alias("n")
        ),
    )

    # ---- round-5 operators at scale ----
    # n-gram inverted index over the synthetic doc corpus (500k docs at
    # default): one map-combinable shuffle on the gram hash, dup-hash
    # set broadcast back — the Lee-et-al substring-dedup scale shape
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size(F.split("text", " ")) - 5),
                lambda i: F.concat_ws(
                    " ", F.slice(F.split("text", " "), i + 1, 5)
                ),
            )
        ).alias("pos", "gram"),
    ).select(
        "doc_id", "pos",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    dup_h = grams.groupBy("h").count().filter(F.col("count") > 1).select("h")
    timed(
        f"ngram_dup_positions ({n_docs} docs, 5-gram inverted index)",
        grams.join(dup_h, "h").groupBy("doc_id").count(),
    )

    # Bloom pre-join prune: 100k build keys -> 16-word bit_or sketch,
    # N_ROWS probe keys checked map-side (4 hashes each, broadcast)
    build = spark.range(100_000).select(
        (F.xxhash64("id") % 1_000_000).alias("key")
    )
    jcol = F.explode(F.array(*[F.lit(j) for j in range(4)]))
    def bloom_bits(df, keycol):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("j").cast("string"),
                                  F.col(keycol).cast("string"))), 1, 15),
            16, 10,
        ).cast("long")
        return df.select(F.col(keycol), jcol.alias("j")).select(
            keycol, (h % 960).alias("bit")
        )
    words = bloom_bits(build, "key").groupBy(
        (F.col("bit") / 60).cast("long").alias("word")
    ).agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 60 AS INT))")).alias("mask"))
    probe = spark.range(N_ROWS).select((F.xxhash64("id", F.lit(3)) % 2_000_000).alias("key"))
    probe_bits = bloom_bits(probe, "key")
    passed = (
        probe_bits.join(F.broadcast(words),
                        (F.col("bit") / 60).cast("long") == F.col("word"), "left")
        .groupBy("key")
        .agg(F.bool_and(
            F.coalesce(F.expr("shiftright(mask, CAST(bit % 60 AS INT)) % 2"),
                       F.lit(0).cast("long")) == 1).alias("ok"))
        .filter(F.col("ok"))
    )
    timed(f"bloom_prejoin_prune ({N_ROWS} probe rows, 960-bit sketch)", passed)

    # ---- round-5/6 analytics at scale ----
    # TF-IDF 3-NN communities over the 500k-doc corpus: the
    # docs_tfidf_knn_communities shape — stopword-pruned inverted-index
    # pair join (term df caps fan-out), integer tf-idf weights, cosine
    # via dot/norm aggregates, per-doc top-3 window, star-contraction
    # components. No all-pairs stage anywhere.
    # dedicated sparse-vocab term table (the 400-word dedup corpus would
    # make any inverted index quadratic): 500k docs x 20 terms over a
    # 2M-term vocab => df ~= 5, the regime the stopword prune keeps a
    # real Zipf corpus in. Near-dup doc pairs share a seed so the 3-NN
    # graph has actual communities to find.
    n_docs_l = n_docs
    vocab_tf = 2_000_000
    tseed = F.when(
        F.col("id") % 40 < 2, (F.col("id") / 10).cast("long") * 10
    ).otherwise(F.col("id"))
    terms = (
        spark.range(n_docs_l)
        .select(
            F.col("id").alias("doc_id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(19)),
                    lambda i: F.pmod(F.xxhash64(tseed, i + 1000), F.lit(vocab_tf)),
                )
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_counts = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    kept = df_counts.filter(F.col("df") <= n_docs_l / 10)  # stopword prune
    weighted = terms.join(kept, "term").select(
        "doc_id", "term",
        (F.col("tf") * ((F.lit(n_docs_l) * 1000) / F.col("df")).cast("long")).alias("w"),
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    pairs = (
        weighted.alias("x")
        .join(weighted.alias("y"), "term")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.sum(F.col("x.w") * F.col("y.w")).alias("dot"))
    )
    from pyspark.sql.window import Window as W2

    scored = (
        pairs.join(norms.withColumnRenamed("doc_id", "a").withColumnRenamed("n2", "na"), "a")
        .join(norms.withColumnRenamed("doc_id", "b").withColumnRenamed("n2", "nb"), "b")
        .select(
            "a", "b",
            (
                F.col("dot")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cos"),
        )
    )
    sym_scored = scored.unionByName(
        scored.select(F.col("b").alias("a"), F.col("a").alias("b"), "cos")
    )
    knn = (
        sym_scored.withColumn(
            "rk",
            F.row_number().over(
                W2.partitionBy("a").orderBy(F.desc("cos"), F.asc("b"))
            ),
        )
        .filter(F.col("rk") <= 3)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    )
    from dwh_spark.operators.graph import connected_components

    # connected_components materializes eagerly (persist + count inside
    # the call), so time the whole step explicitly — passing it to
    # timed() would start the clock after the pair join already ran
    t = time.perf_counter()
    n_comp = connected_components(knn).groupBy("component").count().count()
    print(
        f"tfidf_knn_communities ({n_docs_l} docs, pruned index + 3-NN + CC): "
        f"{time.perf_counter() - t:.1f}s ({n_comp} components)"
    )

    # Gap-fill LOCF over the 10M-row event table: per-user daily grid
    # (sequence+explode — the only row amplification is the grid),
    # last_value(ignoreNulls) carry-forward window per user.
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("total"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    wl = (
        W2.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W2.unboundedPreceding, W2.currentRow)
    )
    filled = grid.join(daily, ["user_id", "day"], "left").select(
        "user_id", "day",
        F.last("total", ignorenulls=True).over(wl).alias("locf_total"),
    )
    timed(
        "gap_fill_locf (per-user daily grid + carry-forward window)",
        filled.groupBy("user_id").agg(F.sum("locf_total")),
    )

    # Distributed exact global rank over all 10M event values — the
    # operators/ranks.py two-phase shape (bin counts are the only
    # driver traffic; per-bin windows run in parallel). The stalest-20%
    # selection rides on this.
    from dwh_spark.operators.ranks import with_global_rank

    # with_global_rank runs two eager jobs (edges, bin counts) before
    # the lazy ranked frame, so time the whole step explicitly —
    # passing it to timed() would start the clock after most of the
    # work already ran (same trap as connected_components above)
    t = time.perf_counter()
    kept = (
        with_global_rank(ev.select("event_id", "value"), "value",
                         [F.asc("value"), F.asc("event_id")], nbins=128)
        .filter(F.col("rn") <= N_ROWS // 5)
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("chk"))
        .collect()[0]
    )
    print(
        f"with_global_rank (10M values, 128 equi-depth bins): "
        f"{time.perf_counter() - t:.1f}s ({kept['n']} rows kept)"
    )

    # Adaptive-nbins path (nbins=None auto-scales from the edge pass's
    # free row count): with rows_per_bin=50k the 10M input must pick
    # 200 bins, and the top-20% cut must keep exactly the SAME ROWS as
    # the pinned-128 run above (bin granularity never changes ranks) —
    # checked by event_id checksum, not just row count.
    t = time.perf_counter()
    meta_ad: dict = {}
    kept_ad = (
        with_global_rank(ev.select("event_id", "value"), "value",
                         [F.asc("value"), F.asc("event_id")],
                         rows_per_bin=50_000, meta_out=meta_ad)
        .filter(F.col("rn") <= N_ROWS // 5)
        .agg(F.count("*").alias("n"), F.sum("event_id").alias("chk"))
        .collect()[0]
    )
    assert meta_ad["nbins"] == min(4096, max(128, -(-N_ROWS // 50_000)))
    assert (kept_ad["n"], kept_ad["chk"]) == (kept["n"], kept["chk"]), (
        kept_ad, kept,
    )
    print(
        f"with_global_rank adaptive (10M values, rows_per_bin=50k -> "
        f"{meta_ad['nbins']} bins): {time.perf_counter() - t:.1f}s "
        f"({kept_ad['n']} rows kept, checksum matches pinned-128 cut)"
    )

    # Misra-Gries heavy-hitter discovery over all 10M event user_ids:
    # spillable JVM pre-counts, O(k)-state Python summaries, tiny merge
    from dwh_spark.operators.sketch import mg_merge, mg_partition_summaries

    t = time.perf_counter()
    mg_counters, mg_err, mg_n = mg_merge(
        mg_partition_summaries(ev, "user_id", "event_id", k=64, n_parts=32)
    )
    n_tracked = mg_counters.count()
    print(
        f"mg_heavy_hitters ({N_ROWS} rows, k=64 x 32 buckets): "
        f"{time.perf_counter() - t:.1f}s ({n_tracked} tracked, "
        f"err_bound {mg_err} <= n/(k+1) {mg_n // 65})"
    )

    # MRL sketch build over all event values: per-partition sketches in
    # one mapInPandas pass, tiny rows collected and merged driver-side —
    # the events_mrl_quantile_audit scale path at 100x.
    from dwh_spark.operators.quantile_sketch import MRLSketch

    t = time.perf_counter()
    sk_schema = "pid long, n long, err_bound long, weight long, vals array<double>"

    def build_sketch(batches):
        import pandas as pd
        from pyspark import TaskContext

        s = MRLSketch(512)
        for pdf in batches:
            s.insert_batch(pdf["value"].to_numpy())
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame(
            [(pid, s.n, s.err_bound, w, vals) for w, vals in s.to_rows()]
            or [(pid, 0, 0, 0, [])],
            columns=["pid", "n", "err_bound", "weight", "vals"],
        )

    rows = ev.select("value").mapInPandas(build_sketch, sk_schema).collect()
    parts: dict = {}
    meta: dict = {}
    for row in rows:
        parts.setdefault(row["pid"], []).append((row["weight"], list(row["vals"])))
        meta[row["pid"]] = (row["n"], row["err_bound"])
    merged = MRLSketch(512)
    for pid in sorted(parts):
        n_p, err_p = meta[pid]
        merged.merge(MRLSketch.from_rows(parts[pid], 512, n_p, err_p))
    qs = {q: merged.quantile(q) for q in (0.5, 0.9, 0.99)}
    print(
        f"mrl_sketch_build ({N_ROWS} values, k=512): "
        f"{time.perf_counter() - t:.1f}s (n={merged.n}, "
        f"bound={merged.audit_bound()}, q50={qs[0.5]:.2f})"
    )

    spark.stop()


def append_log_soak(
    n_batches: int = 50, docs_per_batch: int = 400, compact_every: int = 10
) -> None:
    """Compaction-under-ingest soak for ParquetAppendLog (VERDICT r9
    #6): drain a 50-micro-batch near-dup ingest stream with periodic
    ``compact()`` scheduled THROUGH the fold's maintenance seam, then
    a second pass with per-batch ``expire()`` retention. Asserts (a)
    the active segment count stays bounded (compaction keeps up with
    ingest), (b) the drained output equals the batch earlier-partners
    oracle, (c) under retention, stored state is bounded by the
    horizon and the output equals the horizon-limited oracle."""
    import shutil

    import pandas as pd

    from dwh_spark.operators.dedup import minhash_near_duplicates
    from dwh_spark.streaming.docs_ingest import (
        read_ingest_results,
        run_minhash_ingest,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog

    spark = get_spark("append-log-soak")
    spark.sparkContext.setLogLevel("ERROR")
    base = "/tmp/dwh_append_log_soak"
    shutil.rmtree(base, ignore_errors=True)

    # synthetic id-ordered corpus with near-dup families that span
    # batches at two distances: 2 batches back (inside any sane
    # retention horizon) and 7.5 batches back (outside the phase-B
    # horizon, so retention visibly changes the answer). A near-copy
    # shares its origin's first 19 words and changes the last one:
    # 17/19 common 3-shingles = Jaccard 0.895 >= 0.7.
    n_docs = n_batches * docs_per_batch
    far, near = docs_per_batch * 15 // 2, docs_per_batch * 2

    def words(d: int) -> list[str]:
        if d >= far and d % 17 == 0:
            return words(d - far)[:19] + [f"v{d}"]
        if d >= near and d % 23 == 5:
            return words(d - near)[:19] + [f"v{d}"]
        return [f"w{d}_{j}" for j in range(20)]

    t0 = time.perf_counter()
    input_dir = os.path.join(base, "input")
    os.makedirs(input_dir)
    for b in range(n_batches):
        ids = range(b * docs_per_batch, (b + 1) * docs_per_batch)
        pdf = pd.DataFrame(
            {"doc_id": list(ids), "text": [" ".join(words(d)) for d in ids]}
        )
        path = os.path.join(input_dir, f"batch{b:03d}.parquet")
        pdf.to_parquet(path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    print(f"generate {n_docs} docs / {n_batches} batch files: "
          f"{time.perf_counter() - t0:.1f}s")
    docs = spark.read.parquet(input_dir).select("doc_id", "text")

    # batch oracle: earlier near-dup partners per doc (same banding)
    pairs = minhash_near_duplicates(docs, threshold=0.7).select(
        "id_a", "id_b"
    ).toPandas()
    bdiff = pairs.id_b // docs_per_batch - pairs.id_a // docs_per_batch

    def oracle(horizon: int | None) -> set[tuple[int, int]]:
        p = pairs if horizon is None else pairs[bdiff <= horizon]
        return set(p.groupby("id_b").size().items())

    def drive(tag: str, maintenance, horizon: int | None) -> dict:
        stores = {
            k: ParquetAppendLog(os.path.join(base, f"{tag}_{k}"), write_partitions=1)
            for k in ("bands", "docs")
        }
        out_dir = os.path.join(base, f"{tag}_out")
        seg_counts: list[int] = []

        def maint(batch_id: int) -> None:
            maintenance(batch_id, stores)
            seg_counts.append(
                max(len(s._read_manifest()["segments"]) for s in stores.values())
            )

        t = time.perf_counter()
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        run_minhash_ingest(
            stream,
            stores["bands"],
            stores["docs"],
            out_dir,
            os.path.join(base, f"{tag}_ckpt"),
            maintenance=maint,
        )
        dt = time.perf_counter() - t
        got = {
            (r["doc_id"], r["n_earlier_dups"])
            for r in read_ingest_results(spark, out_dir).collect()
        }
        want = oracle(horizon)
        assert got == want, (
            f"{tag}: drained output != batch oracle "
            f"({len(got ^ want)} differing rows)"
        )
        return {
            "sec": dt,
            "max_segments": max(seg_counts),
            "flagged": len(got),
            "state_rows": stores["docs"].current(spark).count(),
        }

    def compacting(batch_id: int, stores: dict) -> None:
        if batch_id % compact_every == compact_every - 1:
            for s in stores.values():
                s.compact(spark)

    r = drive("cmp", compacting, horizon=None)
    assert r["max_segments"] <= compact_every + 1, r
    assert r["state_rows"] == n_docs
    print(
        f"append_log soak A — compact every {compact_every} of {n_batches} "
        f"batches: {r['sec']:.1f}s, max active segments {r['max_segments']} "
        f"(bound {compact_every + 1}), {r['flagged']} docs flagged == batch "
        f"oracle, state {r['state_rows']} rows"
    )

    horizon = 5  # batches kept; the far (7.5-batch) families age out

    def expiring(batch_id: int, stores: dict) -> None:
        for s in stores.values():
            s.expire(batch_id - horizon + 1)

    r = drive("exp", expiring, horizon=horizon)
    assert r["max_segments"] <= horizon + 1, r
    assert r["state_rows"] == horizon * docs_per_batch
    assert r["flagged"] < len(oracle(None)), "horizon did not change the answer"
    print(
        f"append_log soak B — expire to a {horizon}-batch horizon: "
        f"{r['sec']:.1f}s, max active segments {r['max_segments']} "
        f"(bound {horizon + 1}), {r['flagged']} docs flagged == horizon "
        f"oracle (full oracle {len(oracle(None))}), "
        f"state bounded at {r['state_rows']} rows"
    )
    spark.stop()


def triage_smoke(n_corpus: int = 500_000, n_batch: int = 5_000) -> None:
    """Per-ingest cost of the daily-delta triage at 100x bench scale:
    500k-doc standing corpus, 5k-doc delta. The corpus-sized work
    (quality filter + canon + band index) is the INDEX BUILD, paid
    once; the triage itself touches the batch plus index collisions.
    Measures both so the asymmetry is on record."""
    from pyspark.sql import functions as F

    from dwh_spark.operators.dedup import band_index, corpus_ingest_triage

    spark = get_spark("triage-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    total = n_corpus + n_batch

    # same doc generator as the dedup smoke: ~60-word docs, 10% near-
    # copies (shared prefix, one divergent tail word), 5% exact copies
    words = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("base"), i), F.lit(50_000)).cast("string"),
        ),
    )
    # offsets chosen so a copy's base is always a PLAIN doc (no copy
    # chains): base % 20 != 3 and base % 10 != 4 for both masks
    src = spark.range(total).select(
        F.col("id").alias("doc_id"),
        F.when(
            (F.col("id") % 20 == 3) & (F.col("id") >= 40_001),
            F.col("id") - 40_001,  # exact copy of a plain doc
        )
        .when(
            (F.col("id") % 10 == 4) & (F.col("id") >= 20_002),
            F.col("id") - 20_002,  # near-copy base (plain doc)
        )
        .otherwise(F.col("id"))
        .alias("base"),
        ((F.col("id") % 10 == 4) & (F.col("id") >= 20_002)).alias("variant"),
        (F.col("id") % 50 == 9).alias("junk"),
    )
    docs = src.select(
        "doc_id",
        F.when(F.col("junk"), F.lit("tiny doc"))
        .when(
            F.col("variant"),
            F.concat_ws(" ", F.concat(F.slice(words, 1, 59), F.array(F.concat(F.lit("v"), F.col("doc_id").cast("string"))))),
        )
        .otherwise(F.concat_ws(" ", words))
        .alias("text"),
    ).persist()
    docs.count()
    corpus = docs.filter(F.col("doc_id") < n_corpus)
    batch = docs.filter(F.col("doc_id") >= n_corpus)
    quality = lambda c: F.when(F.length(c) > 50, F.lit(1.0)).otherwise(F.lit(0.0))

    t = time.perf_counter()
    corpus_kept = corpus.filter(quality(F.col("text")) >= 0.5).persist()
    n_idx = band_index(corpus_kept).count()  # the stored-index build cost
    build_s = time.perf_counter() - t

    t = time.perf_counter()
    counts = {
        r["decision"]: r["n"]
        for r in corpus_ingest_triage(corpus_kept, batch, quality)
        .groupBy("decision")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    triage_s = time.perf_counter() - t
    print(
        f"triage smoke ({n_corpus} corpus / {n_batch} batch): corpus index "
        f"build ONCE {build_s:.1f}s ({n_idx} band rows); per-ingest triage "
        f"{triage_s:.1f}s -> {counts} (note: this in-process run re-derives "
        f"the canon + band index inside the triage plan — with the indexes "
        f"STORED, the per-ingest cost is the probe side alone)"
    )
    docs.unpersist()
    corpus_kept.unpersist()
    spark.stop()


def containment_smoke(n_docs: int = 500_000, n_batch: int = 5_000) -> None:
    """Containment dedup at 100x bench scale (VERDICT r10 #4): the
    docstring's 100 TB forms, actually run. 10% of docs are 15-word
    FRAGMENTS of a longer doc (containment 1.0, Jaccard ~0.22 —
    invisible to the MinHash band machinery by construction). Times
    three shapes over the same corpus:

    1. the stop-gram-capped batch form (``max_doc_freq`` bounds the
       per-shingle pair blowup at cap² instead of corpus²),
    2. the bucketed composition (``bucket='source'``: the bucket key
       joins beside the shingle hash, so the inverted-index fan-out is
       bounded by the largest bucket),
    3. the incremental ingest probe (``containment_incremental``:
       batch postings BROADCAST into the stored posting index,
       O(batch_shingles + collisions) per day).
    """
    from pyspark.sql import functions as F

    from dwh_spark.operators.dedup import containment_incremental, containment_pairs

    spark = get_spark("containment-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    total = n_docs + n_batch

    words = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("base"), i), F.lit(50_000)).cast("string"),
        ),
    )
    # fragment ids map onto PLAIN bases: (id - 30_003) % 10 == 3, so a
    # fragment's source is never itself a fragment (no chains; the
    # modulus-aliasing trap the triage smoke documents)
    src = spark.range(total).select(
        F.col("id").alias("doc_id"),
        F.when(
            (F.col("id") % 10 == 6) & (F.col("id") >= 30_003),
            F.col("id") - 30_003,
        )
        .otherwise(F.col("id"))
        .alias("base"),
        ((F.col("id") % 10 == 6) & (F.col("id") >= 30_003)).alias("frag"),
    )
    docs = src.select(
        "doc_id",
        F.when(F.col("frag"), F.concat_ws(" ", F.slice(words, 1, 15)))
        .otherwise(F.concat_ws(" ", words))
        .alias("text"),
        F.pmod(F.xxhash64(F.col("base")), F.lit(1_000)).alias("source"),
    ).persist()
    n = docs.count()
    corpus = docs.filter(F.col("doc_id") < n_docs)

    t = time.perf_counter()
    n_capped = corpus.transform(
        lambda d: containment_pairs(d, max_doc_freq=50)
    ).count()
    capped_s = time.perf_counter() - t

    t = time.perf_counter()
    n_bucketed = corpus.transform(
        lambda d: containment_pairs(d, max_doc_freq=50, bucket="source")
    ).count()
    bucketed_s = time.perf_counter() - t

    batch = docs.filter(F.col("doc_id") >= n_docs)
    t = time.perf_counter()
    n_inc = containment_incremental(corpus, batch, max_doc_freq=50).count()
    inc_s = time.perf_counter() - t

    print(
        f"containment smoke ({n} docs, ~10% planted fragments): capped "
        f"batch {capped_s:.1f}s ({n_capped} pairs); bucketed same-source "
        f"{bucketed_s:.1f}s ({n_bucketed} pairs); incremental probe "
        f"{n_batch}-doc batch {inc_s:.1f}s ({n_inc} pairs) — fragments sit "
        f"in their base's bucket, so the bucketed form keeps every planted "
        f"pair while cross-bucket fan-out is pruned inside the join"
    )
    docs.unpersist()
    spark.stop()


def phash_ingest_smoke(n_corpus: int = 100_000, n_batch: int = 1_000) -> None:
    """Ingest-cost asymmetry for the incremental PERCEPTUAL path: with
    the corpus dHash fingerprint index STORED (decoded once at ingest
    time, 16 bytes/image thereafter), screening a daily image batch
    costs O(batch decodes + index scan + block collisions) — while the
    naive alternative (re-running the batch near-dup pass over corpus
    ∪ batch) re-DECODES the entire corpus per ingest. Measures both at
    a 100k-image corpus / 1k-image batch of planted 2× BMP re-encodes
    (dHash-invariant by construction, so every batch image must hit
    its base)."""
    from dwh_spark.multimodal.images import sniff_format
    from dwh_spark.multimodal.perceptual import (
        dhash_frame,
        perceptual_incremental_ingest,
        perceptual_near_dup_pairs,
    )

    spark = get_spark("phash-ingest-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import pandas as pd

            from dwh_spark.multimodal import codecs

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        out.append((i, codecs.png_encode(md5_grid(f"{i}"))))
                    else:
                        img = md5_grid(f"{base_of(i)}")
                        img = img.repeat(2, axis=0).repeat(2, axis=1)
                        out.append((10_000_000 + i, codecs.bmp_encode(img)))
                yield pd.DataFrame(out, columns=["image_id", "content"])

        return ids.mapInPandas(run, "image_id long, content binary").withColumn(
            "format", sniff_format(F.col("content"))
        )

    corpus = gen("base", n_corpus, None)
    batch = gen("reenc", n_batch, lambda i: (i * 97) % n_corpus)

    root = scratch_dir("dwh_phash_smoke_")
    t = time.perf_counter()
    dhash_frame(corpus).write.parquet(root + "/index")
    build_s = time.perf_counter() - t
    index = spark.read.parquet(root + "/index")

    t = time.perf_counter()
    n_hits = perceptual_incremental_ingest(index, batch).count()
    probe_s = time.perf_counter() - t

    t = time.perf_counter()
    n_naive = (
        perceptual_near_dup_pairs(corpus.unionByName(batch))
        .filter(F.col("id_b") >= 10_000_000)
        .count()
    )
    naive_s = time.perf_counter() - t

    print(
        f"phash ingest smoke ({n_corpus} corpus images, {n_batch}-image "
        f"re-encode batch): fingerprint index build ONCE {build_s:.1f}s "
        f"(decode-bound, 16 B/image stored); incremental probe {probe_s:.1f}s "
        f"({n_hits} matches — only the batch decoded, index scanned once); "
        f"naive full re-pair {naive_s:.1f}s ({n_naive} batch matches — "
        f"re-decodes the whole corpus every ingest). Per-day asymmetry "
        f"{naive_s / max(probe_s, 1e-9):.1f}x"
    )
    spark.stop()


def semantic_ingest_smoke(n_corpus: int = 200_000, n_batch: int = 1_000) -> None:
    """Ingest-cost asymmetry for the incremental semantic path: with
    the corpus cell index STORED (built once), screening a daily
    batch costs O(batch + probed cells) — assign the batch against
    the broadcast centroids, probe the index within-cell — while the
    naive alternative (re-running the full semantic prune over
    corpus ∪ batch) pays the whole corpus again per ingest. Measures
    both at a 200k corpus / 1k batch."""
    from dwh_spark.operators.similarity import (
        assign_cells,
        semantic_incremental_near_dups,
        semantic_prune,
    )

    spark = get_spark("semantic-ingest-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    total = n_corpus + n_batch
    src = spark.range(total).select(
        F.col("id").alias("vec_id"), F.pmod(F.col("id"), F.lit(997)).alias("fam")
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            (F.pmod(F.xxhash64("fam", i), F.lit(2000)) / 1000.0 - 1.0)
            + (F.pmod(F.xxhash64("vec_id", i, F.lit(5)), F.lit(100)) / 50000.0)
        ).cast("float"),
    )
    vecs = src.select("vec_id", emb.alias("embedding")).persist()
    corpus = vecs.filter(F.col("vec_id") < n_corpus)
    batch = vecs.filter(F.col("vec_id") >= n_corpus)
    centroids = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(256)
        .persist()
    )
    centroids.count()

    t = time.perf_counter()
    index = assign_cells(corpus, centroids).persist()
    index.count()
    build_s = time.perf_counter() - t

    t = time.perf_counter()
    n_flagged = (
        semantic_incremental_near_dups(index, batch, centroids, threshold=0.98)
        .select("new_id")
        .distinct()
        .count()
    )
    probe_s = time.perf_counter() - t

    t = time.perf_counter()
    naive = (
        semantic_prune(vecs, centroids, threshold=0.98)
        .filter(F.col("pruned") & (F.col("vec_id") >= n_corpus))
        .count()
    )
    naive_s = time.perf_counter() - t
    print(
        f"semantic ingest smoke ({n_corpus} corpus / {n_batch} batch, 256 "
        f"cells): index build ONCE {build_s:.1f}s; per-ingest screen "
        f"{probe_s:.1f}s ({n_flagged} batch vectors flagged) vs naive "
        f"full re-prune {naive_s:.1f}s ({naive} flagged) — the stored-"
        f"index probe is the only per-ingest cost"
    )
    spark.stop()




def audio_fp_ingest_smoke(n_corpus: int = 100_000, n_batch: int = 1_000) -> None:
    """Ingest-cost asymmetry for the incremental AUDIO perceptual path
    (VERDICT r11 next #6 — the audio twin of phash_ingest_smoke): with
    the corpus energy-fingerprint index STORED (decoded once, 16
    bytes/clip thereafter), screening a daily clip batch costs
    O(batch decodes + index scan + block collisions) — the naive
    alternative re-DECODES every corpus WAV per ingest. Planted batch:
    exact-2x-gain copies (fingerprint-identical by construction, so
    every batch clip must hit its base)."""
    from dwh_spark.multimodal.audio_fp import (
        audio_fp_frame,
        audio_fp_incremental_ingest,
        audio_fp_near_dup_pairs,
    )

    spark = get_spark("audio-fp-ingest-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import numpy as np
            import pandas as pd

            from dwh_spark.multimodal.audio import wav_encode

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        s = md5_clip(f"{i}", range(57))
                        out.append((i, wav_encode(s, 1000)))
                    else:
                        s = md5_clip(f"{base_of(i)}", range(57))
                        s2 = (s * 2).astype(np.int16)
                        out.append((10_000_000 + i, wav_encode(s2, 1000)))
                yield pd.DataFrame(out, columns=["audio_id", "content"])

        return ids.mapInPandas(run, "audio_id long, content binary")

    corpus = gen("base", n_corpus, None)
    batch = gen("gain", n_batch, lambda i: (i * 97) % n_corpus)

    root = scratch_dir("dwh_audio_fp_smoke_")
    t = time.perf_counter()
    audio_fp_frame(corpus).write.parquet(root + "/index")
    build_s = time.perf_counter() - t
    index = spark.read.parquet(root + "/index")

    t = time.perf_counter()
    n_hits = audio_fp_incremental_ingest(index, batch).count()
    probe_s = time.perf_counter() - t

    t = time.perf_counter()
    n_naive = (
        audio_fp_near_dup_pairs(corpus.unionByName(batch))
        .filter(F.col("id_b") >= 10_000_000)
        .count()
    )
    naive_s = time.perf_counter() - t

    print(
        f"audio fp ingest smoke ({n_corpus} corpus clips, {n_batch}-clip "
        f"gain batch): fingerprint index build ONCE {build_s:.1f}s "
        f"(decode-bound, 16 B/clip stored); incremental probe {probe_s:.1f}s "
        f"({n_hits} matches — only the batch decoded, index scanned once); "
        f"naive full re-pair {naive_s:.1f}s ({n_naive} batch matches — "
        f"re-decodes the whole corpus every ingest). Per-day asymmetry "
        f"{naive_s / max(probe_s, 1e-9):.1f}x"
    )
    spark.stop()


def video_phash_ingest_smoke(
    n_corpus: int = 200_000, n_frames: int = 10, n_batch: int = 1_000
) -> None:
    """Ingest-cost asymmetry for the PER-FRAME video index (VERDICT
    r11 next #6): the stored index grows per FRAME — at 200k 10-frame
    videos it holds 2M fingerprint rows — and the probe must stay
    O(batch frames): the batch's per-frame blocks are broadcast into
    the index, which is scanned once and never re-decoded. The naive
    alternative re-decodes all 2M corpus frames per ingest. Planted
    batch: 2x nearest-upscale re-encodes (per-frame dHash-invariant,
    every batch video must out-vote min_frames on its base). Frame
    grids come from one md5 digest per frame (64 of its 128 bits fill
    the 8x8 cells) so fixture generation stays decode-dominated, not
    hash-dominated."""
    from dwh_spark.multimodal.perceptual import (
        video_dhash_frames,
        video_perceptual_incremental_ingest,
        video_perceptual_near_dups,
    )

    spark = get_spark("video-phash-ingest-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import hashlib

            import numpy as np
            import pandas as pd

            from dwh_spark.multimodal import codecs

            def grid(b: int, f: int) -> "np.ndarray":
                bits = np.frombuffer(
                    hashlib.md5(f"{b}:{f}".encode()).digest()[:8], np.uint8
                )
                g = ((bits[:, None] >> np.arange(8)) & 1).astype(np.uint8)
                rgb = np.where(g[:, :, None] == 1, 200, 50).astype(np.uint8)
                return np.repeat(rgb, 3, axis=2)

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    b = i if which == "base" else base_of(i)
                    frames = np.stack([grid(b, f) for f in range(n_frames)])
                    if which != "base":
                        frames = frames.repeat(2, axis=1).repeat(2, axis=2)
                        i += 10_000_000
                    out.append((i, n_frames, codecs.avi_encode(frames)))
                yield pd.DataFrame(
                    out, columns=["video_id", "n_frames", "content"]
                )

        return ids.mapInPandas(run, "video_id long, n_frames long, content binary")

    corpus = gen("base", n_corpus, None)
    batch = gen("reenc", n_batch, lambda i: (i * 97) % n_corpus)

    root = scratch_dir("dwh_video_phash_smoke_")
    t = time.perf_counter()
    video_dhash_frames(corpus).write.parquet(root + "/index")
    build_s = time.perf_counter() - t
    index = spark.read.parquet(root + "/index")
    n_index_rows = index.count()

    t = time.perf_counter()
    n_hits = video_perceptual_incremental_ingest(index, batch).count()
    probe_s = time.perf_counter() - t

    t = time.perf_counter()
    n_naive = (
        video_perceptual_near_dups(corpus.unionByName(batch))
        .filter(F.col("id_b") >= 10_000_000)
        .count()
    )
    naive_s = time.perf_counter() - t

    print(
        f"video phash ingest smoke ({n_corpus} corpus videos x {n_frames} "
        f"frames = {n_index_rows} stored fingerprint rows, {n_batch}-video "
        f"re-encode batch): per-frame index build ONCE {build_s:.1f}s "
        f"(decode-bound, 16 B/frame stored); incremental probe {probe_s:.1f}s "
        f"({n_hits} video matches — only the batch decoded, the index "
        f"scanned once); naive full re-pair {naive_s:.1f}s ({n_naive} batch "
        f"matches — re-decodes every corpus frame per ingest). Per-day "
        f"asymmetry {naive_s / max(probe_s, 1e-9):.1f}x"
    )
    spark.stop()


def audio_offset_ingest_smoke(n_corpus: int = 100_000, n_batch: int = 1_000) -> None:
    """Ingest-cost asymmetry for the OFFSET-TOLERANT audio path: the
    stored Haitsma-Kalker lookup table holds ~25 subfingerprint rows
    per clip (12 bytes each) — at 100k clips that is ~2.5M rows — and
    the probe must stay O(batch): batch words BROADCAST into the
    table, scanned once, never re-decoded. The naive alternative
    re-decodes the corpus and re-runs the full pair vote per ingest.
    Planted batch: HEAD-TRIMMED copies (8 windows cut) — the copy
    class the whole-clip hash misses entirely; every batch clip must
    match its base at offset 8."""
    from dwh_spark.multimodal.audio_fp import (
        audio_offset_near_dup_pairs,
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
    )

    spark = get_spark("audio-offset-ingest-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import pandas as pd

            from dwh_spark.multimodal.audio import wav_encode

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        s = md5_clip(f"{i}", range(57))
                        out.append((i, wav_encode(s, 1000)))
                    else:
                        trimmed = md5_clip(f"{base_of(i)}", range(8, 57))
                        out.append((10_000_000 + i, wav_encode(trimmed, 1000)))
                yield pd.DataFrame(out, columns=["audio_id", "content"])

        return ids.mapInPandas(run, "audio_id long, content binary")

    corpus = gen("base", n_corpus, None)
    batch = gen("trim", n_batch, lambda i: (i * 97) % n_corpus)

    root = scratch_dir("dwh_audio_offset_smoke_")
    t = time.perf_counter()
    audio_subfingerprint_frame(corpus).write.parquet(root + "/index")
    build_s = time.perf_counter() - t
    index = spark.read.parquet(root + "/index")
    n_index_rows = index.count()

    t = time.perf_counter()
    n_hits = (
        audio_offset_vote_probe(index, audio_subfingerprint_frame(batch))
        .select("batch_id", "index_id")
        .distinct()
        .count()
    )
    probe_s = time.perf_counter() - t

    t = time.perf_counter()
    n_naive = (
        audio_offset_near_dup_pairs(corpus.unionByName(batch))
        .filter(F.col("id_b") >= 10_000_000)
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    naive_s = time.perf_counter() - t

    print(
        f"audio offset ingest smoke ({n_corpus} corpus clips = "
        f"{n_index_rows} stored lookup rows, {n_batch}-clip HEAD-TRIM "
        f"batch): lookup table build ONCE {build_s:.1f}s (decode-bound, "
        f"~12 B/position stored); incremental probe {probe_s:.1f}s "
        f"({n_hits} matches at offset 8 — only the batch decoded, table "
        f"scanned once); naive full re-pair {naive_s:.1f}s ({n_naive} "
        f"batch matches — re-decodes the whole corpus every ingest). "
        f"Per-day asymmetry {naive_s / max(probe_s, 1e-9):.1f}x"
    )
    spark.stop()


def audio_snippet_smoke(n_corpus: int = 100_000, n_queries: int = 200) -> None:
    """Retrieval-cost shape for SNIPPET identification (VERDICT r12
    next #5): the same stored H-K lookup table the offset ingest
    maintains (~25 rows/clip = 2.5M rows at 100k clips) doubles as
    the retrieval index — a 40-window snippet (8 subfingerprint
    words) is BROADCAST into the table, scanned once, and votes on
    its relative offset; the corpus is never re-decoded per query
    set. The naive alternative decodes the corpus and runs the full
    pair vote. Planted queries: windows [k, k+40) of a random base
    clip, k per query — every snippet must identify its base at
    offset k (found == planted asserted)."""
    from dwh_spark.multimodal.audio_fp import (
        audio_offset_near_dup_pairs,
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
    )

    spark = get_spark("audio-snippet-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of, start_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import pandas as pd

            from dwh_spark.multimodal.audio import wav_encode

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        s = md5_clip(f"{i}", range(57))
                        out.append((i, wav_encode(s, 1000)))
                    else:
                        k = start_of(i)
                        snip = md5_clip(f"{base_of(i)}", range(k, k + 40))
                        out.append((10_000_000 + i, wav_encode(snip, 1000)))
                yield pd.DataFrame(out, columns=["audio_id", "content"])

        return ids.mapInPandas(run, "audio_id long, content binary")

    corpus = gen("base", n_corpus, None, None)
    start_of = lambda i: (i * 7) % 17  # noqa: E731 — snippet start window
    queries = gen("snip", n_queries, lambda i: (i * 97) % n_corpus, start_of)

    root = scratch_dir("dwh_audio_snippet_smoke_")
    t = time.perf_counter()
    audio_subfingerprint_frame(corpus).write.parquet(root + "/index")
    build_s = time.perf_counter() - t
    index = spark.read.parquet(root + "/index")
    n_index_rows = index.count()

    t = time.perf_counter()
    hits = (
        audio_offset_vote_probe(
            index, audio_subfingerprint_frame(queries), min_matches=5
        )
        .select("batch_id", "index_id", "offset")
        .collect()
    )
    probe_s = time.perf_counter() - t
    want = {
        (10_000_000 + i, (i * 97) % n_corpus, (i * 7) % 17)
        for i in range(n_queries)
    }
    got = {(r["batch_id"], r["index_id"], r["offset"]) for r in hits}
    assert want <= got, f"missing {sorted(want - got)[:5]}"
    n_extra = len(got - want)

    t = time.perf_counter()
    n_naive = (
        audio_offset_near_dup_pairs(corpus.unionByName(queries))
        .filter(F.col("id_b") >= 10_000_000)
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    naive_s = time.perf_counter() - t

    print(
        f"audio snippet smoke ({n_corpus} corpus clips = {n_index_rows} "
        f"stored lookup rows, {n_queries} 40-window snippets): index "
        f"build ONCE {build_s:.1f}s; snippet probe {probe_s:.1f}s (all "
        f"{n_queries} planted snippets identified at their planted "
        f"offsets, {n_extra} extra hits — snippets broadcast, table "
        f"scanned once, corpus never re-decoded); naive full re-pair "
        f"{naive_s:.1f}s ({n_naive} matches). Per-query-set asymmetry "
        f"{naive_s / max(probe_s, 1e-9):.1f}x"
    )
    spark.stop()


def video_snippet_smoke(
    n_corpus: int = 200_000, n_frames: int = 10, n_queries: int = 200
) -> None:
    """Retrieval-cost shape for VIDEO scene identification: the same
    stored per-frame fingerprint index the offset ingest maintains
    (2M rows at 200k 10-frame videos) doubles as the retrieval index
    — a 5-frame excerpt is BROADCAST into it and votes on its
    relative offset. Planted queries: frames [k, k+5) of a random
    base video — every excerpt must identify its base at offset k
    (found == planted asserted). Naive alternative re-decodes all 2M
    corpus frames per query set."""
    from dwh_spark.multimodal.perceptual import (
        video_dhash_frames,
        video_offset_near_dups,
        video_offset_vote_probe,
    )

    spark = get_spark("video-snippet-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of, start_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import hashlib

            import numpy as np
            import pandas as pd

            from dwh_spark.multimodal import codecs

            def grid(b: int, f: int) -> "np.ndarray":
                bits = np.frombuffer(
                    hashlib.md5(f"{b}:{f}".encode()).digest()[:8], np.uint8
                )
                cells = np.unpackbits(bits).reshape(8, 8)
                rgb = np.where(cells[:, :, None] == 1, 200, 50).astype(np.uint8)
                return np.repeat(rgb, 3, axis=2)

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        frames = [grid(i, f) for f in range(n_frames)]
                        out.append(
                            (i, len(frames), codecs.avi_encode(np.stack(frames)))
                        )
                    else:
                        b, k = base_of(i), start_of(i)
                        frames = [grid(b, k + f) for f in range(5)]
                        out.append(
                            (
                                10_000_000 + i,
                                5,
                                codecs.avi_encode(np.stack(frames)),
                            )
                        )
                yield pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

        return ids.mapInPandas(run, "video_id long, n_frames long, content binary")

    corpus = gen("base", n_corpus, None, None)
    start_of = lambda i: (i * 3) % (n_frames - 4)  # noqa: E731
    queries = gen("snip", n_queries, lambda i: (i * 97) % n_corpus, start_of)

    root = scratch_dir("dwh_video_snippet_smoke_")
    t = time.perf_counter()
    video_dhash_frames(corpus).write.parquet(root + "/index")
    build_s = time.perf_counter() - t
    index = spark.read.parquet(root + "/index")
    n_index_rows = index.count()

    t = time.perf_counter()
    hits = (
        video_offset_vote_probe(
            index, video_dhash_frames(queries), max_hamming=3, min_frames=3
        )
        .select("batch_id", "index_id", "offset")
        .collect()
    )
    probe_s = time.perf_counter() - t
    want = {
        (10_000_000 + i, (i * 97) % n_corpus, (i * 3) % (n_frames - 4))
        for i in range(n_queries)
    }
    got = {(r["batch_id"], r["index_id"], r["offset"]) for r in hits}
    assert want <= got, f"missing {sorted(want - got)[:5]}"
    n_extra = len(got - want)

    t = time.perf_counter()
    n_naive = (
        video_offset_near_dups(
            corpus.unionByName(queries), max_hamming=3, min_frames=3
        )
        .filter(F.col("id_b") >= 10_000_000)
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    naive_s = time.perf_counter() - t

    print(
        f"video snippet smoke ({n_corpus} corpus videos x {n_frames} "
        f"frames = {n_index_rows} stored index rows, {n_queries} "
        f"5-frame excerpts): index build ONCE {build_s:.1f}s; excerpt "
        f"probe {probe_s:.1f}s (all {n_queries} planted excerpts "
        f"identified at their planted offsets, {n_extra} extra hits); "
        f"naive full re-pair {naive_s:.1f}s ({n_naive} matches). "
        f"Per-query-set asymmetry {naive_s / max(probe_s, 1e-9):.1f}x"
    )
    spark.stop()



def audio_hot_guard_smoke(n_corpus: int = 20_000, n_batch: int = 200) -> None:
    """The hot-word guard's reason to exist, measured: a corpus whose
    every clip leads with 16 windows of DIGITAL SILENCE (the realistic
    degenerate case — leading/trailing padding). Every silent span
    emits sub32=0, so the uncapped probe joins every batch silent
    position against every stored silent position; the capped probe
    (df stored in the lookup table, filtered map-side) never
    materializes that bucket. Planted batch: head-trimmed copies that
    must still match at offset 8 through their content words — capped
    found == planted asserted."""
    from dwh_spark.multimodal.audio_fp import (
        attach_subfp_df,
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
    )

    spark = get_spark("audio-hot-guard-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import numpy as np
            import pandas as pd

            from dwh_spark.multimodal.audio import wav_encode

            sil = np.zeros(48 * 64, dtype=np.int16)

            def clip(d: int) -> "np.ndarray":
                return np.concatenate([sil, md5_clip(f"hg:{d}", range(57))])

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        out.append((i, wav_encode(clip(i), 1000)))
                    else:
                        trimmed = clip(base_of(i))[8 * 64:]
                        out.append((10_000_000 + i, wav_encode(trimmed, 1000)))
                yield pd.DataFrame(out, columns=["audio_id", "content"])

        return ids.mapInPandas(run, "audio_id long, content binary")

    corpus = gen("base", n_corpus, None)
    batch = gen("trim", n_batch, lambda i: (i * 97) % n_corpus)

    root = scratch_dir("dwh_audio_hot_guard_smoke_")
    t = time.perf_counter()
    attach_subfp_df(audio_subfingerprint_frame(corpus)).write.parquet(
        root + "/index"
    )
    build_s = time.perf_counter() - t
    index = spark.read.parquet(root + "/index")
    n_rows = index.count()
    n_hot_rows = index.filter(F.col("df") > 8).count()

    batch_subfps = audio_subfingerprint_frame(batch)
    batch_subfps.write.parquet(root + "/batch")
    batch_subfps = spark.read.parquet(root + "/batch")

    t = time.perf_counter()
    capped_pairs = {
        (r["batch_id"], r["index_id"])
        for r in audio_offset_vote_probe(
            index, batch_subfps, min_matches=5, max_word_freq=8
        )
        .select("batch_id", "index_id")
        .distinct()
        .collect()
    }
    capped_s = time.perf_counter() - t
    want = {(10_000_000 + i, (i * 97) % n_corpus) for i in range(n_batch)}
    # every planted trim must survive the cap; sub-cap silence-BOUNDARY
    # words (df <= 8 by luck of the md5 draw) admit a few extra
    # coincidence pairs at the same structural offset — counted, not
    # hidden (raise min_matches or the cap to trade them away)
    assert want <= capped_pairs, f"missing {sorted(want - capped_pairs)[:5]}"
    capped = len(capped_pairs)
    n_extra = len(capped_pairs - want)

    t = time.perf_counter()
    uncapped_rows = (
        audio_offset_vote_probe(index.drop("df"), batch_subfps, min_matches=5)
        .count()
    )
    uncapped_s = time.perf_counter() - t

    print(
        f"audio hot-guard smoke ({n_corpus} silence-padded clips = "
        f"{n_rows} lookup rows, {n_hot_rows} on hot words; "
        f"{n_batch}-clip head-trim batch): index+df build ONCE "
        f"{build_s:.1f}s; CAPPED probe {capped_s:.1f}s "
        f"({n_batch}/{n_batch} planted found at offset 8 + {n_extra} "
        f"sub-cap boundary-word coincidences, hot bucket never "
        f"materializes); UNCAPPED probe {uncapped_s:.1f}s "
        f"({uncapped_rows} vote groups — silence pairs every batch "
        f"clip with the whole corpus). Guard asymmetry "
        f"{uncapped_s / max(capped_s, 1e-9):.1f}x"
    )
    spark.stop()



def df_maintenance_smoke(n_corpus: int = 100_000, n_batch: int = 1_000) -> None:
    """The with-df lookup table's maintenance cost, measured: ingest a
    batch into a 100k-clip (2.5M-row) stored table via
    audio_fp.append_with_df — batch counts broadcast, the prior-df
    aggregate input filtered to batch-word collisions — vs rebuilding
    df from scratch with attach_subfp_df (the corpus-wide groupBy +
    join). Both materialize the same updated table (row counts
    asserted equal); the merge's aggregates never see the corpus."""
    from dwh_spark.multimodal.audio_fp import (
        append_with_df,
        attach_subfp_df,
        audio_subfingerprint_frame,
    )

    spark = get_spark("df-maintenance-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import pandas as pd

            from dwh_spark.multimodal.audio import wav_encode

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        s = md5_clip(f"dm:{i}", range(57))
                        out.append((i, wav_encode(s, 1000)))
                    else:
                        s = md5_clip(f"dmN:{i}", range(57))
                        out.append((10_000_000 + i, wav_encode(s, 1000)))
                yield pd.DataFrame(out, columns=["audio_id", "content"])

        return ids.mapInPandas(run, "audio_id long, content binary")

    root = scratch_dir("dwh_df_maintenance_smoke_")
    plain = audio_subfingerprint_frame(gen("base", n_corpus))
    plain.write.parquet(root + "/plain")
    plain = spark.read.parquet(root + "/plain")
    t = time.perf_counter()
    attach_subfp_df(plain).write.parquet(root + "/with_df")
    initial_s = time.perf_counter() - t
    stored = spark.read.parquet(root + "/with_df")
    n_rows = stored.count()

    batch = audio_subfingerprint_frame(gen("new", n_batch))
    batch.write.parquet(root + "/batch")
    batch = spark.read.parquet(root + "/batch")

    t = time.perf_counter()
    append_with_df(stored, batch).write.parquet(root + "/merged")
    merge_s = time.perf_counter() - t
    n_merged = spark.read.parquet(root + "/merged").count()

    t = time.perf_counter()
    attach_subfp_df(
        plain.unionByName(batch)
    ).write.parquet(root + "/rebuilt")
    rebuild_s = time.perf_counter() - t
    n_rebuilt = spark.read.parquet(root + "/rebuilt").count()
    assert n_merged == n_rebuilt, (n_merged, n_rebuilt)

    print(
        f"df maintenance smoke ({n_corpus} clips = {n_rows} stored "
        f"with-df rows, {n_batch}-clip batch): initial df build "
        f"{initial_s:.1f}s (once, at index creation); incremental "
        f"append_with_df {merge_s:.1f}s (batch counts broadcast, "
        f"prior-df aggregate sees only batch-word collisions, "
        f"{n_merged} rows out); full rebuild {rebuild_s:.1f}s — "
        f"merge/rebuild {merge_s / max(rebuild_s, 1e-9):.2f}x (the "
        f"win grows with corpus/batch ratio; both rewrite the table, "
        f"the merge just never re-aggregates the corpus)"
    )
    spark.stop()



def video_hot_guard_smoke(n_corpus: int = 10_000, n_batch: int = 200) -> None:
    """The hot-BLOCK guard measured on the video offset probe: every
    stored video leads with 4 BLACK frames (dhash 0 — every 14-bit
    block value 0 posted 4x per video corpus-wide) and the batch's
    head-dropped copies keep 3, so the uncapped probe joins every
    batch black block against 40k index black rows per block AND
    pairs every batch clip with the whole corpus (3 same-offset black
    votes >= min_frames). The capped probe anti-joins the stored
    block-stats' over-cap set broadcast — the bucket never forms.
    Planted head-drops must still match at offset 1 through their 6
    content frames (found == planted asserted).

    CAP CALIBRATION LESSON (learned here): dHash bits are biased
    (P(set) = 1/4), so a 14-bit block carries ~11.3 bits of entropy
    and the NATURAL content bucket at 60k frames runs df ~40-250 — a
    cap of 8 (right for the audio 2^32 word space, where natural df
    is ~1) drops the CONTENT too and every planted pair vanishes. The
    cap must sit above the natural per-value df
    (~corpus_blocks / 2^effective_entropy) and below the degenerate
    df (black = 4 x corpus = 40k here, two orders above); 500 splits
    them cleanly. Production picks it off the stored stats table's
    quantiles — the table doubles as the calibration artifact."""
    from dwh_spark.multimodal.perceptual import (
        video_block_df,
        video_dhash_frames,
        video_offset_vote_probe,
    )

    spark = get_spark("video-hot-guard-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int, base_of):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import hashlib

            import numpy as np
            import pandas as pd

            from dwh_spark.multimodal import codecs

            black = np.full((8, 8, 3), 50, np.uint8)

            def grid(b: int, f: int) -> "np.ndarray":
                bits = np.frombuffer(
                    hashlib.md5(f"vhg:{b}:{f}".encode()).digest()[:8], np.uint8
                )
                cells = np.unpackbits(bits).reshape(8, 8)
                rgb = np.where(cells[:, :, None] == 1, 200, 50).astype(np.uint8)
                return np.repeat(rgb, 3, axis=2)

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        frames = [black] * 4 + [grid(i, f) for f in range(6)]
                    else:
                        b = base_of(i)
                        frames = [black] * 3 + [grid(b, f) for f in range(6)]
                    out.append(
                        (
                            (10_000_000 + i) if which != "base" else i,
                            len(frames),
                            codecs.avi_encode(np.stack(frames)),
                        )
                    )
                yield pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

        return ids.mapInPandas(run, "video_id long, n_frames long, content binary")

    corpus = gen("base", n_corpus, None)
    batch = gen("drop", n_batch, lambda i: (i * 97) % n_corpus)

    root = scratch_dir("dwh_video_hot_guard_smoke_")
    t = time.perf_counter()
    frames = video_dhash_frames(corpus)
    frames.write.parquet(root + "/index")
    index = spark.read.parquet(root + "/index")
    video_block_df(index).write.parquet(root + "/stats")
    build_s = time.perf_counter() - t
    stats = spark.read.parquet(root + "/stats")
    n_rows = index.count()

    batch_frames = video_dhash_frames(batch)
    batch_frames.write.parquet(root + "/batch")
    batch_frames = spark.read.parquet(root + "/batch")

    t = time.perf_counter()
    capped_pairs = {
        (r["batch_id"], r["index_id"], r["offset"])
        for r in video_offset_vote_probe(
            index, batch_frames, max_hamming=3, min_frames=3,
            max_block_freq=500, block_df=stats,
        )
        .select("batch_id", "index_id", "offset")
        .collect()
    }
    capped_s = time.perf_counter() - t
    want = {
        (10_000_000 + i, (i * 97) % n_corpus, 1) for i in range(n_batch)
    }
    assert want <= capped_pairs, f"missing {sorted(want - capped_pairs)[:5]}"
    n_extra = len(capped_pairs - want)

    t = time.perf_counter()
    n_uncapped = (
        video_offset_vote_probe(
            index, batch_frames, max_hamming=3, min_frames=3
        )
        .count()
    )
    uncapped_s = time.perf_counter() - t

    print(
        f"video hot-guard smoke ({n_corpus} black-padded videos = "
        f"{n_rows} frame rows, {n_batch}-video head-drop batch): "
        f"index + block-stats build ONCE {build_s:.1f}s; CAPPED probe "
        f"{capped_s:.1f}s ({n_batch}/{n_batch} planted found at "
        f"offset 1 + {n_extra} extras, dhash=0 buckets never form); "
        f"UNCAPPED probe {uncapped_s:.1f}s ({n_uncapped} vote groups "
        f"— 3 same-offset black votes pair every batch video with the "
        f"whole corpus). Guard asymmetry "
        f"{uncapped_s / max(capped_s, 1e-9):.1f}x"
    )
    spark.stop()


def forget_smoke(n_corpus: int = 100_000, n_forget: int = 1_000) -> None:
    """The post-delete probe smoke (VERDICT r13 next #2 done-criteria):
    forget 1,000 clips from a 100k-clip (2.5M-row) with-df H-K lookup
    table via operators/forget.py:forget_subfp_index — two broadcast
    joins plus an aggregate over the FORGOTTEN rows only — vs
    rebuilding with attach_subfp_df over corpus-minus-forgotten (the
    corpus-wide groupBy + join). Checksums (rows, sum(df)) asserted
    equal. Then the probe contract at scale: every forgotten clip's
    ghost subfingerprints probed back hit EXACTLY their surviving
    head-trim copy (planted for each forgotten id) and NEVER the
    forgotten id itself."""
    from dwh_spark.multimodal.audio_fp import (
        attach_subfp_df,
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
    )
    from dwh_spark.operators.forget import forget_subfp_index

    spark = get_spark("forget-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def gen(which: str, n: int):
        ids = spark.range(n).repartition(64)

        def run(batches):
            import pandas as pd

            from dwh_spark.multimodal.audio import wav_encode

            def clip(d: int):
                return md5_clip(f"fg:{d}", range(57))

            for pdf in batches:
                out = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "base":
                        out.append((i, wav_encode(clip(i), 1000)))
                        if i % 100 == 0:
                            # surviving head-trim copy of a to-be-
                            # forgotten base
                            out.append(
                                (10_000_000 + i,
                                 wav_encode(clip(i)[8 * 64:], 1000))
                            )
                    elif i % 100 == 0:  # ghost re-probe of the base
                        out.append((i, wav_encode(clip(i), 1000)))
                yield pd.DataFrame(out, columns=["audio_id", "content"])

        return ids.mapInPandas(run, "audio_id long, content binary")

    root = scratch_dir("dwh_forget_smoke_")
    plain = audio_subfingerprint_frame(gen("base", n_corpus))
    plain.write.parquet(root + "/plain")
    plain = spark.read.parquet(root + "/plain")
    attach_subfp_df(plain).write.parquet(root + "/stored")
    stored = spark.read.parquet(root + "/stored")
    n_rows = stored.count()

    fids = spark.range(0, n_corpus, 100).select(F.col("id").alias("audio_id"))
    assert fids.count() == n_forget

    t = time.perf_counter()
    forget_subfp_index(stored, fids).write.parquet(root + "/forgotten")
    forget_s = time.perf_counter() - t
    kept = spark.read.parquet(root + "/forgotten")

    t = time.perf_counter()
    attach_subfp_df(
        plain.join(F.broadcast(fids), "audio_id", "left_anti")
    ).write.parquet(root + "/rebuilt")
    rebuild_s = time.perf_counter() - t
    rebuilt = spark.read.parquet(root + "/rebuilt")

    def checksum(df):
        r = df.agg(
            F.count("*").alias("n"), F.sum("df").alias("s")
        ).collect()[0]
        return (r["n"], r["s"])

    ck, cr = checksum(kept), checksum(rebuilt)
    assert ck == cr, (ck, cr)

    ghosts = audio_subfingerprint_frame(gen("ghost", n_corpus))
    t = time.perf_counter()
    # min_matches=12: genuine copies carry 17 same-offset votes, a
    # leftover self-row would carry 25, while the random tail of
    # same-comparison-pattern word collisions (real at 25k x 2.5M
    # position pairs in a 2048-amplitude window space) dies at ~5 —
    # the vote threshold IS the collision control, demonstrated here
    hits = audio_offset_vote_probe(
        kept, ghosts, min_matches=12, max_word_freq=8
    ).select("batch_id", "index_id").distinct().collect()
    probe_s = time.perf_counter() - t
    on_forgotten = [h for h in hits if h["index_id"] % 100 == 0
                    and h["index_id"] < 10_000_000]
    on_copies = [h for h in hits if h["index_id"] == h["batch_id"] + 10_000_000]
    assert not on_forgotten, f"{len(on_forgotten)} leftover index hits"
    assert len(on_copies) == n_forget, (len(on_copies), n_forget)
    assert len(hits) == len(on_copies), [h for h in hits if h not in on_copies][:5]

    print(
        f"forget smoke ({n_corpus} clips = {n_rows} stored with-df "
        f"rows, {n_forget} forgotten): forget_subfp_index "
        f"{forget_s:.1f}s (broadcast semi/anti + decrement over the "
        f"forgotten rows only) vs rebuild-minus-deleted "
        f"{rebuild_s:.1f}s = {forget_s / max(rebuild_s, 1e-9):.2f}x; "
        f"checksums equal ({ck[0]} rows, sum df {ck[1]}); ghost "
        f"re-probe of all {n_forget} forgotten clips ({probe_s:.1f}s): "
        f"0 hits on forgotten ids, {len(on_copies)}/{n_forget} hit "
        f"exactly their surviving head-trim copy"
    )
    spark.stop()



def retrain_smoke(n_corpus: int = 200_000, n_forget: int = 1_000) -> None:
    """Retrain-at-compaction at scale (the r15 executable-retrain
    done-criteria, scale edition): a 200k-vector IVF index in a real
    ParquetAppendLog — forget 1k vectors, evaluate the inertia
    TRIGGER (one broadcast centroid join over the stale survivors),
    then retrain_cells_at_compaction on the 100 TB path
    (train_fraction=0.05: seeds + the Lloyd step run on a 10k hash
    sample, never the full survivor frame) with the one-pass
    compact(transform=...) rewrite. Verifies: store row count ==
    survivors, ZERO forgotten rows survive the rewrite, and a ghost
    re-probe of 200 forgotten vectors finds only their planted
    near-dup family mates, never themselves."""
    from dwh_spark.operators.forget import forget_rows
    from dwh_spark.operators.similarity import assign_cells, cell_inertia, cell_probe
    from dwh_spark.streaming.emb_ingest import retrain_cells_at_compaction
    from dwh_spark.streaming.ingest import ParquetAppendLog

    spark = get_spark("retrain-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    src_df = spark.range(n_corpus).select(
        F.col("id").alias("vec_id"), F.pmod(F.col("id"), F.lit(997)).alias("fam")
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            (F.pmod(F.xxhash64("fam", i), F.lit(2000)) / 1000.0 - 1.0)
            + (F.pmod(F.xxhash64("vec_id", i, F.lit(5)), F.lit(100)) / 50000.0)
        ).cast("float"),
    )
    vecs = src_df.select("vec_id", emb.alias("embedding")).persist()
    day0 = (
        vecs.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(256)
        .localCheckpoint()
    )
    store = ParquetAppendLog(
        scratch_dir("dwh_retrain_smoke_") + "/index"
    )
    t = time.perf_counter()
    store.append(assign_cells(vecs, day0), 0)
    build_s = time.perf_counter() - t

    # forget n_forget ids, spread uniformly (vec_id % mod == 7);
    # each keeps 1000+ same-fam near-dup mates (fam = id % 997)
    forget_mod = n_corpus // n_forget
    fids = vecs.filter(F.col("vec_id") % forget_mod == 7).select("vec_id")

    t = time.perf_counter()
    stale = forget_rows(store.current(spark), fids, key="vec_id")
    stale_fit = cell_inertia(stale, day0).collect()[0]
    trigger_s = time.perf_counter() - t

    t = time.perf_counter()
    cents, n_cells = retrain_cells_at_compaction(
        spark, store, fids, rows_per_cell=800, train_fraction=0.05
    )
    retrain_s = time.perf_counter() - t

    state = store.current(spark).persist()
    n_state = state.count()
    n_ghost_rows = state.join(F.broadcast(fids), "vec_id", "left_semi").count()
    new_fit = cell_inertia(state, cents).collect()[0]
    ghosts = (
        vecs.join(F.broadcast(fids), "vec_id", "left_semi")
        .limit(200)
        .select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    )
    hits = cell_probe(state, assign_cells(ghosts, cents), threshold=0.999)
    n_self = hits.filter(F.col("new_id") - 10_000_000 == F.col("corpus_id")).count()
    n_mates = hits.select("new_id").distinct().count()
    print(
        f"retrain smoke ({n_corpus} vectors, {n_cells} cells, forget "
        f"{n_corpus // forget_mod}): index build {build_s:.1f}s; trigger eval "
        f"{trigger_s:.1f}s (stale fit {stale_fit['mean_cos']:.4f} over "
        f"{stale_fit['n_vectors']}); retrain+rewrite {retrain_s:.1f}s on a "
        f"5% training sample (post fit {new_fit['mean_cos']:.4f} over "
        f"{new_fit['n_vectors']}); store rows {n_state} "
        f"(expect {n_corpus - n_corpus // forget_mod}), ghost rows {n_ghost_rows} "
        f"(expect 0); ghost re-probe: {n_mates}/200 found their surviving "
        f"family mates, {n_self} self-hits (expect 0)"
    )
    assert n_state == n_corpus - n_corpus // forget_mod
    assert n_ghost_rows == 0
    assert n_self == 0
    assert n_mates == 200
    spark.stop()


def maintenance_window_smoke(n_corpus: int = 200_000, n_forget: int = 1_000) -> None:
    """The unified maintenance window at scale (the r16 runner's
    done-criteria, scale edition): a 200k-vector IVF index appended as
    FOUR real segments, then ONE run_maintenance_window pass — forget
    1k vectors (manifest anti-join), recalibrate the occupancy cap
    from post-forget stats, evaluate the trigger, retrain on the
    100 TB path (train_fraction=0.05), rewrite per-segment (ranges
    preserved), expire the oldest segment, optimize. Verifies: zero
    forgotten rows survive, the expired segment's rows are gone, the
    replay guard is untouched, and the ledger's accounting adds up."""
    from dwh_spark.operators.similarity import assign_cells
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.maintenance import run_maintenance_window

    spark = get_spark("maint-window-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    src_df = spark.range(n_corpus).select(
        F.col("id").alias("vec_id"), F.pmod(F.col("id"), F.lit(997)).alias("fam")
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            (F.pmod(F.xxhash64("fam", i), F.lit(2000)) / 1000.0 - 1.0)
            + (F.pmod(F.xxhash64("vec_id", i, F.lit(5)), F.lit(100)) / 50000.0)
        ).cast("float"),
    )
    vecs = src_df.select("vec_id", emb.alias("embedding")).persist()
    day0 = (
        vecs.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(256)
        .localCheckpoint()
    )
    store = ParquetAppendLog(
        scratch_dir("dwh_maint_window_smoke_") + "/index"
    )
    t = time.perf_counter()
    n_seg = 4
    per = n_corpus // n_seg
    cells = assign_cells(vecs, day0).persist()
    for b in range(n_seg):
        store.append(
            cells.filter(
                (F.col("vec_id") >= b * per) & (F.col("vec_id") < (b + 1) * per)
            ),
            b,
        )
    build_s = time.perf_counter() - t

    forget_mod = n_corpus // n_forget  # n_forget ids, spread uniformly
    fids = vecs.filter(F.col("vec_id") % forget_mod == 7).select("vec_id")
    t = time.perf_counter()
    # cap_check=False: the synthetic family geometry leaves a handful
    # of NEAR-EMPTY cells (df 1-5) under a uniform ~2k occupancy mass,
    # so the band guard fires on the bottom outliers — the stated
    # loud-but-conservative case; the escape hatch is the documented
    # adjudication path after reading the shape (caps.py:band_split)
    rep = run_maintenance_window(
        spark,
        store,
        day0,
        forgotten_ids=fids,
        rows_per_cell=800,
        train_fraction=0.05,
        cap_check=False,
        expire_keep_from=1,
    )
    window_s = time.perf_counter() - t

    state = store.current(spark).persist()
    n_state = state.count()
    n_ghost = state.join(F.broadcast(fids), "vec_id", "left_semi").count()
    n_seg0_left = state.filter(F.col("vec_id") < per).count()
    expect = n_corpus - n_corpus // forget_mod - rep.rows_expired
    print(
        f"maintenance-window smoke ({n_corpus} vectors, {n_seg} segments): "
        f"build {build_s:.1f}s; window {window_s:.1f}s end-to-end — "
        f"forgot {rep.rows_forgotten}, cap {rep.cap} "
        f"(q {rep.cap_quantile_value}), trigger stale "
        f"{rep.stale_mean_cos:.4f} vs retrained {rep.retrained_mean_cos:.4f} "
        f"-> due={rep.retrain_due} ({rep.n_cells} cells on a 5% sample), "
        f"expired {rep.segments_expired} segment(s) / {rep.rows_expired} "
        f"rows, {rep.segments_after} segment(s) after optimize; store rows "
        f"{n_state} (expect {expect}), ghost rows {n_ghost} (expect 0), "
        f"segment-0 leftovers {n_seg0_left} (expect 0)"
    )
    assert rep.rows_forgotten == n_corpus // forget_mod
    assert rep.segments_expired == 1
    assert n_state == expect
    assert n_ghost == 0
    assert n_seg0_left == 0
    assert store.last_committed() == n_seg - 1  # replay guard untouched
    spark.stop()


def fp_window_smoke(n_postings: int = 1_000_000, n_forget: int = 1_000) -> None:
    """The FINGERPRINT maintenance window at scale (VERDICT r16 next
    #4): a 1M-posting H-K-shaped lookup table (25k clips x 40
    postings; four planted corpus-hot words at df=n_clips — the
    degenerate band) appended as FOUR real segments with their
    per-batch word-df partials, then ONE run_fp_maintenance_window
    pass — forget 1k clips (per-segment rewrite + exact partial
    shrink), recalibrate from post-forget stats (check=True: the
    planted band is above q99, the guard adjudicates it), expire the
    oldest segment with the stats shrunk by its partials, optimize.
    Verifies the window contract EXACTLY at scale: zero ghosts, zero
    expired leftovers, replay guard untouched, and the shrunk stats
    log equals a full rebuild over the post-window index — the
    stats == rebuild-over-retained exactness the ledger queries pin
    at sf, here at 1M postings."""
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.maintenance import run_fp_maintenance_window

    spark = get_spark("fp-window-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    n_clips = n_postings // 40
    postings = spark.range(n_postings).select(
        (F.col("id") % n_clips).alias("audio_id"),
        F.floor(F.col("id") / n_clips).alias("pos"),
        F.when(
            F.floor(F.col("id") / n_clips) < 4,
            F.floor(F.col("id") / n_clips),  # 4 hot words
        )
        .otherwise(
            F.pmod(F.xxhash64("id"), F.lit(2**31 - 1)) + 4
        )
        .alias("sub32"),
    )
    root = scratch_dir("dwh_fp_window_smoke_")
    index_store = ParquetAppendLog(root + "/index")
    stats_store = ParquetAppendLog(root + "/stats")
    t = time.perf_counter()
    n_seg = 4
    per = n_clips // n_seg
    postings = postings.persist()
    for b in range(n_seg):
        seg = postings.filter(
            (F.col("audio_id") >= b * per) & (F.col("audio_id") < (b + 1) * per)
        )
        index_store.append(seg, b)
        stats_store.append(
            seg.groupBy("sub32").agg(F.count("*").alias("df")), b
        )
    build_s = time.perf_counter() - t

    forget_mod = n_clips // n_forget
    fids = (
        spark.range(n_clips)
        .select(F.col("id").alias("audio_id"))
        .filter(F.col("audio_id") % forget_mod == 7)
    )
    t = time.perf_counter()
    rep = run_fp_maintenance_window(
        spark,
        index_store,
        stats_store,
        forgotten_ids=fids,
        expire_keep_from=1,
    )
    window_s = time.perf_counter() - t

    state = index_store.current(spark).persist()
    n_state = state.count()
    n_ghost = state.join(F.broadcast(fids), "audio_id", "left_semi").count()
    n_seg0_left = state.filter(F.col("audio_id") < per).count()
    # the exactness headline: shrunk stats == rebuild over retained
    merged = (
        stats_store.current(spark)
        .groupBy("sub32")
        .agg(F.sum("df").alias("df"))
    )
    rebuilt = state.groupBy("sub32").agg(F.count("*").alias("df"))
    n_drift = (
        merged.withColumnRenamed("df", "df_s")
        .join(rebuilt.withColumnRenamed("df", "df_r"), "sub32", "full_outer")
        .filter(
            F.col("df_s").isNull()
            | F.col("df_r").isNull()
            | (F.col("df_s") != F.col("df_r"))
        )
        .count()
    )
    n_forgot = n_clips // forget_mod
    expect = n_postings - 40 * n_forgot - rep.rows_expired
    print(
        f"fp-window smoke ({n_postings} postings, {n_clips} clips, "
        f"{n_seg} segments): build {build_s:.1f}s; window {window_s:.1f}s "
        f"end-to-end — forgot {rep.rows_forgotten} postings, cap {rep.cap} "
        f"(q {rep.cap_quantile_value}), {len(rep.hot_words)} hot words "
        f"(max df {rep.max_df}), expired {rep.segments_expired} segment(s) "
        f"/ {rep.rows_expired} postings, {rep.segments_after} segment(s) "
        f"after optimize; store rows {n_state} (expect {expect}), ghosts "
        f"{n_ghost} (expect 0), segment-0 leftovers {n_seg0_left} "
        f"(expect 0), stats-vs-rebuild drift rows {n_drift} (expect 0)"
    )
    assert rep.rows_forgotten == 40 * n_forgot
    assert rep.segments_expired == 1
    assert n_state == expect
    assert n_ghost == 0
    assert n_seg0_left == 0
    assert n_drift == 0
    assert len(rep.hot_words) == 4  # exactly the planted degenerate band
    assert index_store.last_committed() == n_seg - 1
    spark.stop()


def state_lookup_smoke(n_rows: int = 10_000_000, n_files: int = 64) -> None:
    """The manifest-pruned state point read at scale (the
    streaming_state_point_lookup gate's 100 TB claim, measured): a
    10M-row range-partitioned ParquetStateStore snapshot (64
    manifest-tracked files), then 10 point reads through ``lookup()``
    — each consults the manifest's per-file [min_key, max_key], opens
    ONLY the covering file and reads its matching rows on the driver
    (pyarrow, key filter pushed down to the row-group stats), so a
    probe launches no Spark job — verified row-exact against the
    naive full-snapshot ``current().filter(key=v)`` scan, which runs
    one Spark job per probe. The naive filter still gets parquet
    pushdown (64 footer reads + ~1 row group actually decoded per
    probe, since the same range layout sorts the key), so the
    scan-side bytes printed below are the NO-PRUNING upper bound,
    labeled as such — what the manifest removes for certain is the
    per-probe touch of every file's footer and the n_files-task
    fan-out, and the driver-side read removes each probe's job
    latency. The manifest's win compounds with state size and file
    count — at a billion rows across thousands of files, one
    file-open per probe vs thousands. Each side is timed after a warm-up
    run of its own over other keys, so the comparison does not depend on
    which side runs first in the young JVM."""
    from dwh_spark.streaming.ingest import ParquetStateStore

    spark = get_spark("state-lookup-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    state = spark.range(n_rows).select(
        F.col("id").alias("user_id"),
        (F.xxhash64("id") % 1000).alias("n"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100000)) / 100.0).alias(
            "sum_value"
        ),
    )
    store = ParquetStateStore(
        scratch_dir("dwh_state_lookup_smoke_") + "/state",
        range_key="user_id",
        n_files=n_files,
    )
    t = time.perf_counter()
    store.commit(state, 1)
    commit_s = time.perf_counter() - t

    probes = [int(n_rows * k / 10) + 7 for k in range(10)]

    def timed(read):
        """(rows, seconds) of ``read`` over ``probes``, after one warm-up
        run over other keys: each side's time is its own, not the JVM
        warmth the other side left, and every timed key is still new."""
        read([v + 1 for v in probes])
        t = time.perf_counter()
        rows = read(probes)
        return rows, time.perf_counter() - t

    via_lookup, lookup_s = timed(
        lambda keys: [tuple(r) for v in keys for r in store.lookup(spark, v).collect()]
    )
    cur = store.current(spark)
    via_scan, scan_s = timed(
        lambda keys: [
            tuple(r) for v in keys for r in cur.filter(F.col("user_id") == v).collect()
        ]
    )
    man = store.manifest()
    import os as _os

    with open(store._pointer) as fh:
        vdir = fh.read().strip()
    sizes = {
        f["file"]: _os.path.getsize(_os.path.join(vdir, f["file"]))
        for f in man["files"]
    }
    snap_bytes = sum(sizes.values())

    def covering(v):
        return [
            f["file"]
            for f in man["files"]
            if f["min_key"] is not None and f["min_key"] <= v <= f["max_key"]
        ]

    probe_files = [covering(v) for v in probes]
    lookup_bytes = sum(sizes[f] for fs in probe_files for f in fs)
    n_files_actual = len(man["files"])
    print(
        f"state-lookup smoke ({n_rows} rows, {n_files_actual} "
        f"manifest-tracked files, snapshot {snap_bytes >> 20} MiB): commit "
        f"{commit_s:.1f}s; 10 point reads via lookup() {lookup_s:.2f}s, "
        f"{max(len(fs) for fs in probe_files)} file-open/probe, "
        f"{lookup_bytes >> 20} MiB planned; full-snapshot filter "
        f"{scan_s:.2f}s, {n_files_actual} file-opens/probe "
        f"({(10 * snap_bytes) >> 20} MiB no-pruning upper bound — parquet "
        f"min/max pruning decodes less, but every footer is still read) "
        f"— {n_files_actual}x fewer file-opens per probe; rows equal: "
        f"{sorted(via_lookup) == sorted(via_scan)}"
    )
    assert sorted(via_lookup) == sorted(via_scan)
    assert len(via_lookup) == 10  # every probe id exists by construction
    assert all(len(fs) == 1 for fs in probe_files)  # one file per probe
    spark.stop()




def version_gc_smoke(n_rows: int = 2_000_000, n_versions: int = 8) -> None:
    """Snapshot-store retention + version-to-version delta at scale
    (VERDICT r17 What's-missing #4 / next #2+#6): a continuous rollup
    commits ``n_versions`` full snapshots of an ``n_rows`` state —
    the grow-forever artifact version GC exists to bound — then ONE
    ``expire_versions`` drops all but the last three and the delta
    read diffs two retained survivors.

    Claims measured, not asserted from faith:

    - **GC is O(dropped dirs) filesystem work**: no Spark job runs;
      wall time is printed next to the reclaimed bytes (the record
      write + rmtree of n_versions-3 snapshot dirs).
    - **Retention is exact**: the retained as-of read returns the
      same frame as before the GC (count + measure-sum compared);
      the expired as-of raises; ``last_committed`` is untouched.
    - **The delta read is exact at scale**: each version b rewrites
      the ``id %% n_versions == b`` cohort's measure, so the delta
      across the last two commits must be EXACTLY those two cohorts'
      rows (n_rows/n_versions each) with the new measures — a
      leaked untouched group or a stale measure changes the count.
    """
    import shutil

    from dwh_spark.streaming.ingest import (
        ParquetStateStore,
        SnapshotUnreadableError,
    )

    spark = get_spark("version-gc-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    root = scratch_dir("dwh_version_gc_smoke_") + "/state"
    store = ParquetStateStore(root)

    def state_at(b: int):
        # cohort id%n_versions==j flips its measure to j*1000+1 at
        # version j; later versions keep earlier flips (cumulative)
        return spark.range(n_rows).select(
            F.col("id"),
            F.when(
                F.pmod("id", F.lit(n_versions)) <= b,
                F.pmod("id", F.lit(n_versions)) * 1000 + 1,
            ).otherwise(0).alias("n"),
        )

    t = time.perf_counter()
    for b in range(n_versions):
        store.commit(state_at(b), b)
    commit_s = time.perf_counter() - t
    keep_from = n_versions - 3  # keep the last three versions
    pre = store.current(spark, as_of_batch=keep_from).agg(
        F.count("*"), F.sum("n")
    ).collect()[0]
    du_before = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
    )

    t = time.perf_counter()
    store.expire_versions(keep_from=keep_from)
    gc_s = time.perf_counter() - t
    du_after = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
    )
    post = store.current(spark, as_of_batch=keep_from).agg(
        F.count("*"), F.sum("n")
    ).collect()[0]
    assert tuple(pre) == tuple(post)  # retained history exact
    assert store.last_committed() == n_versions - 1
    loud = False
    try:
        store.current(spark, as_of_batch=keep_from - 1)
    except SnapshotUnreadableError:
        loud = True
    assert loud

    t = time.perf_counter()
    delta = store.current(
        spark, as_of_batch=n_versions - 1, since_batch=n_versions - 3
    ).localCheckpoint()
    n_delta = delta.count()
    delta_s = time.perf_counter() - t
    # ids with id % n_versions in {keep_from, n_versions-1}
    rem = n_rows % n_versions
    changed = (n_versions - 2, n_versions - 1)
    expected = 2 * (n_rows // n_versions) + sum(
        1 for r in changed if rem > r
    )
    bad = delta.filter(
        ~F.pmod("id", F.lit(n_versions)).isin(*changed)
    ).count()
    print(
        f"version-gc smoke ({n_rows} rows x {n_versions} versions, "
        f"commits {commit_s:.1f}s): GC dropped {n_versions - 3} dirs in "
        f"{gc_s * 1000:.0f}ms (no Spark job), "
        f"{(du_before - du_after) >> 20} MiB reclaimed "
        f"({du_before >> 20} -> {du_after >> 20}); retained as-of exact: "
        f"{tuple(pre) == tuple(post)}; expired as-of loud: {loud}; "
        f"delta(v{n_versions - 1}, v{n_versions - 3}) = {n_delta} rows in "
        f"{delta_s:.1f}s (expected {expected}, off-cohort leaks {bad})"
    )
    assert n_delta == expected, (n_delta, expected)
    assert bad == 0
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    if CASE == "append_log":
        append_log_soak()
    elif CASE == "semantic_ingest":
        semantic_ingest_smoke()
    elif CASE == "triage":
        triage_smoke()
    elif CASE == "containment":
        containment_smoke()
    elif CASE == "phash_ingest":
        phash_ingest_smoke()
    elif CASE == "audio_fp_ingest":
        audio_fp_ingest_smoke()
    elif CASE == "video_phash_ingest":
        video_phash_ingest_smoke()
    elif CASE == "audio_offset_ingest":
        audio_offset_ingest_smoke()
    elif CASE == "audio_snippet":
        audio_snippet_smoke()
    elif CASE == "video_snippet":
        video_snippet_smoke()
    elif CASE == "audio_hot_guard":
        audio_hot_guard_smoke()
    elif CASE == "video_hot_guard":
        video_hot_guard_smoke()
    elif CASE == "df_maintenance":
        df_maintenance_smoke()
    elif CASE == "forget":
        forget_smoke()
    elif CASE == "retrain":
        retrain_smoke()
    elif CASE == "maintenance_window":
        maintenance_window_smoke()
    elif CASE == "fp_window":
        fp_window_smoke()
    elif CASE == "state_lookup":
        state_lookup_smoke()
    elif CASE == "version_gc":
        version_gc_smoke()
    elif CASE is not None:
        raise SystemExit(
            f"unknown case {CASE!r} "
            "(expected: append_log, semantic_ingest, triage, containment, "
            "phash_ingest, audio_fp_ingest, video_phash_ingest, audio_offset_ingest)"
        )
    else:
        main()
