"""Scale validation: replicate sf0.1 100x (10M events / 1.5M orders) into
/tmp/scale and measure core-operator throughput. Evidence that the
operator plans hold beyond the test SF: every stage distributes across
all cores, no driver-side collection, shuffles only on declared keys.

Run: python scripts/scale_test.py            # all sections
     python scripts/scale_test.py <section>  # one of: ops text multimodal new

Each section runs in its OWN subprocess/JVM: a single long session
accumulates an (unattributed) slowdown on this host that inflates
late-section timings 5-15x even best-of-2; fresh JVMs keep every
section's numbers comparable. Within a section, timings are best-of-2
(the host VM shows bursty CPU steal).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from clickhouse_etl_spark.session import get_spark  # noqa: E402
from clickhouse_etl_spark.sources.batch import load_table  # noqa: E402

BASE = "/tmp/scale"
N_ROWS = 10_000_000
SECTIONS = ["ops", "text", "multimodal", "new", "r4", "r5", "r6", "r7", "r7b", "r8", "r8b", "r9", "r9b", "r10", "r10b"]


def materialize(spark) -> None:
    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    orders = load_table(spark, "/root/testdata/sf0.1", "orders")
    mult = spark.range(100).select(F.col("id").alias("rep"))
    big_ev = (
        ev.crossJoin(mult)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * 10_000_000)
        .withColumn("user_id", F.col("user_id") + (F.col("rep") % 10) * 1_000_000)
        .drop("rep")
    )
    big_ord = (
        orders.crossJoin(mult.filter(F.col("rep") < 10))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * 10_000_000)
        .withColumn("o_custkey", F.col("o_custkey") + F.col("rep") * 1_000_000)
        .drop("rep")
    )
    big_ev.repartition(64).write.mode("overwrite").parquet(f"{BASE}/events")
    big_ord.repartition(16).write.mode("overwrite").parquet(f"{BASE}/orders")


def _ensure_data(spark) -> None:
    if not os.path.isdir(f"{BASE}/events"):
        t0 = time.perf_counter()
        materialize(spark)
        print(f"materialized 10M events + 1.5M orders in {time.perf_counter()-t0:.1f}s")
    if not os.path.isdir(f"{BASE}/docs"):
        docs = load_table(spark, "/root/testdata/sf0.1", "documents")
        mult = spark.range(20).select(F.col("id").alias("rep"))
        (
            docs.crossJoin(mult)
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 10_000_000)
            .drop("rep")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(f"{BASE}/docs")
        )


def _timed(name, df, unit_n, unit="rows", warm=None) -> None:
    # warm-up immediately before the timed runs pays Janino/codegen
    # compilation outside the metric; best-of-2 dodges host CPU-steal
    if warm is not None:
        warm.write.mode("overwrite").format("noop").save()
    dt = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        dt = min(dt, time.perf_counter() - t0)
    if unit == "rows":
        print(f"{name}: {dt:.2f}s ({unit_n/dt/1e6:.1f}M rows/s)")
    else:
        print(f"{name}: {dt:.1f}s ({unit_n/dt/1000:.0f}k docs/s)")


def _timed_ivf_pq(spark, name, vecs, queries, unit_n, path) -> None:
    """A fresh IVF+PQ answer, timed best-of-2 like :func:`_timed`:
    ``pq_index_build`` (k-means cells, sampled codebooks, encode, write)
    at ``path`` then ``pq_index_query`` over it. A 2k-vector build and
    query warms codegen first; ``path`` is removed afterwards."""
    import shutil

    from clickhouse_etl_spark.dataops.similarity import pq_index_build, pq_index_query

    def run(corpus):
        pq_index_build(corpus, path, n_centroids=16)
        answer = pq_index_query(spark, path, queries, k=10, n_probe=4)
        answer.write.mode("overwrite").format("noop").save()

    run(vecs.limit(2000))
    dt = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        run(vecs)
        dt = min(dt, time.perf_counter() - t0)
    shutil.rmtree(path, ignore_errors=True)
    print(f"{name}: {dt:.2f}s ({unit_n/dt/1e6:.1f}M rows/s)")


def section_ops(spark) -> None:
    from clickhouse_etl_spark.operators.dedup import dedup_windowed
    from clickhouse_etl_spark.operators.filter import apply_filter
    from clickhouse_etl_spark.operators.join import asof_join, temporal_join_batch
    from clickhouse_etl_spark.spec.model import (
        FilterConfig,
        JoinConfig,
        JoinOutputField,
        JoinSourceConfig,
    )

    bev = spark.read.parquet(f"{BASE}/events")
    bord = spark.read.parquet(f"{BASE}/orders")
    _timed("filter_project", apply_filter(bev, FilterConfig("value > 50 and event_type == 'click'")), N_ROWS)
    _timed("dedup_windowed", dedup_windowed(bev, "user_id", "ts", 3600, ["event_id"]), N_ROWS)
    cfg = JoinConfig(
        left=JoinSourceConfig("e", "user_id", 0, "left"),
        right=JoinSourceConfig("o", "o_custkey", 0, "right"),
        output_fields=(
            JoinOutputField("e", "event_id", "event_id"),
            JoinOutputField("e", "user_id", "user_id"),
            JoinOutputField("o", "o_totalprice", "total_price"),
        ),
    )
    _timed(
        "temporal_join",
        temporal_join_batch(bev, bord, cfg, right_ts_col="o_orderdate", right_tiebreak=["o_orderkey"]),
        N_ROWS,
    )
    clicks = bev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = bev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id", "ts"
    )
    _timed("asof_join", asof_join(clicks, purch, "user_id", "ts", "ts", right_cols=["p_event_id"], how="left"), N_ROWS)
    _timed("group_agg", bev.groupBy("event_type").agg(F.sum("value"), F.countDistinct("user_id")), N_ROWS)


def section_text(spark) -> None:
    from clickhouse_etl_spark.dataops.chunking import chunk_documents, top_terms
    from clickhouse_etl_spark.dataops.dedup import exact_dedup, ngram_jaccard_pairs, simhash
    from clickhouse_etl_spark.dataops.text import (
        boilerplate_ngrams,
        language_id,
        mixture_sample,
        repetition_signals,
        split_assign,
    )

    bd = spark.read.parquet(f"{BASE}/docs")
    nd = bd.count()
    tiny = bd.limit(200)
    _timed("docs_exact_dedup", exact_dedup(bd), nd, "docs", warm=exact_dedup(tiny))
    _timed("docs_chunking", chunk_documents(bd), nd, "docs", warm=chunk_documents(tiny))
    _timed("docs_langid", language_id(bd), nd, "docs", warm=language_id(tiny))
    _timed("docs_top_terms", top_terms(bd), nd, "docs", warm=top_terms(tiny))
    _timed("docs_simhash", simhash(bd), nd, "docs", warm=simhash(tiny))
    _timed(
        "docs_ngram_jaccard",
        ngram_jaccard_pairs(bd, n=5, threshold=0.5),
        nd, "docs",
        warm=ngram_jaccard_pairs(tiny, n=5, threshold=0.5),
    )
    _timed("docs_repetition_signals", repetition_signals(bd), nd, "docs", warm=repetition_signals(tiny))
    _timed(
        "docs_boilerplate_ngrams",
        boilerplate_ngrams(bd, n=3, min_doc_freq=100),
        nd, "docs",
        warm=boilerplate_ngrams(tiny, n=3, min_doc_freq=100),
    )
    _timed("docs_split_assign", split_assign(bd), nd, "docs", warm=split_assign(tiny))
    _timed("docs_mixture_sample", mixture_sample(bd), nd, "docs", warm=mixture_sample(tiny))


def _assets(bd):
    return bd.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("png"))
            .when(F.col("doc_id") % 3 == 1, F.lit("jpeg"))
            .otherwise(F.lit("tiff"))
            .alias("format"),
            F.length(F.encode("text", "utf-8")).cast("bigint").alias("n_bytes"),
        ).alias("asset_meta"),
    )


def section_multimodal(spark) -> None:
    from clickhouse_etl_spark.dataops.multimodal import (
        decode_assets,
        extract_features,
        resize_assets,
    )

    bd = spark.read.parquet(f"{BASE}/docs")
    nd = bd.count()
    assets = _assets(bd)
    warm = _assets(bd.limit(200))
    _timed("multimodal_decode", decode_assets(assets), nd, "docs", warm=decode_assets(warm))
    _timed("multimodal_resize", resize_assets(assets, 224, 224), nd, "docs", warm=resize_assets(warm, 224, 224))
    _timed("multimodal_features", extract_features(assets, dim=64), nd, "docs", warm=extract_features(warm, dim=64))
    from clickhouse_etl_spark.dataops.multimodal import pool_frame_features

    videos = assets.withColumn(
        "asset_meta",
        F.struct(
            F.lit("video").alias("media_type"),
            F.lit("mp4").alias("format"),
            F.col("asset_meta.n_bytes").alias("n_bytes"),
        ),
    )
    _timed(
        "multimodal_frame_pool",
        pool_frame_features(videos, every_ms=50, max_frames=8, dim=32),
        nd, "docs",
        warm=pool_frame_features(_assets(bd.limit(200)).withColumn(
            "asset_meta",
            F.struct(F.lit("video").alias("media_type"), F.lit("mp4").alias("format"),
                     F.col("asset_meta.n_bytes").alias("n_bytes"))),
            every_ms=50, max_frames=8, dim=32),
    )


def section_new(spark) -> None:
    from clickhouse_etl_spark.dataops.chunking import pack_sequences
    from clickhouse_etl_spark.operators.join import range_join

    bd = spark.read.parquet(f"{BASE}/docs")
    nd = bd.count()
    tiny = bd.limit(200)
    _timed(
        "docs_sequence_packing",
        pack_sequences(bd, capacity=2048, shards=32),
        nd, "docs",
        warm=pack_sequences(tiny, capacity=2048, shards=32),
    )
    # interval join at 10M events: clicks inside each purchase's hour
    bev = spark.read.parquet(f"{BASE}/events")
    purchases = bev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    clicks = bev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("c_ts"))
    rj = range_join(
        clicks, purchases, left_ts="c_ts", start_col="w_start", end_col="w_end",
        key="user_id", bucket_s=3600,
    ).groupBy("purchase_id").agg(F.count("*").alias("n"))
    _timed("range_join", rj, N_ROWS)


def section_r4(spark) -> None:
    from clickhouse_etl_spark.dataops.dedup import simhash_near_dup_pairs, span_dedup
    from clickhouse_etl_spark.dataops.similarity import balanced_sample
    from clickhouse_etl_spark.dataops.text import bm25_scores, rare_token_ratio

    bd = spark.read.parquet(f"{BASE}/docs")
    nd = bd.count()
    tiny = bd.limit(200)
    _timed("docs_span_dedup", span_dedup(bd), nd, "docs", warm=span_dedup(tiny))
    _timed(
        "docs_rare_token_ratio", rare_token_ratio(bd), nd, "docs",
        warm=rare_token_ratio(tiny),
    )
    # NOTE: the 20x-replicated corpus is the pathological all-dup case
    # for pair mining — every doc has 19 exact copies sharing all bands
    _timed(
        "docs_simhash_pairs", simhash_near_dup_pairs(bd), nd, "docs",
        warm=simhash_near_dup_pairs(tiny),
    )
    terms = ["spark", "join", "window", "query"]
    _timed(
        "docs_bm25", bm25_scores(bd, terms), nd, "docs",
        warm=bm25_scores(tiny, terms),
    )
    ids = spark.range(N_ROWS).select(
        F.col("id").alias("vec_id"), (F.col("id") % 97).alias("label")
    )
    _timed("balanced_sample", balanced_sample(ids), N_ROWS,
           warm=balanced_sample(ids.limit(1000)))
    # PQ encode at 1M synthetic 64-dim vectors (deterministic hash
    # features — no RNG): the bytes-per-candidate compression pass
    from clickhouse_etl_spark.dataops.similarity import _pq_codebooks, pq_encode

    n_vec = 1_000_000
    vecs = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.col("id") * 131 + i * 65537) % 1000).cast("double") / 1000.0,
        ).alias("embedding"),
    )
    books = _pq_codebooks(vecs, m=8, n_codes=16, vec_col="embedding", id_col="vec_id")
    _timed(
        "pq_encode", pq_encode(vecs, books), n_vec,
        warm=pq_encode(vecs.limit(1000), books),
    )
    # the composed web-scale ANN at 1M vectors: cells + codes + LUT ADC
    queries = vecs.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    _timed_ivf_pq(spark, "ivf_pq_topk_1M", vecs, queries, n_vec, "/tmp/scale_ivf_pq")


def section_r5(spark) -> None:
    """Persisted IVF+PQ index: build ONCE, then query-only latency —
    the serving shape VERDICT r4 #2 asked for (vs a rebuild per
    call)."""
    import shutil

    from clickhouse_etl_spark.dataops.similarity import (
        pq_index_build,
        pq_index_query,
    )

    n_vec = 1_000_000
    vecs = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.col("id") * 131 + i * 65537) % 1000).cast("double") / 1000.0,
        ).alias("embedding"),
    )
    queries = vecs.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    path = "/tmp/scale_pq_index"
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    pq_index_build(vecs, path, n_centroids=16, m=8, n_codes=16)
    print(f"pq_index_build_1M: {time.perf_counter() - t0:.1f}s (one-time)")
    _timed(
        "pq_index_query_1M", pq_index_query(spark, path, queries, k=10, n_probe=4),
        n_vec,
        warm=pq_index_query(spark, path, queries.limit(1), k=10, n_probe=4),
    )
    _timed_ivf_pq(spark, "ivf_pq_rebuild_per_call_1M", vecs, queries, n_vec, path)

    # BPE tokenizer training at 100k docs: the corpus-scale phase is
    # the word count; the merge loop runs over the bounded table
    from clickhouse_etl_spark.dataops.bpe import apply_bpe, learn_bpe

    bd = spark.read.parquet(f"{BASE}/docs")
    nd = bd.count()
    t0 = time.perf_counter()
    merges = learn_bpe(bd, n_merges=64)
    print(f"bpe_learn_100k: {time.perf_counter() - t0:.1f}s ({len(merges)} merges)")
    _timed(
        "bpe_apply_100k", apply_bpe(bd, merges), nd, "docs",
        warm=apply_bpe(bd.limit(200), merges),
    )


def section_r6(spark) -> None:
    """Index lifecycle at scale (VERDICT r5 #6): build at 1M vectors,
    APPEND a 100k wave with the stored codebooks (no retrain), and show
    (a) the append costs a wave-sized encode, (b) query latency is
    unchanged after the append, (c) recall on the appended index holds
    a floor vs exact brute force over the grown corpus."""
    import shutil

    from clickhouse_etl_spark.dataops.similarity import (
        cosine_topk,
        pq_index_append,
        pq_index_build,
        pq_index_query,
    )

    n_vec, n_wave = 1_000_000, 100_000

    def synth(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: ((F.col("id") * 131 + i * 65537) % 1000).cast("double") / 1000.0,
            ).alias("embedding"),
        )

    base = synth(0, n_vec)
    wave = synth(n_vec, n_wave)
    queries = base.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    path = "/tmp/scale_pq_index_r6"
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    pq_index_build(base, path, n_centroids=16, m=8, n_codes=16)
    print(f"pq_index_build_1M: {time.perf_counter() - t0:.1f}s (one-time)")
    _timed(
        "pq_index_query_pre_append",
        pq_index_query(spark, path, queries, k=10, n_probe=4),
        n_vec,
        warm=pq_index_query(spark, path, queries.limit(1), k=10, n_probe=4),
    )
    t0 = time.perf_counter()
    pq_index_append(spark, path, wave)
    dt = time.perf_counter() - t0
    print(f"pq_index_append_100k: {dt:.1f}s ({n_wave/dt/1000:.0f}k vec/s)")
    _timed(
        "pq_index_query_post_append",
        pq_index_query(spark, path, queries, k=10, n_probe=4),
        n_vec + n_wave,
    )
    # recall floor on the GROWN index vs exact brute force at 1.1M —
    # appended codes use the stored (1M-trained) codebooks, so this is
    # the number that tells you when distribution drift demands retrain
    grown = base.unionByName(wave)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_index_query(spark, path, queries, k=10, n_probe=4).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(grown, queries, k=10).collect()
    }
    recall = len(approx & exact) / len(exact)
    # floor raised 0.30 -> 0.90 with the r7 shortlist_factor default
    # (8 -> 32): the 4-bit-code ADC shortlist was the recall bottleneck
    # (top-80 missed true neighbors the exact re-rank never saw); the
    # deeper shortlist costs no measurable query latency because the
    # re-rank fetch stays tiny either way (measured 1M vectors:
    # recall 0.78 -> 1.00, query 4.4s -> 2.7s same-window)
    print(f"pq_index_recall_post_append: {recall:.2f} (floor 0.90)")
    assert recall >= 0.90, f"appended-index recall collapsed: {recall}"
    # duplicate-guard sanity: re-appending the SAME wave must be a no-op
    n_codes_before = spark.read.parquet(f"{path}/codes").count()
    pq_index_append(spark, path, wave)
    n_codes_after = spark.read.parquet(f"{path}/codes").count()
    assert n_codes_before == n_codes_after == n_vec + n_wave, (
        n_codes_before, n_codes_after,
    )
    print(f"pq_index_reappend_noop: codes stable at {n_codes_after}")
    shutil.rmtree(path, ignore_errors=True)

    # r6 text/sketch ops at 100k docs / 10M events
    from clickhouse_etl_spark.dataops.dedup import ngram_containment_pairs
    from clickhouse_etl_spark.dataops.sketches import cms_estimate
    from clickhouse_etl_spark.dataops.text import hash_embedding, normalize_text

    bd = spark.read.parquet(f"{BASE}/docs")
    nd = bd.count()
    _timed(
        "normalize_text_100k", normalize_text(bd), nd, "docs",
        warm=normalize_text(bd.limit(200)),
    )
    _timed(
        "hash_embedding_100k", hash_embedding(bd, dim=64), nd, "docs",
        warm=hash_embedding(bd.limit(200), dim=64),
    )
    _timed(
        "ngram_containment_100k",
        ngram_containment_pairs(bd, n=5, threshold=0.6),
        nd, "docs",
        warm=ngram_containment_pairs(bd.limit(500), n=5, threshold=0.6),
    )
    bev = spark.read.parquet(f"{BASE}/events")
    _timed(
        "cms_estimate_10M", cms_estimate(bev, "user_id", width=256, depth=4),
        N_ROWS,
        warm=cms_estimate(bev.limit(5000), "user_id", width=256, depth=4),
    )


def section_r7(spark) -> None:
    """Skewed-key scale evidence (VERDICT r6 #5): every earlier section
    keys uniformly; real 100-TB corpora are Zipf. Keys here follow a
    bounded-Pareto Zipf(s=1.1, K=100k) via the exact inverse-CDF
    transform of a deterministic per-row uniform — the hottest key
    carries ~10% of all 10M rows (1M rows on one key). Each skewed op
    is timed against its uniform twin IN THE SAME JVM/window (cross-
    section comparisons carry host steal), with the ~3x bound asserted,
    and the AQE skew-join split is asserted to have engaged on the
    hot-key shuffle join.

    AQE thresholds are lowered section-locally (8 MB skew threshold /
    4 MB advisory target): at 10M test rows the hot partition is ~30 MB
    — far below the 256 MB default that 100-TB partitions trip
    naturally — so the section exercises the MECHANISM, not the
    default tuning.

    ngram_containment under skew is covered by bracketing: the r6
    section's all-dup corpus is the s→∞ extreme of content skew (every
    doc one template), and the df-cap inside the shared inverted-index
    engine excludes hot-rank shingles by construction — a finite-s Zipf
    corpus sits strictly between the uniform and all-dup measurements.
    """
    from clickhouse_etl_spark.operators.dedup import dedup_windowed
    from clickhouse_etl_spark.operators.join import temporal_join_batch
    from clickhouse_etl_spark.spec.model import (
        JoinConfig,
        JoinOutputField,
        JoinSourceConfig,
    )

    bev = spark.read.parquet(f"{BASE}/events")
    # exact bounded-Pareto inverse CDF: u uniform in [0,1) from a
    # deterministic row hash; r = (1 - u*(1 - K^(1-s)))^(1/(1-s))
    S, K = 1.1, 100_000
    u = (F.pmod(F.xxhash64("event_id"), F.lit(1_000_000)).cast("double")
         / F.lit(1_000_000.0))
    zkey = F.floor(
        F.pow(
            F.lit(1.0) - u * F.lit(1.0 - K ** (1.0 - S)),
            F.lit(1.0 / (1.0 - S)),
        )
    ).cast("bigint")
    zev = bev.withColumn("zkey", zkey)

    hot = zev.filter(F.col("zkey") == 1).count()
    print(f"zipf_hot_key_rows: {hot} of {N_ROWS} ({100.0*hot/N_ROWS:.1f}%)")

    def _best2(df) -> float:
        df.limit(1000).write.mode("overwrite").format("noop").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    def _pair(name: str, uniform_df, zipf_df, factor: float = 3.0) -> None:
        tu, tz = _best2(uniform_df), _best2(zipf_df)
        ratio = tz / tu
        print(
            f"{name}: uniform {tu:.2f}s ({N_ROWS/tu/1e6:.1f}M rows/s) vs "
            f"zipf {tz:.2f}s ({N_ROWS/tz/1e6:.1f}M rows/s) — ratio {ratio:.2f}"
        )
        assert ratio <= factor, (
            f"{name}: zipf {tz:.2f}s vs uniform {tu:.2f}s exceeds {factor}x"
        )

    _pair(
        "group_agg_skew",
        bev.groupBy("user_id").agg(F.sum("value"), F.count("*")),
        zev.groupBy("zkey").agg(F.sum("value"), F.count("*")),
    )
    _pair(
        "dedup_windowed_skew",
        dedup_windowed(bev, "user_id", "ts", 3600, ["event_id"]),
        dedup_windowed(zev, "zkey", "ts", 3600, ["event_id"]),
    )

    # hot-key shuffle join: right reduced to latest-per-key (bounded),
    # merge-hinted so the small right cannot broadcast away the demo;
    # thresholds lowered so AQE's OptimizeSkewedJoin splits the ~30MB
    # hot partition (defaults engage at 100-TB partition sizes)
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2MB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        right = (
            bev.limit(2_000_000)
            .select(
                zkey.alias("rkey"),
                F.col("ts").alias("rts"),
                F.col("value").alias("rvalue"),
                F.col("event_id").alias("rid"),
            )
            .hint("merge")
        )
        cfg = JoinConfig(
            left=JoinSourceConfig("e", "zkey", 0, "left"),
            right=JoinSourceConfig("r", "rkey", 0, "right"),
            output_fields=(
                JoinOutputField("e", "event_id", "event_id"),
                JoinOutputField("e", "zkey", "zkey"),
                JoinOutputField("r", "rvalue", "rvalue"),
            ),
        )
        joined = temporal_join_batch(
            zev.hint("merge"), right, cfg,
            right_ts_col="rts", right_tiebreak=["rid"],
        )
        # consume through a global aggregate OVER THE PAYLOAD COLUMNS on
        # the SAME DataFrame object: its QueryExecution finalizes under
        # AQE (a noop write runs a separate execution whose final plan we
        # can't inspect), and summing the payload keeps the real row
        # width through the join — a bare count() prunes everything but
        # the join key, whose identical hot values compress to almost
        # nothing and duck under any skew threshold
        counted = joined.groupBy().agg(
            F.count("*").alias("count"),
            F.sum(F.col("event_id") + F.col("rvalue")).alias("_chk"),
        )
        t0 = time.perf_counter()
        n_out = counted.collect()[0]["count"]
        dt = time.perf_counter() - t0
        plan = counted._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE skew-join did not engage on the hot-key join:\n" + plan[:1500]
        )
        print(
            f"temporal_join_zipf: {dt:.2f}s ({N_ROWS/dt/1e6:.1f}M rows/s, "
            f"{n_out} joined rows) — AQE skew=true split engaged"
        )
    finally:
        spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        )
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")


def section_r7b(spark) -> None:
    """Late-r7 ops at 100k docs: the trained hash-feature classifier
    (Arrow featurizer) and the cluster-then-cap sampler through the
    declarable dataop surface (hash-embed → k-means assign → per-cell
    cap). The classifier's localCheckpoints run at frame-construction
    time, so each timed run REBUILDS the frame — construction and
    execution both sit inside the clock."""
    from clickhouse_etl_spark.dataops.text import trained_quality_classifier
    from clickhouse_etl_spark.plans.compiler import resolve_dataop

    bd = spark.read.parquet(f"{BASE}/docs")
    nd = bd.count()

    def _best2_build(fn) -> float:
        fn().limit(1000).write.mode("overwrite").format("noop").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn().write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    dt = _best2_build(lambda: trained_quality_classifier(bd))
    print(f"trained_classifier: {dt:.1f}s ({nd/dt/1000:.0f}k docs/s)")

    dt = _best2_build(
        lambda: resolve_dataop("cluster_sample")(bd, cap=2000, n_centroids=16)
    )
    print(f"cluster_sample_dataop: {dt:.1f}s ({nd/dt/1000:.0f}k docs/s)")

    # Bloom seen-set at 100k docs: one-time build (distributed sparse
    # bitmap), then the row-local probe; artifact size vs the digest
    # table is the 100-TB shipping argument
    import glob

    from clickhouse_etl_spark.dataops.dedup import (
        dedup_against_path,
        write_bloom_table,
        write_digest_table,
    )

    bloom_path = f"{BASE}/bloom_seen_100k"
    digest_path = f"{BASE}/digest_seen_100k"
    # size the filter to the TRUE distinct-key count (the replicated
    # 100k-doc corpus holds ~5k distinct texts) so the artifact ratio
    # compares equal key counts — the honest shipping argument
    n_keys = bd.select(F.md5(F.coalesce("text", F.lit("")))).distinct().count()
    t0 = time.perf_counter()
    write_bloom_table(bd, bloom_path, capacity=n_keys, mode="overwrite")
    t_build = time.perf_counter() - t0
    write_digest_table(bd, digest_path, mode="overwrite")
    b_sz = sum(os.path.getsize(p) for p in glob.glob(f"{bloom_path}/*.parquet"))
    d_sz = sum(os.path.getsize(p) for p in glob.glob(f"{digest_path}/*.parquet"))
    dt = _best2_build(
        lambda: dedup_against_path(bd, bloom_path)
    )
    print(
        f"bloom_seen_set: {n_keys} keys, build {t_build:.1f}s, probe "
        f"{dt:.1f}s ({nd/dt/1000:.0f}k docs/s), artifact {b_sz//1024}KB "
        f"vs digest table {d_sz//1024}KB"
    )


def section_r8(spark) -> None:
    """Decade-up scale evidence (VERDICT r7 #5): the flagship ops at
    100M events / 1M docs, each timed against its 10M/100k baseline in
    the SAME JVM so the per-row-cost ratio is steal-comparable. Linear
    scaling reads as ratio ≈ 1 (10× data, 10× time); a ratio past ~2
    means something super-linear crept in (a spill, a broadcast
    crossing a threshold, a driver collect growing with N) and is
    flagged loud. Everything must complete OOM-free inside the 128 GiB
    sandbox bound — which it does with wide headroom: the section's
    frames stream through the executors (no caching), so peak memory
    tracks partition size, not corpus size."""
    from clickhouse_etl_spark.dataops.dedup import (
        dedup_against_path,
        exact_dedup,
        write_bloom_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.dataops.text import (
        classify_against_path,
        write_classifier_table,
    )
    from clickhouse_etl_spark.operators.dedup import dedup_windowed

    ev_small = spark.read.parquet(f"{BASE}/events")
    docs_small = spark.read.parquet(f"{BASE}/docs")
    p_ev = f"{BASE}/events_100m"
    p_docs = f"{BASE}/docs_1m"
    if not os.path.isdir(p_ev):
        t0 = time.perf_counter()
        mult = spark.range(10).select(F.col("id").alias("rep"))
        (
            ev_small.crossJoin(mult)
            .withColumn("event_id", F.col("event_id") + F.col("rep") * 1_000_000_000)
            # user keys derive by HASHING (user_id, rep) — additive
            # shifts would leave the key distribution 10 exact clones of
            # the sf-corpus distribution, flattering decade-up group-agg
            # (VERDICT r8 nit #1); the hash keeps each user's per-key
            # event count but decorrelates the clone populations
            .withColumn(
                "user_id",
                F.pmod(
                    F.xxhash64(F.col("user_id"), F.col("rep")),
                    F.lit(1_000_000_000_000),
                ),
            )
            .drop("rep")
            .repartition(256)
            .write.mode("overwrite")
            .parquet(p_ev)
        )
        print(f"materialized 100M events in {time.perf_counter()-t0:.1f}s")
    if not os.path.isdir(p_docs):
        t0 = time.perf_counter()
        mult = spark.range(10).select(F.col("id").alias("rep"))
        (
            docs_small.crossJoin(mult)
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 1_000_000_000)
            .drop("rep")
            .repartition(64)
            .write.mode("overwrite")
            .parquet(p_docs)
        )
        print(f"materialized 1M docs in {time.perf_counter()-t0:.1f}s")
    ev_big = spark.read.parquet(p_ev)
    docs_big = spark.read.parquet(p_docs)

    def _best2(df) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    def _pair(name, small_df, big_df, n_small, n_big, unit="rows") -> None:
        # warm on the small frame: codegen compiles once, outside both
        small_df.limit(1000).write.mode("overwrite").format("noop").save()
        dt_s = _best2(small_df)
        dt_b = _best2(big_df)
        ratio = (dt_b / n_big) / (dt_s / n_small)
        scale = 1e6 if unit == "rows" else 1e3
        u = "M rows/s" if unit == "rows" else "k docs/s"
        flag = "  ** SUPER-LINEAR **" if ratio > 2.0 else ""
        print(
            f"{name}: {n_small/1e6:.0f}M->{n_big/1e6:.0f}M in "
            f"{dt_s:.1f}s/{dt_b:.1f}s "
            f"({n_small/dt_s/scale:.1f}/{n_big/dt_b/scale:.1f} {u}), "
            f"per-row-cost ratio {ratio:.2f}{flag}"
        )

    n_ev_s, n_ev_b = 10_000_000, 100_000_000
    n_d_s, n_d_b = 100_000, 1_000_000

    _pair(
        "group_agg",
        ev_small.groupBy("event_type").agg(F.sum("value"), F.countDistinct("user_id")),
        ev_big.groupBy("event_type").agg(F.sum("value"), F.countDistinct("user_id")),
        n_ev_s, n_ev_b,
    )
    _pair(
        "dedup_windowed",
        dedup_windowed(ev_small, "user_id", "ts", 3600, ["event_id"]),
        dedup_windowed(ev_big, "user_id", "ts", 3600, ["event_id"]),
        n_ev_s, n_ev_b,
    )

    # temporal join: the probe side scales 10x against the same 1.5M
    # orders build side
    from clickhouse_etl_spark.operators.join import temporal_join_batch
    from clickhouse_etl_spark.spec.model import (
        JoinConfig,
        JoinOutputField,
        JoinSourceConfig,
    )

    bord = spark.read.parquet(f"{BASE}/orders")
    cfg = JoinConfig(
        left=JoinSourceConfig("e", "user_id", 0, "left"),
        right=JoinSourceConfig("o", "o_custkey", 0, "right"),
        output_fields=(
            JoinOutputField("e", "event_id", "event_id"),
            JoinOutputField("e", "user_id", "user_id"),
            JoinOutputField("o", "o_totalprice", "total_price"),
        ),
    )
    _pair(
        "temporal_join",
        temporal_join_batch(ev_small, bord, cfg, right_ts_col="o_orderdate",
                            right_tiebreak=["o_orderkey"]),
        temporal_join_batch(ev_big, bord, cfg, right_ts_col="o_orderdate",
                            right_tiebreak=["o_orderkey"]),
        n_ev_s, n_ev_b,
    )

    from clickhouse_etl_spark.operators.join import asof_join

    def _asof(ev):
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        purch = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_event_id"), "user_id", "ts"
        )
        return asof_join(
            clicks, purch, "user_id", "ts", "ts",
            right_cols=["p_event_id"], how="left",
        )

    _pair("asof_join", _asof(ev_small), _asof(ev_big), n_ev_s, n_ev_b)
    # the windowed-dedup ratio above ~1 is the per-partition sort's
    # n·log n at a FIXED partition count (10x rows into the same 32
    # shuffle partitions); production sizes shuffle partitions to the
    # data — demonstrate the fix with the encoded rule (VERDICT r9 #7),
    # same JVM
    from clickhouse_etl_spark.dataops.util import sized_shuffle

    with sized_shuffle(spark, n_ev_b) as parts:
        dt = _best2(
            dedup_windowed(ev_big, "user_id", "ts", 3600, ["event_id"])
        )
        print(
            f"dedup_windowed[shuffle.partitions={parts}]: {dt:.1f}s "
            f"({n_ev_b/dt/1e6:.1f}M rows/s)"
        )

    _pair(
        "exact_dedup",
        exact_dedup(docs_small),
        exact_dedup(docs_big),
        n_d_s, n_d_b, unit="docs",
    )

    # bloom probe: capacity sized to the true distinct-key count at
    # each scale (the replicated corpora share ~5k distinct texts, so
    # the filters are equal-size — the probe cost is what scales)
    n_keys = docs_big.select(F.md5(F.coalesce("text", F.lit("")))).distinct().count()
    bs, bb = f"{BASE}/bloom_r8_small", f"{BASE}/bloom_r8_big"
    write_bloom_table(docs_small, bs, capacity=n_keys, mode="overwrite")
    write_bloom_table(docs_big, bb, capacity=n_keys, mode="overwrite")
    release_artifact_cache()
    _pair(
        "bloom_probe",
        dedup_against_path(docs_small, bs),
        dedup_against_path(docs_big, bb),
        n_d_s, n_d_b, unit="docs",
    )

    model = f"{BASE}/clf_r8"
    t0 = time.perf_counter()
    write_classifier_table(docs_big, model, mode="overwrite")
    print(f"classifier train (one-time, 1M docs): {time.perf_counter()-t0:.1f}s")
    _pair(
        "classifier_scoring",
        classify_against_path(docs_small, model),
        classify_against_path(docs_big, model),
        n_d_s, n_d_b, unit="docs",
    )

    # the FULL fused curation body (normalize -> bloom probe ->
    # classifier scoring — the streaming deployment's per-batch work)
    # at both doc scales. The raw-text blooms rarely match canonical
    # digests, which is the WORST case: probe cost is identical per
    # row and ~every doc flows on to the scorer
    from clickhouse_etl_spark.streaming.curation import curation_scored_stream

    release_artifact_cache()
    _pair(
        "curation_fused_body",
        curation_scored_stream(docs_small, bs, model),
        curation_scored_stream(docs_big, bb, model),
        n_d_s, n_d_b, unit="docs",
    )


def section_r8b(spark) -> None:
    """TWO decades up — 1B rows, synthetic generator input: spark.range
    is a perfectly parallel leaf, so there is no materialization cost
    and no parquet scan; what remains is exactly the part that decides
    100-TB behavior — codegen throughput, partial aggregation, and the
    full-corpus shuffle. Shuffle partitions are sized to the data
    via shuffle_partitions_for (the encoded section_r8 rule); the
    windowed dedup shuffles the full ~30 GB row payload through
    /dev/shm."""
    from clickhouse_etl_spark.dataops.util import shuffle_partitions_for

    n = 1_000_000_000
    # target 1M rows/partition here, NOT the 500k default: it
    # reproduces the r8-recorded 1024-partition configuration (both
    # loads sit in the measured-healthy band — ~980k vs ~490k rows per
    # partition — but cross-round comparisons need the same count)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions_for(n, target_rows_per_partition=1_000_000)),
    )
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10_000_000).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ("click", "view", "purchase", "scroll", "hover")]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("event_type"),
        F.timestamp_seconds(1_700_000_000 + (F.col("id") % 31_536_000)).alias("ts"),
        ((F.col("id") * 7919) % 100_000).cast("double").alias("value"),
    )

    def _best2(df) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    filt = ev.filter((F.col("value") > 50_000) & (F.col("event_type") == "click"))
    filt.limit(1000).write.mode("overwrite").format("noop").save()  # codegen warm
    dt = _best2(filt)
    print(f"filter_project_1B: {dt:.1f}s ({n/dt/1e6:.0f}M rows/s)")

    agg = ev.groupBy("event_type").agg(
        F.sum("value"), F.countDistinct("user_id")
    )
    dt = _best2(agg)
    print(f"group_agg_1B: {dt:.1f}s ({n/dt/1e6:.0f}M rows/s)")

    # distinct-cardinality scale paths at 1B: native HLL
    # (approx_count_distinct) is the O(k)-state compute path — its
    # partial aggregate never materializes the distinct pairs; the
    # portable KMV sketch pays a distinct-pair shuffle like the exact
    # form (its value is cross-engine verifiability + a mergeable
    # artifact, not compute)
    hll = ev.groupBy("event_type").agg(
        F.sum("value"), F.approx_count_distinct("user_id")
    )
    dt = _best2(hll)
    print(f"group_agg_hll_1B: {dt:.1f}s ({n/dt/1e6:.0f}M rows/s)")

    from clickhouse_etl_spark.dataops.sketches import kmv_distinct

    kmv = kmv_distinct(ev, "user_id", group_col="event_type", k=64)
    dt = _best2(kmv)
    print(f"kmv_distinct_1B: {dt:.1f}s ({n/dt/1e6:.0f}M rows/s)")

    from clickhouse_etl_spark.operators.dedup import dedup_windowed

    dd = dedup_windowed(ev, "user_id", "ts", 3600, ["event_id"])
    dt = _best2(dd)
    print(f"dedup_windowed_1B: {dt:.1f}s ({n/dt/1e6:.1f}M rows/s)")


def _decade_docs(spark):
    """Materialize (once) and return the 1M / 10M replicated docs
    corpora shared by the r9 sections."""
    docs_small = spark.read.parquet(f"{BASE}/docs")
    p_1m = f"{BASE}/docs_1m"
    p_10m = f"{BASE}/docs_10m"
    for path, reps, parts in ((p_1m, 10, 64), (p_10m, 100, 256)):
        if not os.path.isdir(path):
            t0 = time.perf_counter()
            mult = spark.range(reps).select(F.col("id").alias("rep"))
            (
                docs_small.crossJoin(mult)
                .withColumn(
                    "doc_id", F.col("doc_id") + F.col("rep") * 1_000_000_000
                )
                .drop("rep")
                .repartition(parts)
                .write.mode("overwrite")
                .parquet(path)
            )
            print(
                f"materialized {reps/10:.0f}M docs in "
                f"{time.perf_counter()-t0:.1f}s"
            )
    return spark.read.parquet(p_1m), spark.read.parquet(p_10m)


def _decade_pair(name, small_df, big_df, n1=1_000_000, n10=10_000_000):
    def _best2(df) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        return best

    small_df.limit(1000).write.mode("overwrite").format("noop").save()
    dt_s = _best2(small_df)
    dt_b = _best2(big_df)
    ratio = (dt_b / n10) / (dt_s / n1)
    flag = "  ** SUPER-LINEAR **" if ratio > 2.0 else ""
    print(
        f"{name}: {n1/1e6:g}M->{n10/1e6:g}M rows in {dt_s:.1f}s/{dt_b:.1f}s "
        f"({n1/dt_s/1000:.0f}/{n10/dt_b/1000:.0f}k rows/s), "
        f"per-row-cost ratio {ratio:.2f}{flag}"
    )


def section_r9(spark) -> None:
    """Docs-side decade evidence to 10M documents (VERDICT r8 #6): the
    events side reached 1B rows in r8 but the curation body stopped at
    1M docs. One JVM, per-row-cost ratios of the row-local curation ops
    (exact dedup, bloom probe, classifier scoring, the fused curation
    body) at 10M docs vs their 1M baselines — linear reads as ratio ≈ 1,
    anything past ~2 prints SUPER-LINEAR and needs the section_r8-style
    attribution. The corpus replicates the 100k generator docs 100×
    (additive doc_id shifts are fine here: none of these ops group by
    doc_id; exact dedup groups by text digest, so the replicated corpus
    is its all-dup WORST case — every text collapses 100+ ways)."""
    from clickhouse_etl_spark.dataops.dedup import (
        dedup_against_path,
        exact_dedup,
        write_bloom_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.dataops.text import (
        classify_against_path,
        write_classifier_table,
    )
    from clickhouse_etl_spark.streaming.curation import curation_scored_stream

    d1, d10 = _decade_docs(spark)
    # shuffle partitions sized to the data (the encoded section_r8
    # rule): the exact-dedup digest shuffle moves ~10x the rows, and
    # document rows are ~10x heavier than event rows, so the per-
    # partition target drops accordingly (10M docs at 256 partitions
    # is the measured-healthy r9 configuration)
    from clickhouse_etl_spark.dataops.util import shuffle_partitions_for

    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions_for(10_000_000, target_rows_per_partition=40_000)),
    )
    _pair = _decade_pair

    _pair("exact_dedup", exact_dedup(d1), exact_dedup(d10))

    # bloom filters sized to the TRUE distinct-text count (identical at
    # both scales — replication adds no new texts), so probe cost is
    # the only thing scaling
    n_keys = d10.select(F.md5(F.coalesce("text", F.lit("")))).distinct().count()
    b1, b10 = f"{BASE}/bloom_r9_1m", f"{BASE}/bloom_r9_10m"
    write_bloom_table(d1, b1, capacity=n_keys, mode="overwrite")
    write_bloom_table(d10, b10, capacity=n_keys, mode="overwrite")
    release_artifact_cache()
    _pair(
        "bloom_probe",
        dedup_against_path(d1, b1),
        dedup_against_path(d10, b10),
    )

    model = f"{BASE}/clf_r9"
    if not os.path.isdir(model):
        t0 = time.perf_counter()
        write_classifier_table(d10, model, mode="overwrite")
        print(f"classifier train (one-time, 10M docs): {time.perf_counter()-t0:.1f}s")
    _pair(
        "classifier_scoring",
        classify_against_path(d1, model),
        classify_against_path(d10, model),
    )

    release_artifact_cache()
    _pair(
        "curation_fused_body",
        curation_scored_stream(d1, b1, model),
        curation_scored_stream(d10, b10, model),
    )

    # r9 ops at decade scale: the Gopher battery is row-local (per-row
    # token/line folds, zero shuffle); temperature mixing is one
    # map-side groupBy to a source-bounded rate table + a row-local
    # hash gate (the replicated corpus keeps the source cardinality of
    # the generator corpus, so the rate table stays tiny at both SFs)
    from clickhouse_etl_spark.dataops.text import (
        gopher_rules,
        temperature_mixture,
    )

    _pair("gopher_rules", gopher_rules(d1), gopher_rules(d10))
    _pair(
        "temperature_mixture",
        temperature_mixture(d1),
        temperature_mixture(d10),
    )


def section_r9b(spark) -> None:
    """r9 wave-2 ops at decade scale (1M → 10M docs, same replicated
    corpora as section_r9, fresh JVM): the C4 line battery (row-local
    string folds — rides the scan), corpus-level exact line dedup (the
    one NEW shuffle shape this wave: a line-keyed window top-1 + a
    doc-keyed reassembly; on the single-line replicated corpus every
    text repeats 100+ ways, so this is its all-dup worst case, like
    exact_dedup's), and DSIR importance weighting (one explode + one
    (doc,bucket) aggregation over ~540M token rows at 10M docs; the
    weight table stays dim-bounded and broadcast). Linear reads as
    per-row-cost ratio ≈ 1; > 2 prints SUPER-LINEAR."""
    from clickhouse_etl_spark.dataops.dedup import line_dedup
    from clickhouse_etl_spark.dataops.text import (
        c4_filters,
        importance_weights,
    )

    d1, d10 = _decade_docs(spark)
    from clickhouse_etl_spark.dataops.util import shuffle_partitions_for

    # fat document rows: the same 40k-docs/partition target as
    # section_r9 (10M docs -> 256 partitions, measured healthy)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions_for(10_000_000, target_rows_per_partition=40_000)),
    )
    _pair = _decade_pair

    # the dim-bounded weight table is collected at plan build (the
    # classify_against pattern) — report it like the classifier's
    # one-time train; _pair later times the row-local scoring pass.
    # Builds run FIRST in the fresh JVM: the long-session degradation
    # (CLAUDE.md r3 note) inflated them ~40% when sequenced third.
    iw = {}
    for tag, frame in (("1M", d1), ("10M", d10)):
        t0 = time.perf_counter()
        iw[tag] = importance_weights(frame, target_sources=["src0", "src1"])
        print(
            f"importance_weights build (one-time, {tag} docs): "
            f"{time.perf_counter()-t0:.1f}s"
        )
    _pair("c4_filters", c4_filters(d1), c4_filters(d10))
    _pair("line_dedup", line_dedup(d1), line_dedup(d10))
    _pair("importance_weights_scoring", iw["1M"], iw["10M"])


def section_r10(spark) -> None:
    """r10 ops at decade scale (1M → 10M docs, same replicated corpora,
    fresh JVM): C4's three-sentence-span removal (one span-digest
    window + a doc-grain drop-set join; on the replicated corpus every
    span repeats 100+ ways — its all-dup worst case, like exact_dedup's)
    and the streaming line-grain probe at both seen-set tiers (exact
    broadcast digest set vs bloom bitmap — each is ONE row-local Arrow
    pass; the probe artifact builds are reported one-time, FIRST in the
    fresh JVM per the r9 sequencing rule). Linear reads as per-row-cost
    ratio ≈ 1; > 2 prints SUPER-LINEAR."""
    from clickhouse_etl_spark.dataops.dedup import (
        line_dedup_against_path,
        sentence_span_dedup,
        write_line_bloom_table,
        write_line_digest_table,
    )
    from clickhouse_etl_spark.dataops.util import (
        release_artifact_cache,
        shuffle_partitions_for,
    )

    d1, d10 = _decade_docs(spark)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions_for(10_000_000, target_rows_per_partition=40_000)),
    )
    _pair = _decade_pair

    # one-time seen-set builds from the SMALL corpus (the cross-wave
    # shape: wave N's artifact probes wave N+1); distinct lines are
    # bounded by the generator's ~5k distinct texts, so both artifacts
    # are small and the probe cost is what scales
    dig_path = f"{BASE}/line_digests_r10"
    bloom_path = f"{BASE}/line_bloom_r10"
    t0 = time.perf_counter()
    write_line_digest_table(d1, dig_path, mode="overwrite")
    n_seen = spark.read.parquet(dig_path).count()
    print(
        f"write_line_digest_table (one-time, 1M docs -> {n_seen} "
        f"digests): {time.perf_counter()-t0:.1f}s"
    )
    t0 = time.perf_counter()
    write_line_bloom_table(d1, bloom_path, capacity=max(n_seen, 1000))
    print(
        f"write_line_bloom_table (one-time, 1M docs): "
        f"{time.perf_counter()-t0:.1f}s"
    )
    _pair(
        "line_dedup_against[digests]",
        line_dedup_against_path(d1, dig_path),
        line_dedup_against_path(d10, dig_path),
    )
    _pair(
        "line_dedup_against[bloom]",
        line_dedup_against_path(d1, bloom_path),
        line_dedup_against_path(d10, bloom_path),
    )
    release_artifact_cache(dig_path)
    release_artifact_cache(bloom_path)
    # span-grain probe: same artifact/broadcast machinery, plus the
    # per-doc sentence split + k-span digesting in the kernel
    from clickhouse_etl_spark.dataops.dedup import (
        span_dedup_against_path,
        write_span_digest_table,
    )

    # the raw synthetic corpus is punctuation-free (zero sentences ->
    # zero spans -> an empty seen-set that never hits); lineate it with
    # the registry's deterministic sentence structure so the probe's
    # seen-set is REAL and hits actually fire at decade scale
    from clickhouse_etl_spark.queries import _lineate_expr

    span_path = f"{BASE}/span_digests_r10"
    lin1 = d1.withColumn("text", _lineate_expr())
    lin10 = d10.withColumn("text", _lineate_expr())
    t0 = time.perf_counter()
    write_span_digest_table(lin1, span_path, mode="overwrite")
    n_spans = spark.read.parquet(span_path).count()
    print(
        f"write_span_digest_table (one-time, 1M lineated docs -> "
        f"{n_spans} digests): {time.perf_counter()-t0:.1f}s"
    )
    assert n_spans > 0, "lineated corpus produced no spans"
    _pair(
        "span_dedup_against[digests]",
        span_dedup_against_path(lin1, span_path),
        span_dedup_against_path(lin10, span_path),
    )
    release_artifact_cache(span_path)
    # same lineation for the batch op: raw docs carry ONE sentence each
    # (no terminal marks -> no 3-spans -> the shuffle would be empty);
    # lineated, every span repeats 100+ ways — the all-dup worst case
    _pair(
        "sentence_span_dedup",
        sentence_span_dedup(lin1),
        sentence_span_dedup(lin10),
    )
    # n-gram-grain decontamination probe (the published 13-gram rule):
    # the benchmark artifact builds ONCE from the 100k base corpus (a
    # realistic eval-suite scale — the artifact is bounded by the EVAL
    # side, never the training corpus), then the training waves probe
    # it row-locally. drop is the published action (early-exits on the
    # first dirty gram — on this all-dup corpus that's the FAST path);
    # flag enumerates every distinct dirty gram (the audit worst case).
    from clickhouse_etl_spark.dataops.dedup import (
        decontaminate_against_path,
        write_ngram_digest_table,
    )

    ngram_path = f"{BASE}/eval_ngrams_r10"
    docs_small = spark.read.parquet(f"{BASE}/docs")
    t0 = time.perf_counter()
    write_ngram_digest_table(docs_small, ngram_path, mode="overwrite")
    n_grams = spark.read.parquet(ngram_path).count()
    print(
        f"write_ngram_digest_table (one-time, 100k eval docs -> "
        f"{n_grams} 13-gram digests): {time.perf_counter()-t0:.1f}s"
    )
    _pair(
        "decontaminate_against[drop]",
        decontaminate_against_path(d1, ngram_path),
        decontaminate_against_path(d10, ngram_path),
    )
    _pair(
        "decontaminate_against[flag]",
        decontaminate_against_path(d1, ngram_path, action="flag"),
        decontaminate_against_path(d10, ngram_path, action="flag"),
    )
    release_artifact_cache(ngram_path)


def section_r10b(spark) -> None:
    """Third-session r10 ops at decade scale (1M -> 10M docs, same
    replicated corpora, fresh JVM): the MinHash-LSH near-dup probe at
    both seen-set tiers (per-doc cost = shingle set + k char-fold
    minhashes + n_bands set probes — compute-heavier per row than the
    line/ngram probes, all row-local) and the Gopher repetition
    battery (per-row line/para/n-gram scans, n=2..10 coverage marking).
    One-time artifact builds FIRST in the fresh JVM (the r9 sequencing
    rule). Linear reads as per-row-cost ratio ~ 1; > 2 prints
    SUPER-LINEAR."""
    from clickhouse_etl_spark.dataops.dedup import (
        neardup_against_path,
        write_band_bloom_table,
        write_band_digest_table,
    )
    from clickhouse_etl_spark.dataops.text import gopher_repetition
    from clickhouse_etl_spark.dataops.util import (
        release_artifact_cache,
        shuffle_partitions_for,
    )

    d1, d10 = _decade_docs(spark)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(shuffle_partitions_for(10_000_000, target_rows_per_partition=40_000)),
    )
    _pair = _decade_pair

    # one-time band artifacts from the SMALL corpus (cross-wave shape;
    # distinct band keys are bounded by the generator's distinct
    # canonical texts x n_bands, so the artifact is small and the
    # per-doc signature computation is what scales)
    band_path = f"{BASE}/band_digests_r10b"
    band_bloom = f"{BASE}/band_bloom_r10b"
    t0 = time.perf_counter()
    write_band_digest_table(d1, band_path, mode="overwrite")
    n_bands = spark.read.parquet(f"{band_path}/bands").count()
    print(
        f"write_band_digest_table (one-time, 1M docs -> {n_bands} "
        f"band digests): {time.perf_counter()-t0:.1f}s"
    )
    t0 = time.perf_counter()
    write_band_bloom_table(d1, band_bloom, capacity=max(n_bands, 1000))
    print(
        f"write_band_bloom_table (one-time, 1M docs): "
        f"{time.perf_counter()-t0:.1f}s"
    )
    _pair(
        "neardup_against[digests,drop]",
        neardup_against_path(d1, band_path),
        neardup_against_path(d10, band_path),
    )
    _pair(
        "neardup_against[digests,flag]",
        neardup_against_path(d1, band_path, action="flag"),
        neardup_against_path(d10, band_path, action="flag"),
    )
    _pair(
        "neardup_against[bloom,drop]",
        neardup_against_path(d1, band_bloom),
        neardup_against_path(d10, band_bloom),
    )
    release_artifact_cache(band_path)
    release_artifact_cache(band_bloom)

    # the repetition battery: pure per-row compute, zero shuffle — the
    # n=5..10 coverage masks dominate (six Counter passes per doc)
    _pair(
        "gopher_repetition",
        gopher_repetition(d1),
        gopher_repetition(d10),
    )

    # embedding-grain probe decade (100k -> 1M synthetic 64-dim
    # vectors, the section_r4 deterministic hash-feature family) at
    # the DEFAULT 8x16-bit geometry (524,288-key space — VERDICT r10
    # #2 moved the default off 8x4, whose 128-key space made this
    # segment an all-hit worst case): the segment now measures real
    # probe selectivity — signature + probe per vector with most
    # probes missing, the production shape
    from clickhouse_etl_spark.dataops.similarity import (
        vec_dedup_against_path,
        write_vec_bucket_table,
    )

    def _vecs(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (
                    (F.col("id") * 131 + i * 65537) % 1000
                ).cast("double") / 1000.0,
            ).alias("embedding"),
        )

    v_small, v_big = _vecs(100_000), _vecs(1_000_000)
    vb_path = f"{BASE}/vec_buckets_r10b"
    t0 = time.perf_counter()
    write_vec_bucket_table(v_small, vb_path, mode="overwrite")
    n_bkt = spark.read.parquet(f"{vb_path}/buckets").count()
    print(
        f"write_vec_bucket_table (one-time, 100k vectors -> {n_bkt} "
        f"bucket digests): {time.perf_counter()-t0:.1f}s"
    )
    _pair(
        "vec_dedup_against[flag]",
        vec_dedup_against_path(v_small, vb_path, action="flag"),
        vec_dedup_against_path(v_big, vb_path, action="flag"),
        n1=100_000,
        n10=1_000_000,
    )
    release_artifact_cache(vb_path)


def main() -> None:
    if len(sys.argv) > 1:
        section = sys.argv[1]
        spark = get_spark(
            app_name=f"scale-test-{section}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        _ensure_data(spark)
        {"ops": section_ops, "text": section_text,
         "multimodal": section_multimodal, "new": section_new,
         "r4": section_r4, "r5": section_r5, "r6": section_r6,
         "r7": section_r7, "r7b": section_r7b,
         "r8": section_r8, "r8b": section_r8b,
         "r9": section_r9, "r9b": section_r9b,
         "r10": section_r10, "r10b": section_r10b}[section](spark)
        return
    # parent: one fresh JVM per section (see module docstring)
    for section in SECTIONS:
        r = subprocess.run([sys.executable, os.path.abspath(__file__), section])
        if r.returncode != 0:
            sys.exit(r.returncode)


if __name__ == "__main__":
    main()
