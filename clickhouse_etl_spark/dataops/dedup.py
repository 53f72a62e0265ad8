"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Every operator avoids O(n^2) over the corpus: candidate pairs come
from an inverted index (shared shingle) or LSH band buckets, then only
candidates get exact verification. At 100 TB the candidate-generation
join is the shuffle; its key (shingle / band) is high-cardinality so
it hash-partitions evenly.

All hashing is the portable char-fold family (hashing.py) so the
DuckDB oracle reproduces signatures bit-for-bit.

Cross-wave dedup probes each key against one seen-set layer: a
persisted artifact per grain (document, line, sentence span, 13-gram,
LSH band; vector buckets in similarity.py), written either as exact
digests (``write_*digest_table``) or as a Bloom bitmap
(``write_*bloom_table``). Each ``*_against_path`` probe reads the tier
from the artifact's columns (:func:`_seen_probe_factory`), the loaded
artifact sits in the one path-keyed cache
(:func:`~.util.cached_artifact`, freed by
:func:`~.util.release_artifact_cache`), and the whole-row verdicts run
through one drop/flag Arrow pass (:func:`_probe_pass`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import MINHASH_COEFFS, affine_hash, char_fold_hash
from .util import (
    _arrow_pass,
    cached_artifact,
    check_append_geometry,
    read_geometry,
    scale_out,
    write_geometry,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: keep min(id) per distinct text.

    md5 is engine-portable (identical hex in Spark and DuckDB). One
    hash-shuffle on the digest; no text comparison beyond the group.
    """
    return (
        df.withColumn("_h", F.md5(F.col(text_col)))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select(
            F.col("keep_id"),
            F.col("n_copies"),
            F.col("_h").alias("content_md5"),
        )
    )


def exact_dedup_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Row-preserving exact dedup: the surviving (min-id) full row per
    distinct text, original schema unchanged — the chainable form for
    pipeline composition (exact_dedup returns the per-content summary).
    row_number()=1 compiles to WindowGroupLimit (partial top-k per
    hash group), so no group ever fully sorts."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _word_ngrams(text: Column, n: int) -> Column:
    """Distinct n-word shingles as strings (space-joined)."""
    toks = F.split(text, " ")
    # sequence(1, x) flips to descending when x < 1 — guard short docs
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.array_distinct(grams)


def _shingle_stream(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    """The distinct-shingle stream (id, sz, g) — one row per distinct
    n-gram per document, with sz = the document's distinct-shingle
    count. Row-local (no shuffle).

    Shingles come from ONE Arrow ``mapInPandas`` pass: the expression
    form (an explode of :func:`_word_ngrams`) nests higher-order
    functions (transform/slice/array_join over the token array) that
    are CodegenFallback — interpreted per element — and profiling at
    sf0.1 put that projection at ~80% of the whole pair-engine runtime
    (2.6 s of 3.2 s for 5k docs). The Python generator replays the
    exact same semantics (split on single space keeping empties,
    space-joined n-word windows, first-occurrence-distinct), so the
    stream is row-identical to the expression form (equality-pinned in
    tests)."""
    from pyspark.sql.types import (
        IntegralType,
        LongType,
        StringType,
        StructField,
    )

    # preserve the input id column's actual type (ADVICE r7: hardcoding
    # 'id long' diverged from the expression form for int32/string ids)
    id_field = df.schema[id_col]
    fields = [
        StructField("id", id_field.dataType, id_field.nullable),
        StructField("sz", LongType(), False),
        StructField("g", StringType(), True),
    ]
    # nullable int ids keep a pandas NULLABLE dtype on the OUTPUT
    # (ADVICE r8: a numpy int64 Series raises on a NULL id where the
    # expression form flows it through; the pass types "id" from its
    # field) — AND travel on a non-null carrier on the INPUT:
    # Arrow→pandas converts an int column containing any NULL to
    # float64, silently rounding ids past 2^53 (review r9), so nullable
    # int ids travel as coalesce(id, 0) + an isNull flag and the kernel
    # reconstructs None exactly.
    if id_field.nullable and isinstance(id_field.dataType, IntegralType):
        src = df.select(
            F.coalesce(F.col(id_col), F.lit(0))
            .cast(id_field.dataType)
            .alias("_id_c"),
            F.col(id_col).isNull().alias("_id_n"),
            F.col(text_col).alias("_txt_c"),
        )
    else:
        src = df.select(
            F.col(id_col).alias("_id_c"),
            F.lit(False).alias("_id_n"),
            F.col(text_col).alias("_txt_c"),
        )

    def shingles(pdf):
        ids: list = []
        szs: list = []
        gs: list = []
        for did, id_null, text in zip(pdf["_id_c"], pdf["_id_n"], pdf["_txt_c"]):
            if id_null:
                did = None
            if text is None:
                continue  # split(NULL) -> NULL, explode drops the row
            w = text.split(" ")
            if len(w) < n:
                continue  # _word_ngrams guards short docs to []
            # dict.fromkeys == array_distinct (first-occurrence order)
            grams = list(
                dict.fromkeys(
                    " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
                )
            )
            ids.extend([did] * len(grams))
            szs.extend([len(grams)] * len(grams))
            gs.extend(grams)
        return None, [ids, szs, gs]

    return _arrow_pass(src, fields, "the shingle stream", keep=())(
        lambda: shingles
    )


def _shared_shingle_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: int,
) -> DataFrame:
    """Inverted-index candidate pairs with shingle-overlap counts —
    the shared engine of :func:`ngram_jaccard_pairs` (symmetric
    near-dup) and :func:`ngram_containment_pairs` (asymmetric
    near-subset). Returns (id_a, id_b, size_a, size_b, shared) with
    id_a < id_b; see ngram_jaccard_pairs for the plan-shape and
    doc-frequency-cap rationale.
    """
    # single-pass inverted index: build the gram stream ONCE (Arrow
    # mapInPandas — see _shingle_stream), group the
    # postings per shingle, emit pair combinations array-side (a
    # self-join would re-derive the shingling for both branches). The
    # doc-frequency cap runs as a window count BEFORE collect_list: the
    # window and the groupBy share one hash partitioning on g (one
    # shuffle of the gram stream, no recomputation), and WindowExec
    # spills its per-group buffer to disk, so a degenerate hot shingle
    # can neither OOM an executor nor reach the pair generator.
    from pyspark.sql import Window

    df = scale_out(df)
    grams = _shingle_stream(df, text_col, id_col, n)
    capped = grams.withColumn("_df", F.count("*").over(Window.partitionBy("g"))).filter(
        (F.col("_df") > 1) & (F.col("_df") <= max_doc_freq)
    )
    postings = capped.groupBy("g").agg(
        F.array_sort(F.collect_list(F.struct("id", "sz"))).alias("ms")
    )
    # all (i < j) combinations of each posting list
    combos = postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ms"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                        lambda y: F.struct(
                            x.getField("id").alias("id_a"),
                            y.getField("id").alias("id_b"),
                            x.getField("sz").alias("size_a"),
                            y.getField("sz").alias("size_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.*")
    return combos.groupBy("id_a", "id_b", "size_a", "size_b").agg(
        F.count("*").alias("shared")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.4,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram-set Jaccard, with an
    inverted-index candidate join (pairs must share >= 1 shingle).

    Output: (id_a, id_b, shared, size_a, size_b, jaccard) with
    id_a < id_b. Jaccard = shared / (size_a + size_b - shared) — pure
    integer counts, so the double division is engine-identical.

    ``max_doc_freq`` drops postings whose shingle occurs in more than
    that many documents — the standard document-frequency cap of
    inverted-index near-dup pipelines. Without it a single boilerplate
    shingle shared by m documents emits C(m, 2) pairs in ONE posting
    group (quadratic blow-up on a hot key — the scale-killer at 100 TB;
    at m = 1M that is ~5e11 pairs from one group). The trade: shared /
    jaccard are computed over non-hot shingles only, so jaccard is a
    lower bound and a pair sharing *only* ultra-common shingles is not
    reported (exact duplicates of such documents are still caught by
    ``exact_dedup``; texts dominated by boilerplate are what the cap is
    *supposed* to ignore).
    """
    shared = _shared_shingle_pairs(df, text_col, id_col, n, max_doc_freq)
    return (
        shared.withColumn(
            "jaccard",
            F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "shared", "size_a", "size_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.6,
    max_doc_freq: int = 100,
) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by n-gram-set containment:
    ``containment = shared / min(size_a, size_b)`` — the smaller
    document's shingles that also appear in the larger one. Jaccard
    misses the "document A is embedded inside document B" shape (a
    short doc fully contained in a long one has tiny Jaccard but
    containment 1.0); containment is the standard subset/quotation/
    boilerplate-inclusion detector (Broder 1997's other resemblance
    measure) a curation pipeline runs NEXT TO the symmetric pass.

    Same inverted-index engine and doc-frequency cap as
    :func:`ngram_jaccard_pairs` (one shuffle of the gram stream, pair
    combinations array-side, no all-pairs stage). Integer counts, one
    division — oracle-exact. Output: (id_a, id_b, shared, size_a,
    size_b, containment), id_a < id_b.
    """
    shared = _shared_shingle_pairs(df, text_col, id_col, n, max_doc_freq)
    return (
        shared.withColumn(
            "containment",
            F.col("shared") / F.least(F.col("size_a"), F.col("size_b")),
        )
        .filter(F.col("containment") >= F.lit(threshold))
        .select("id_a", "id_b", "shared", "size_a", "size_b", "containment")
    )


def _affine_mapper(a: int, b: int):
    # pyspark inspects lambda arity for higher-order functions — bind the
    # coefficients via closure, not default args
    return lambda h: affine_hash(h, a, b)


def _minhash_signature(text: Column, n: int, k: int) -> list[Column]:
    """k MinHash values over n-word shingles (portable hash family)."""
    shingle_hashes = F.transform(_word_ngrams(text, n), char_fold_hash)
    sig = []
    for a, b in MINHASH_COEFFS[:k]:
        sig.append(F.array_min(F.transform(shingle_hashes, _affine_mapper(a, b))))
    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup pairs with exact Jaccard verification.

    1. per-doc k-value MinHash signature over n-word shingles;
    2. LSH banding (k / rows_per_band bands); docs sharing any band
       value become candidates — the only join, keyed by (band_idx,
       band_value), high-cardinality and skew-free;
    3. exact n-gram Jaccard on candidates; keep >= threshold.

    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    df = scale_out(df)
    sig_cols = _minhash_signature(F.col(text_col), n, k)
    n_bands = k // rows_per_band
    bands = [
        F.concat_ws(
            "_",
            *[c.cast("string") for c in sig_cols[i * rows_per_band : (i + 1) * rows_per_band]],
        ).alias(f"band_{i}")
        for i in range(n_bands)
    ]
    # keys-only band join (optimization r12, guide §2.3): the banded
    # stream previously carried the full n-gram STRING ARRAY n_bands
    # times per doc through BOTH sides of the exchange, and two gram
    # arrays per candidate row through the dedupe. Band keys are ~30
    # bytes; the gram arrays join back once per pair side, only for
    # the candidates that survive.
    banded = df.select(
        F.col(id_col).alias("id"),
        *bands,
    ).select(
        "id",
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(str(i)), F.col(f"band_{i}")) for i in range(n_bands)
            ])
        ).alias("band"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    grams = df.select(F.col(id_col).alias("id"), _word_ngrams(F.col(text_col), n).alias("_g"))
    cand = (
        cand.join(grams.select(F.col("id").alias("id_a"), F.col("_g").alias("ga")), "id_a")
        .join(grams.select(F.col("id").alias("id_b"), F.col("_g").alias("gb")), "id_b")
    )
    shared = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size(F.col("ga")) + F.size(F.col("gb")) - shared
    return (
        cand.withColumn("jaccard", shared / union)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    id_col: str = "doc_id",
    max_iter: int = 25,
    local_edge_bound: int | None = 500_000,
) -> DataFrame:
    """Min-label propagation over an undirected edge set: every node
    ends up labeled with the smallest node id reachable from it.

    This is the canonical dedup-clustering step — near-dup PAIRS
    (ngram/MinHash/SimHash/embedding) become GROUPS, with the minimum
    doc id as the deterministic canonical representative.

    Scale notes: the iteration runs ONLY over nodes that appear in an
    edge — isolated nodes (the overwhelming majority of a dedup graph)
    can never change label, so they bypass the loop entirely and union
    back at the end. Each iteration is one join + one min-aggregation,
    both hash-partitioned on the node id; iterations needed = cluster
    diameter (tiny for dedup graphs — near-dup clusters are dense).
    ``localCheckpoint`` truncates the lineage each round so plans don't
    grow; the per-iteration driver round-trip is a single aggregated
    count (convergence check), never row data.

    **Small-graph fast path**: the loop's cost is per-JOB overhead
    (checkpoint + convergence count per round), not data — and a dedup
    graph's edge set is usually tiny next to its corpus. When the edge
    count is within ``local_edge_bound`` (probe: one bounded
    ``limit().count()``), the closure runs as a driver-side union-find
    over the collected edges — identical labels, ONE broadcast join
    back instead of ~10 iterative jobs (the standard solve-small-
    graphs-locally rule; at 500k edges the collect is ~8 MB). Above
    the bound — or with ``local_edge_bound=None`` — the distributed
    loop runs unchanged, so the 100-TB path is unaffected.

    Output: (id_col, cluster_id) for every node in ``nodes``.
    """
    sym = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    )
    # checkpoint the (usually expensive) edge pipeline ONCE, before
    # anything derives from it — touched/labels reuse the materialized
    # edges instead of re-running pair generation
    sym = sym.localCheckpoint()

    if local_edge_bound is not None:
        # probe the MATERIALIZED symmetric frame (2 rows per edge), so
        # the bounded count never re-runs pair generation
        if sym.limit(2 * local_edge_bound + 1).count() <= 2 * local_edge_bound:
            return _cc_local(sym, nodes, id_col)

    touched = sym.select(F.col("src").alias("id")).distinct()
    # hop-1 seeding: the first propagation step has a closed form —
    # label(v) = min(v, min neighbor) — so it folds into initialization
    # as one aggregation instead of a full join-propagate round
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("label"))
        .localCheckpoint()
    )

    def _hop(lab):
        neigh = sym.join(lab, sym.src == lab.id).select(
            F.col("dst").alias("id"), "label"
        )
        return (
            lab.select("id", "label")
            .unionByName(neigh)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )

    for _ in range(max_iter):
        # TWO propagation hops per materialized round: iteration cost
        # is dominated by fixed per-job overhead (checkpoint + count),
        # not data volume, so unrolling halves the round count for the
        # same total shuffle work. The merged frame carries the old
        # label so the convergence count is a trivial scan of the
        # checkpoint, not a second shuffle job.
        merged = (
            _hop(_hop(labels))
            .join(labels.select("id", F.col("label").alias("_old")), "id")
            .localCheckpoint()
        )
        n_changed = merged.filter(F.col("label") < F.col("_old")).count()
        labels = merged.select("id", "label")
        if n_changed == 0:
            break
    isolated = (
        nodes.select(F.col(id_col).alias("id"))
        .join(touched, "id", "left_anti")
        .withColumn("label", F.col("id"))
    )
    return (
        labels.unionByName(isolated)
        .select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    )


def _cc_local(sym: DataFrame, nodes: DataFrame, id_col: str) -> DataFrame:
    """Driver-side union-find closure for bounded edge sets — identical
    min-label components to the distributed loop, one broadcast join
    back onto the node frame (see connected_components docstring)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in sym.collect():
        a, b = row["src"], row["dst"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root IS the canonical label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    mapping = [(x, find(x)) for x in parent]
    spark = nodes.sparkSession
    id_type = nodes.schema[id_col].dataType
    from pyspark.sql import types as T

    map_df = spark.createDataFrame(
        mapping,
        T.StructType([
            T.StructField("_cc_id", id_type, False),
            T.StructField("_cc_label", id_type, False),
        ]),
    )
    return (
        nodes.select(F.col(id_col))
        .join(F.broadcast(map_df), F.col(id_col) == F.col("_cc_id"), "left")
        .select(
            F.col(id_col),
            F.coalesce("_cc_label", F.col(id_col)).alias("cluster_id"),
        )
    )


def dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Near-duplicate clusters: n-gram Jaccard pairs -> connected
    components -> (doc_id, cluster_id, cluster_size, is_canonical).
    Keeping only ``is_canonical`` rows is one-survivor-per-cluster
    dedup — transitively closed, unlike per-pair removal (a~b, b~c
    collapses all three even when a!~c directly)."""
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n=n, threshold=threshold, max_doc_freq=max_doc_freq
    )
    cc = connected_components(pairs, df, id_col=id_col)
    from pyspark.sql import Window

    size = F.count("*").over(Window.partitionBy("cluster_id"))
    return cc.select(
        id_col,
        "cluster_id",
        size.alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def keep_best_per_cluster(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Quality-aware canonical selection: one row per near-dup CLUSTER
    naming the highest-quality member as the survivor — what a
    production curation pipeline actually keeps (min-id canonicals are
    arbitrary; near-dup groups usually contain one clean copy and N
    truncated/boilerplated variants, and the point of clustering is to
    keep the clean one).

    Composition: :func:`dup_clusters` (n-gram Jaccard pairs →
    connected components) × ``text.quality_score``; the ranking key is
    the FIXED-POINT quality ``floor(quality · 2^20)`` (the
    percentile-gate convention — integer comparisons, so the argmax is
    oracle-exact), tie-broken by lowest doc id. The per-cluster pick is
    a constant-K ``row_number() = 1`` (WindowGroupLimit partial top-1,
    keyed by cluster — never a global sort).

    Output: (cluster_id, keep_id, cluster_size, best_quality_fp,
    n_dropped), one row per cluster including singletons
    (n_dropped = 0 there).
    """
    from pyspark.sql import Window

    from .text import quality_score

    clusters = dup_clusters(
        df, text_col, id_col, n=n, threshold=threshold, max_doc_freq=max_doc_freq
    )
    q = quality_score(df, text_col).select(
        F.col(id_col),
        F.floor(F.col("quality") * F.lit(1048576.0)).cast("bigint").alias("_qfp"),
    )
    joined = clusters.join(q, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_qfp").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("keep_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("_qfp").alias("best_quality_fp"),
            (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
        )
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-document SimHash over word unigrams (portable hash family).

    bit_j of the signature is 1 iff sum over words of
    (word_hash >> j) & 1 ? +1 : -1 is positive; near-dup = small
    Hamming distance between signatures.

    Formulation: explode words, hash each ONCE, then 32 conditional
    sums in a single aggregation (an array-fold per bit would recompute
    every word hash 32x). One hash-shuffle on the doc id; bit votes are
    order-independent so distribution is free.
    """
    df = scale_out(df)
    words = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)
        ).alias("_w"),
    )
    hashed = words.select(id_col, char_fold_hash(F.col("_w")).alias("_wh"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_wh"), j) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"_v{j}")
        for j in range(bits)
    ]
    per_doc = hashed.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("bigint")
    for j in range(bits):
        sig = sig + F.when(F.col(f"_v{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return per_doc.select(F.col(id_col), sig.alias("simhash"))


def _content_digest(text_col: str):
    """Cross-wave content digest with an explicit null policy: null
    text is treated as EMPTY text (``md5(coalesce(text, ''))``).

    ``md5(NULL)`` is NULL, and a NULL join key never matches a LEFT
    ANTI join — null-text documents would survive cross-wave dedup
    forever while null digests accumulated in the digest table
    (ADVICE r5). Coalescing makes null-text rows dedup exactly like
    empty-text rows on every digest-lifecycle path (write, batch
    anti-join, stream-static anti-join)."""
    return F.md5(F.coalesce(F.col(text_col), F.lit("")))


def dedup_against(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental corpus dedup: drop new documents whose content
    digest already appears in a previously-ingested corpus, then keep
    the first occurrence within the new batch itself — the
    dedup-per-ingest-wave step of a continuously-growing corpus
    (sources/filestream.py does the streaming form across runs).

    Scale shape: the seen side reduces to DISTINCT digests before the
    join, so the anti-join shuffle carries 32-hex-char digests, never
    text; AQE broadcasts the digest set when it is small. Within-batch
    first-wins is the usual WindowGroupLimit row_number()=1.
    """
    seen = seen_df.select(_content_digest(text_col).alias("_h")).distinct()
    survivors = (
        new_df.withColumn("_h", _content_digest(text_col))
        .join(seen, "_h", "left_anti")
        .drop("_h")
    )
    return exact_dedup_keep(survivors, text_col=text_col, id_col=id_col)


def dedup_against_path(
    df: DataFrame,
    seen_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Spec-surface / stream-safe form of :func:`dedup_against`: the
    seen corpus comes from a parquet path (JSON-declarable), whose
    columns say what it holds:

    - a :func:`write_bloom_table` bitmap — the probe becomes one
      row-local Arrow pass against the closure-shipped bitmap (no join
      at all — the 100-TB tier where even the digest table is too big
      to ship). Seen documents still always drop; ~FPR of fresh
      documents drop with them (declared bits/key trade);
    - a :func:`write_digest_table` table (single ``digest`` column —
      ship digests, not text, between ingest waves);
    - otherwise a documents table, digested on ``text_col``.

    Batch: the cross-wave probe + within-batch first-wins (the full
    :func:`dedup_against`). Streaming: the cross-wave probe only — on
    the digest tiers a stream-static LEFT ANTI join, which Structured
    Streaming executes per micro-batch against the static digest set
    (broadcast when small); within-stream duplicates are the dedup
    STAGE's job (``dropDuplicatesWithinWatermark``), keeping this op
    row-local and append-safe (VERDICT r4 #7).

    The STREAMING path caches the distinct digest set: Structured
    Streaming re-executes the static side of a stream-static join on
    EVERY micro-batch, so an uncached seen set would re-read and
    re-distinct per batch — material when the digest table lives on
    object storage or holds billions of digests. The cache is keyed by
    (path, ``text_col`` for a documents table) and rotates when the
    artifact's file listing changes; call
    :func:`~clickhouse_etl_spark.dataops.util.release_artifact_cache`
    when a wave completes (ADVICE r6), otherwise retired digest sets
    stay in executor storage for the session's lifetime.
    """
    seen_raw = df.sparkSession.read.parquet(seen_path)
    fmt = _seen_format(seen_raw.columns)
    if fmt == "bloom":
        survivors = dedup_against_bloom_path(df, seen_path, text_col, id_col)
    else:
        if fmt == "digests":
            key, dep = F.col("digest"), None
        else:
            key, dep = _content_digest(text_col), text_col
        seen = seen_raw.select(key.alias("_h")).distinct()
        if df.isStreaming:
            seen = cached_artifact(
                ("digest_frame", seen_path, dep), [seen_raw], seen.cache
            )
        survivors = (
            df.withColumn("_h", _content_digest(text_col))
            .join(seen, "_h", "left_anti")
            .drop("_h")
        )
    if df.isStreaming:
        return survivors
    return exact_dedup_keep(survivors, text_col=text_col, id_col=id_col)


def write_digest_table(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "append",
) -> None:
    """Persist the DISTINCT content digests of an ingest wave — the
    compact seen-set artifact for :func:`dedup_against_path`.

    Between waves you ship 32-char digests, not text: at 100 TB of
    documents the digest table is ~3 orders of magnitude smaller than
    the corpus and is what the next wave's anti-join broadcasts.
    ``mode="append"`` accumulates across waves (the anti-join reads
    DISTINCT digests, so overlap between appends is harmless).
    """
    (
        df.select(_content_digest(text_col).alias("digest"))
        .distinct()
        .write.mode(mode)
        .parquet(path)
    )


#: payload bits per bitmap word in the portable Bloom filter — 63 is
#: the densest packing that keeps every mask and word a POSITIVE
#: BIGINT in any engine (bit 63 would flip the sign); the probe's
#: in-memory footprint is then 64/63 of optimal instead of 2x at 32
_BLOOM_WORD_BITS = 63


def _bloom_params(capacity: int, bits_per_key: int, n_hashes: int, n_shards: int):
    from .hashing import HASH_MOD

    if capacity <= 0:
        raise ValueError("bloom capacity must be positive")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    if not 1 <= n_hashes <= len(MINHASH_COEFFS):
        raise ValueError(f"n_hashes must be in [1, {len(MINHASH_COEFFS)}]")
    # per-shard bitmap: keys hash-partition across shards, so each
    # shard sizes for its share of the declared capacity
    m = max((capacity * bits_per_key) // n_shards, _BLOOM_WORD_BITS)
    if m > HASH_MOD:
        # the affine positions are < HASH_MOD = 2^31-1; a larger bitmap
        # would silently never set its upper bits and the effective
        # bits/key would collapse (FPR explodes with no error) — raise
        # n_shards instead (each shard carries its own bitmap; ~214M
        # keys per shard at the default 10 bits/key).
        raise ValueError(
            f"per-shard m = {m} exceeds the hash range ({HASH_MOD}); "
            f"raise n_shards above {capacity * bits_per_key // HASH_MOD}"
        )
    return m, MINHASH_COEFFS[:n_hashes]


def write_bloom_table(
    df: DataFrame,
    path: str,
    capacity: int,
    bits_per_key: int = 10,
    n_hashes: int = 7,
    text_col: str = "text",
    mode: str = "overwrite",
    n_shards: int = 1,
) -> None:
    """Persist the ingest wave's seen-set as a PORTABLE Bloom filter —
    the 100-TB tier of the digest lifecycle: where
    :func:`write_digest_table` ships 32 chars per seen document, the
    Bloom bitmap ships ``bits_per_key`` BITS per document (~25× smaller
    than hex digests at the default 10), at the standard price of a
    small false-positive rate among FRESH documents (k=7, 10 bits/key
    → ~0.8% of new docs sacrificed). No false negatives ever: a seen
    document always probes positive, so duplicates can never leak —
    the safe direction for dedup.

    Everything is the repo's fixed portable hash family, so the filter
    is deterministic and engine-independent: key = char-fold hash of
    the ``md5(coalesce(text, ''))`` digest; bit positions are the
    MINHASH_COEFFS affine permutations mod ``m = capacity *
    bits_per_key``. The bitmap is built DISTRIBUTED as sparse
    (word_idx, bit_or(mask)) rows — one explode + one bounded
    aggregation (≤ m/32 rows regardless of corpus size) — and is
    cell-wise mergeable across waves (:func:`merge_bloom_tables`),
    like every other sketch in the family.

    Sizing is declared, not inferred: ``capacity`` under-sized below
    the true distinct-key count degrades the false-positive rate
    (never correctness of the no-false-negative guarantee).

    ``n_shards`` hash-partitions the keys across independent per-shard
    bitmaps (``shard = key % n_shards``). The affine bit positions are
    bounded by the 2^31-1 hash modulus, so a SINGLE bitmap caps out
    near ~214M keys at 10 bits/key; sharding is how the artifact keeps
    its declared bits/key past that — each shard is its own filter,
    the table just gains a shard column, and merges require identical
    sharding.

    Cross-wave accumulation is :func:`merge_bloom_tables` ONLY:
    writing a second wave with ``mode="append"`` would leave two rows
    per overlapping (shard, word_idx) and the loader's plain row
    assignment then clobbers one wave's bits (silent FALSE NEGATIVES)
    — so ``append`` is rejected here at the base writer too (ADVICE
    r10 #2 promoted the docstring warning: the grain wrappers already
    rejected it, but a direct caller could still hit the footgun).
    Write each wave to its own path and OR-merge.
    """
    if mode == "append":
        raise ValueError(
            "write_bloom_table cannot append in place — bloom rows "
            "from two waves would clobber each other's bits at load "
            "time (false negatives); write each wave to its own path "
            "and OR-merge with merge_bloom_tables"
        )
    m, coeffs = _bloom_params(capacity, bits_per_key, n_hashes, n_shards)
    # materialize the key hash ONCE per row before fanning out — the
    # char fold is an interpreted HOF over the md5 digest and would
    # otherwise be re-evaluated per affine copy (n_hashes+1 times)
    hashed = df.select(
        char_fold_hash(_content_digest(text_col)).alias("_h")
    )
    h = F.col("_h")
    keyed = hashed.select(
        (h % F.lit(n_shards)).alias("_shard"),
        F.explode(
            F.array(*[affine_hash(h, a, b) % F.lit(m) for a, b in coeffs])
        ).alias("_pos"),
    )
    words = (
        keyed.select(
            "_shard",
            (F.col("_pos") / F.lit(_BLOOM_WORD_BITS)).cast("bigint").alias("word_idx"),
            # F.shiftleft takes a Python int for the bit count; the SQL
            # form accepts a column
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(_pos % {_BLOOM_WORD_BITS} AS INT))"
            ).alias("_mask"),
        )
        .groupBy("_shard", "word_idx")
        .agg(F.bit_or("_mask").alias("word"))
        .select(
            F.col("_shard").cast("int").alias("shard"),
            "word_idx",
            "word",
            F.lit(m).cast("bigint").alias("m"),
            F.lit(len(coeffs)).cast("int").alias("n_hashes"),
            F.lit(capacity).cast("bigint").alias("capacity"),
            F.lit(n_shards).cast("int").alias("n_shards"),
        )
    )
    words.write.mode(mode).parquet(path)


def merge_bloom_tables(spark, paths: list[str], out_path: str, mode: str = "overwrite") -> None:
    """Cell-wise OR-merge of Bloom tables built with IDENTICAL (m,
    n_hashes) — the cross-wave accumulation step. Merging equals
    rebuilding on the union corpus exactly (bitmap equality is pinned
    by test), because the build is deterministic."""
    frames = [spark.read.parquet(p) for p in paths]
    # pre-sharding artifacts merge as n_shards=1 / shard=0
    frames = [
        f if "n_shards" in f.columns
        else f.withColumn("n_shards", F.lit(1).cast("int")).withColumn(
            "shard", F.lit(0).cast("int")
        )
        for f in frames
    ]
    metas = {
        (r["m"], r["n_hashes"], r["n_shards"])
        for f in frames
        for r in f.select("m", "n_hashes", "n_shards").distinct().collect()
    }
    if len(metas) != 1:
        raise ValueError(
            f"bloom tables disagree on (m, n_hashes, n_shards): {sorted(metas)}"
        )
    allw = frames[0]
    for f in frames[1:]:
        allw = allw.unionByName(f)
    # the union's declared capacity is the sum of the per-TABLE
    # capacities (each table's rows carry one constant) — computing it
    # per word_idx group would leave row-dependent values in the
    # merged artifact
    total_capacity = sum(
        int(f.select("capacity").first()["capacity"]) for f in frames
    )
    m, k, n_shards = next(iter(metas))
    (
        allw.groupBy("shard", "word_idx")
        .agg(F.bit_or("word").alias("word"))
        .select(
            "shard",
            "word_idx",
            "word",
            F.lit(int(m)).cast("bigint").alias("m"),
            F.lit(int(k)).cast("int").alias("n_hashes"),
            F.lit(total_capacity).cast("bigint").alias("capacity"),
            F.lit(int(n_shards)).cast("int").alias("n_shards"),
        )
        .write.mode(mode)
        .parquet(out_path)
    )


#: refuse to materialize a dense probe bitmap larger than this many
#: bytes across all shards — a mis-declared capacity should fail loud
#: at plan build, not slowly strain executors (VERDICT r7 nit); callers
#: with genuinely huge seen-sets pass max_bitmap_bytes explicitly
_BLOOM_BITMAP_MAX_BYTES = 1 << 30


def _bloom_broadcast(
    seen_raw: DataFrame, seen_path: str, max_bitmap_bytes: int | None = None
):
    """(broadcast dense bitmap, m, n_hashes, n_shards) for the
    :func:`write_bloom_table` artifact ``seen_raw`` read from
    ``seen_path`` — one :func:`~.util.cached_artifact` entry per path.
    The byte cap is checked from the geometry before the bitmap is
    allocated, and again on a cache hit: a permissive first call must
    not grandfather an oversized bitmap past a later, stricter
    caller."""
    import numpy as np

    cap = (
        max_bitmap_bytes
        if max_bitmap_bytes is not None
        else _BLOOM_BITMAP_MAX_BYTES
    )

    def check(m: int, n_shards: int) -> None:
        total = n_shards * (m // _BLOOM_WORD_BITS + 1) * 8
        if total > cap:
            raise ValueError(
                f"dense bloom bitmap would materialize {total} bytes "
                f"across {n_shards} shard(s) (> {cap}); the declared "
                "capacity is likely mis-sized — shrink it, or pass "
                "max_bitmap_bytes to accept the footprint"
            )

    def load():
        rows = seen_raw.collect()
        if not rows:
            raise ValueError(
                f"bloom table at {seen_path!r} is empty — write it with "
                "write_bloom_table first"
            )
        # a single distinct geometry across the artifact rows — a
        # mode='append' write with a different capacity would otherwise
        # mix m values the probe silently misreads, breaking the
        # no-false-negative guarantee (ADVICE r7; merge_bloom_tables
        # already asserts this)
        sharded = "shard" in seen_raw.columns
        metas = {
            (
                int(r["m"]),
                int(r["n_hashes"]),
                int(r["n_shards"]) if sharded else 1,
            )
            for r in rows
        }
        if len(metas) != 1:
            raise ValueError(
                f"bloom table at {seen_path!r} mixes geometries "
                f"{sorted(metas)} — rebuild or merge_bloom_tables with "
                "one (m, n_hashes, n_shards)"
            )
        m, k, n_shards = next(iter(metas))
        check(m, n_shards)
        words = np.zeros((n_shards, m // _BLOOM_WORD_BITS + 1), dtype=np.int64)
        for r in rows:
            words[int(r["shard"]) if sharded else 0, int(r["word_idx"])] = int(
                r["word"]
            )
        # ship the bitmap ONCE per executor, not once per task closure —
        # at the per-shard m <= 2^31 cap the dense array can reach
        # ~0.5 GB per shard
        bc_words = seen_raw.sparkSession.sparkContext.broadcast(words)
        return bc_words, m, k, n_shards

    bc_words, m, k, n_shards = cached_artifact(
        ("bloom", seen_path), [seen_raw], load
    )
    check(m, n_shards)
    return bc_words, m, k, n_shards


def _probe_pass(
    df: DataFrame,
    col: str,
    make_check,
    action: str,
    flag_col: "str | None",
    count_col: "str | None",
    op: str,
) -> DataFrame:
    """The ONE row-local drop/flag Arrow pass every ``*_against`` probe
    runs: ``make_check(count)`` (called once per task, so each task
    builds its kernel from the broadcast value) returns a check of one
    ``col`` value. ``action="drop"`` keeps the rows whose check is
    falsy, schema unchanged; ``action="flag"`` keeps every row and
    appends ``flag_col`` (boolean, check > 0) plus ``count_col``
    (bigint, the check's count). ``op`` names the dataop in the
    column-clash error."""
    from pyspark.sql.types import BooleanType, LongType, StructField

    if action not in ("drop", "flag"):
        raise ValueError(f"unknown action {action!r}: drop|flag")
    flag_mode = action == "flag"
    fields = (
        [StructField(flag_col, BooleanType()), StructField(count_col, LongType())]
        if flag_mode
        else []
    )

    def make_batch():
        check = make_check(flag_mode)

        def flag(pdf):
            counts = [check(v) for v in pdf[col]]
            return None, [[c > 0 for c in counts], counts]

        def drop(pdf):
            return [i for i, v in enumerate(pdf[col]) if not check(v)], []

        return flag if flag_mode else drop

    return _arrow_pass(df, fields, op)(make_batch)


def dedup_against_bloom_path(
    df: DataFrame,
    seen_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bitmap_bytes: int | None = None,
) -> DataFrame:
    """Survivors of a Bloom-filter probe against a
    :func:`write_bloom_table` artifact — the row-local half of the
    100-TB digest lifecycle: the bitmap loads ONCE at plan build
    (bounded by the DECLARED capacity: m/32 words ≈ 40 KB per 100k
    keys) and ships in the task closure, so probing is one Arrow
    ``mapInPandas`` pass with no join, no shuffle, and no state —
    stream-safe under append mode.

    Guarantees: every previously-seen document drops (no false
    negatives — dup leaks are impossible); ~FPR of genuinely fresh
    documents drop with it (the declared bits/key trade). The Python
    md5/char-fold replay is bit-identical to the Catalyst build
    expressions (pinned by test)."""
    bc_words, m, k, n_shards = _bloom_broadcast(
        df.sparkSession.read.parquet(seen_path), seen_path, max_bitmap_bytes
    )
    return _probe_pass(
        df,
        text_col,
        lambda count: _bloom_probe_kernel(bc_words.value, m, k, n_shards),
        "drop",
        None,
        None,
        "dedup_against",
    )


def _bloom_probe_kernel(wd, m: int, k: int, n_shards: int):
    """Compiled row-local membership test against a resolved dense
    bitmap (the ``.value`` of a :func:`_bloom_broadcast` broadcast) —
    ``text → bool`` replaying the build expressions bit for bit
    (md5 of ``text or ''`` → char fold → k affine positions). The ONE
    definition :func:`dedup_against_bloom_path` and the fused curation
    pass (streaming/curation.py) both call."""
    import hashlib

    from .hashing import HASH_MOD, char_fold_hash_py

    coeffs = MINHASH_COEFFS[:k]
    wbits = _BLOOM_WORD_BITS

    def seen(text) -> bool:
        digest = hashlib.md5(
            (text if text is not None else "").encode("utf-8")
        ).hexdigest()
        h = char_fold_hash_py(digest)
        shard_words = wd[h % n_shards]
        for a, b in coeffs:
            p = ((h * a + b) % HASH_MOD) % m
            if not (int(shard_words[p // wbits]) >> (p % wbits)) & 1:
                return False
        return True

    return seen


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot diff: classify every document id across two
    ingest waves as ``added`` / ``removed`` / ``changed`` / ``unchanged``
    by content digest — the audit step between incremental corpus
    versions (what actually moved between yesterday's training set and
    today's?).

    One full-outer join keyed by id; the shuffle carries (id, 32-char
    digest) projections, never text. Output: (id, status, old_digest,
    new_digest) — aggregate it for the wave report, anti-join it for
    the changed-set extraction.
    """
    o = old_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("old_digest")
    )
    n = new_df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("new_digest")
    )
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"), "old_digest", "new_digest")


def span_dedup(
    df: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level exact dedup: per-document duplicated-span report.

    The aligned-window approximation of exact-substring dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): tokenize, slice each document into non-overlapping
    ``span_tokens``-token spans, keep the globally-first occurrence of
    every distinct span (total order: ``(doc_id, span_idx)``), and
    report how much of each document is repeated content.

    Scale shape: one posexplode producing corpus_tokens/span_tokens
    rows, then one hash-shuffle keyed by the span digest (md5 —
    high-cardinality, skew-free, engine-portable). No pairwise stage;
    the window per digest only ranks the copies of one span.

    Output: (doc_id, n_spans, dup_spans, dup_permille). Documents with
    zero tokens produce no spans and are omitted.
    """
    from pyspark.sql import Window

    df = scale_out(df)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda t: F.length(t) > 0
    )
    d = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_n_spans",
        F.floor((F.size("_toks") + (span_tokens - 1)) / span_tokens).cast("int"),
    )
    idx = F.when(
        F.col("_n_spans") >= 1, F.sequence(F.lit(0), F.col("_n_spans") - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    spans = d.select(
        id_col,
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.array_join(
                    F.slice("_toks", i * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("span_idx", "_span"),
    )
    w = Window.partitionBy("_h").orderBy(id_col, "span_idx")
    ranked = spans.withColumn("_h", F.md5("_span")).withColumn(
        "_rk", F.row_number().over(w)
    )
    dup = F.sum(F.when(F.col("_rk") > 1, F.lit(1)).otherwise(F.lit(0))).alias(
        "dup_spans"
    )
    return (
        ranked.groupBy(id_col)
        .agg(F.count("*").alias("n_spans"), dup)
        .select(
            id_col,
            "n_spans",
            "dup_spans",
            F.expr("dup_spans * 1000 div n_spans").alias("dup_permille"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level exact LINE dedup — keep only the FIRST corpus
    occurrence of every distinct non-empty line and reassemble each
    document from its surviving lines in original order.

    This is the line-grain stage the published web-corpus pipelines
    run between document-level dedup and span-level dedup: C4's
    repeated-span removal at line grain, RefinedWeb's "line-wise
    corrections" (boilerplate lines — headers, nav bars, cookie
    banners — repeat verbatim across pages and are removed wherever
    they recur). :func:`span_dedup` reports aligned token-span
    repetition per doc; ``line_dedup`` actually REWRITES the corpus.

    Global first-occurrence is well-defined: total order
    ``(doc_id, pos)`` over exploded lines. Documents whose every line
    is a repeat of an earlier line vanish from the output (their
    ``text_dedup`` would be empty) — the caller's survivor set.

    Scale shape: posexplode to corpus-line rows, ONE hash-shuffle
    keyed by the line string for the per-line top-1 (row_number + rn=1
    filter → WindowGroupLimit applies map-side partial limiting, so a
    boilerplate line repeated a billion times ships O(partitions) rows
    to its reducer, not a billion), then one groupBy(doc) to
    reassemble. Batch-only on the spec surface (needs the corpus);
    the streaming analogue is probing a persisted line-digest set
    (dedup_against at line grain).
    """
    from pyspark.sql import Window

    df = scale_out(df)
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).filter(F.col("line") != "")
    w = Window.partitionBy("line").orderBy(id_col, "pos")
    kept = (
        lines.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return kept.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_dedup"),
    )


#: span-join separator — sentences contain no control characters
_SPAN_SEP = "\x1f"


def _sentences_expr(text_col: str):
    """The deterministic sentence array over ``text_col`` — split on
    the terminal marks ``[.!?]``, strip leading/trailing
    spaces/newlines, drop empties. The ONE definition
    :func:`sentence_span_dedup`, :func:`write_span_digest_table` /
    :func:`write_span_bloom_table`, and (replayed in Python, parity
    equality-pinned by test) :func:`span_dedup_against_path` share.
    ASCII character classes only — identical in Java regex, RE2, and
    Python ``re``."""
    raw = F.split(F.coalesce(F.col(text_col), F.lit("")), "[.!?]")
    trimmed = F.transform(
        raw, lambda s: F.regexp_replace(s, "^[ \\n]+|[ \\n]+$", "")
    )
    return F.filter(trimmed, lambda s: F.length(s) > 0)


def _span_starts(sents_col, span_sentences: int):
    """Span start positions 0..n-k over a sentence-array column (empty
    below k sentences — the guarded-sequence rule). The ONE definition
    of the start set; every span derivation builds on it so lengths
    can never diverge."""
    n = F.size(sents_col)
    return F.when(
        n >= span_sentences, F.sequence(F.lit(0), n - span_sentences)
    ).otherwise(F.array().cast("array<int>"))


def _span_strings(sents_col, span_sentences: int):
    """Array of sliding ``span_sentences``-sentence span strings over a
    MATERIALIZED sentence-array column (one per :func:`_span_starts`
    position)."""
    return F.transform(
        _span_starts(sents_col, span_sentences),
        lambda j: F.array_join(
            F.slice(sents_col, j + 1, span_sentences), _SPAN_SEP
        ),
    )


def sentence_span_dedup(
    df: DataFrame,
    span_sentences: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4's published FINAL corpus-global stage (Raffel et al. 2020
    §2.2: "we removed all but one of any three-sentence span occurring
    more than once in the data set") at its actual SENTENCE-SPAN unit —
    the missing grain between :func:`span_dedup` (aligned token
    windows, report-only) and :func:`line_dedup` (whole lines).

    Deterministic semantics (both engines replay it exactly):

    - sentences: split on the terminal marks ``[.!?]``, strip leading/
      trailing spaces/newlines, drop empties — the same ASCII character
      classes the C4 battery counts sentences with;
    - spans: every SLIDING window of ``span_sentences`` consecutive
      sentences (start positions 0..n-k; docs with fewer sentences
      contribute none and pass through untouched);
    - first occurrence: total order ``(doc_id, start)`` over span
      digests — every later occurrence is a duplicate span;
    - removal: a sentence is removed iff some duplicate span covers its
      position; survivors reassemble in original order (joined with
      newlines — the published pipeline also re-joins the sentence
      stream). Documents whose every sentence is covered VANISH.

    Scale shape: span construction is ROW-LOCAL (slices of the per-row
    sentence array — the array is a materialized column, so the lambda
    cost is O(k) per span, not the r9 ``element_at`` O(n²) trap); then
    ONE digest-keyed shuffle for the global first-occurrence rank, one
    groupBy(doc) collapsing covered positions to a per-doc drop-set
    (bounded by sentences/doc), and ONE join of that doc-grain set back
    onto the sentence arrays — removal and reassembly are then
    row-local array ops, no corpus-side (doc, pos) join and no final
    groupBy. Unlike rn=1 keeps, duplicate DETECTION needs every
    non-first occurrence individually, so a pathological
    billion-duplicate span costs its reducer a sort — the same declared
    shape as :func:`span_dedup`'s report. The sentence frame is derived
    twice (spans branch + output branch) rather than checkpointed: an
    in-heap checkpoint of a corpus-scale frame is the documented
    decade-scale OOM shape, and the re-derivation is one extra columnar
    scan. Batch-only (corpus-global); the cross-wave streaming analogue
    is the digest lifecycle at span grain (write the span digests,
    probe like :func:`line_dedup_against_path`).

    Output: (id, n_sentences, n_sentences_kept, text_dedup).
    """
    from pyspark.sql import Window

    if span_sentences < 1:
        raise ValueError("span_sentences must be >= 1")
    df = scale_out(df)
    d = df.select(F.col(id_col), _sentences_expr(text_col).alias("_sents"))
    # both zip_with sides derive from the SAME _span_starts, so their
    # lengths agree by construction (zip_with would silently null-pad
    # diverging arrays)
    span_structs = F.zip_with(
        _span_strings(F.col("_sents"), span_sentences),
        _span_starts(F.col("_sents"), span_sentences),
        lambda s, j: F.struct(j.alias("start"), s.alias("span")),
    )
    spans = d.select(id_col, F.explode(span_structs).alias("_sp")).select(
        id_col,
        F.col("_sp.start").alias("start"),
        F.md5(F.col("_sp.span")).alias("_h"),
    )
    w = Window.partitionBy("_h").orderBy(id_col, "start")
    dup_spans = spans.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") > 1
    )
    # per-doc covered-position set: overlapping duplicate spans collapse
    # under collect_set, and the join back is doc-grain (one row/doc)
    drops = (
        dup_spans.select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("start"), F.col("start") + (span_sentences - 1)
                )
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_drop_pos"))
    )
    joined = d.filter(F.size("_sents") > 0).join(drops, id_col, "left")
    dropset = F.coalesce(F.col("_drop_pos"), F.array().cast("array<int>"))
    kept = F.filter(
        F.zip_with(
            F.col("_sents"),
            F.sequence(F.lit(0), F.size("_sents") - 1),
            lambda s, i: F.struct(i.alias("pos"), s.alias("sent")),
        ),
        lambda st: ~F.array_contains(dropset, st["pos"]),
    )
    return (
        joined.select(
            F.col(id_col),
            F.size("_sents").cast("bigint").alias("n_sentences"),
            F.size(kept).cast("bigint").alias("n_sentences_kept"),
            F.array_join(
                F.transform(kept, lambda st: st["sent"]), "\n"
            ).alias("text_dedup"),
        )
        .filter(F.col("n_sentences_kept") > 0)
    )


def _distinct_lines(df: DataFrame, text_col: str) -> DataFrame:
    """The DISTINCT non-empty lines of a document frame (one ``line``
    column) — the line-grain seen-set both artifact writers share.
    Null text contributes no lines (the digest-lifecycle null policy:
    null == empty, and empty text has no lines)."""
    return (
        df.select(
            F.explode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
            ).alias("line")
        )
        .filter(F.col("line") != "")
        .distinct()
    )


def write_line_digest_table(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "append",
) -> None:
    """Persist the DISTINCT line digests of an ingest wave — the
    line-grain mirror of :func:`write_digest_table`, and the artifact
    :func:`line_dedup_against_path` probes (VERDICT r9 #4: the
    streaming analogue of the batch :func:`line_dedup`).

    A wave's distinct-line set IS its :func:`line_dedup` survivor-line
    set (first-occurrence keep preserves exactly one copy of every
    distinct line), so digesting the raw wave and digesting its
    deduped output produce the same artifact. Between waves you ship
    32-char line digests, not text; ``mode="append"`` accumulates
    across waves like the document-grain table (the probe reads
    DISTINCT digests, so overlap between appends is harmless).

    Scale shape: one explode + one distinct — a digest-keyed shuffle
    whose output is bounded by the corpus's DISTINCT line count (the
    boilerplate lines that motivate line dedup collapse map-side under
    partial aggregation).
    """
    (
        _distinct_lines(df, text_col)
        .select(F.md5("line").alias("digest"))
        .write.mode(mode)
        .parquet(path)
    )


def write_line_bloom_table(
    df: DataFrame,
    path: str,
    capacity: int,
    bits_per_key: int = 10,
    n_hashes: int = 7,
    text_col: str = "text",
    mode: str = "overwrite",
    n_shards: int = 1,
) -> None:
    """Line-grain Bloom seen-set: :func:`write_bloom_table` over the
    wave's distinct non-empty lines — the 100-TB tier of the line
    lifecycle, for corpora whose distinct-line set is too large to
    broadcast as exact digests (size ``capacity`` to the true distinct
    LINE count). Cross-wave accumulation is :func:`merge_bloom_tables`
    ONLY — :func:`write_bloom_table` rejects in-place ``mode="append"``
    (two waves' sparse bitmap rows clobber each other's bits at load
    time: silent false negatives; the band-tier lesson). Probe via
    :func:`line_dedup_against_path`. No false negatives: a seen line
    always drops; ~FPR of fresh lines drop with it (bits/key trade,
    declared)."""
    write_bloom_table(
        _distinct_lines(df, text_col),
        path,
        capacity,
        bits_per_key=bits_per_key,
        n_hashes=n_hashes,
        text_col="line",
        mode=mode,
        n_shards=n_shards,
    )


#: refuse to broadcast an exact digest set larger than this many keys
#: (~0.6 GB of Python set at 10M) — a bigger seen-set should move to
#: the bloom tier, not strain executors; callers who accept the
#: footprint pass max_broadcast_digests
_DIGEST_MAX_KEYS = 10_000_000


def _digest_broadcast(
    seen_raw: DataFrame,
    seen_path: str,
    max_broadcast_digests: int | None,
    remedy: str,
):
    """Broadcast frozenset of the 16-byte digests in the digest table
    ``seen_raw`` read from ``seen_path`` (any ``write_*digest_table``
    artifact) — one :func:`~.util.cached_artifact` entry per path. One
    read collects at most cap + 1 DISTINCT digests (append-mode waves
    overlap by design, so the cap counts distinct keys, not parquet
    rows): no collect holds more than that, and the cap fails
    loud both on the load and on a cache hit (a permissive first call
    must not grandfather an oversized set past a later, stricter
    caller). ``remedy`` names the alternative in the error."""
    cap = (
        max_broadcast_digests
        if max_broadcast_digests is not None
        else _DIGEST_MAX_KEYS
    )

    def check(n: int) -> None:
        if n > cap:
            raise ValueError(
                f"digest table at {seen_path!r} holds more than {cap} "
                f"distinct digests — too large to broadcast exactly; "
                f"{remedy}, or pass max_broadcast_digests to accept the "
                "footprint"
            )

    def load():
        rows = seen_raw.select("digest").distinct().limit(cap + 1).collect()
        check(len(rows))
        return seen_raw.sparkSession.sparkContext.broadcast(
            frozenset(bytes.fromhex(r["digest"]) for r in rows)
        )

    bc = cached_artifact(("digests", seen_path), [seen_raw], load)
    check(len(bc.value))
    return bc


def _digest_probe_kernel(seen_set):
    """``key → bool`` membership in a resolved exact digest set (the
    ``.value`` of a :func:`_digest_broadcast` broadcast) — the exact
    tier's mirror of :func:`_bloom_probe_kernel`, with the same null
    policy: ``None`` probes as ``""`` (:func:`_content_digest`)."""
    import hashlib

    def seen(key) -> bool:
        k = key if key is not None else ""
        return hashlib.md5(k.encode("utf-8")).digest() in seen_set

    return seen


#: the columns a write_bloom_table artifact carries (the shard columns
#: are absent from pre-sharding artifacts)
_BLOOM_COLS = frozenset({"word_idx", "word", "m", "n_hashes"})


def _seen_format(columns) -> "str | None":
    """The tier an artifact's columns declare: ``"bloom"`` for a
    ``write_*bloom_table`` bitmap, ``"digests"`` for a
    ``write_*digest_table`` digest set, None for anything else."""
    if _BLOOM_COLS <= set(columns):
        return "bloom"
    if "digest" in columns:
        return "digests"
    return None


def _seen_probe_factory(
    spark,
    seen_path: str,
    max_bitmap_bytes: int | None,
    max_broadcast_digests: int | None,
    grain: str,
):
    """A zero-arg factory producing a ``key_string → bool`` seen-probe
    for the artifact at ``seen_path`` — the ONE closure-shipping
    definition every seen-set probe shares. The artifact's columns
    select the tier (see :func:`_seen_format`): a bloom bitmap, or the
    exact digest set. ``grain`` names the grain's bloom writer in the
    digest tier's fail-loud message. Call the factory INSIDE the Arrow
    generator so each task builds its own kernel from the broadcast
    value."""
    seen_raw = spark.read.parquet(seen_path)
    fmt = _seen_format(seen_raw.columns)
    if fmt == "bloom":
        bc_words, m, k, n_shards = _bloom_broadcast(
            seen_raw, seen_path, max_bitmap_bytes
        )
        return lambda: _bloom_probe_kernel(bc_words.value, m, k, n_shards)
    if fmt == "digests":
        writer = (
            "write_bloom_table"
            if grain == "document"
            else f"write_{grain}_bloom_table"
        )
        bc = _digest_broadcast(
            seen_raw, seen_path, max_broadcast_digests,
            f"use the bloom tier ({writer})",
        )
        return lambda: _digest_probe_kernel(bc.value)
    raise ValueError(
        f"{seen_path!r} holds neither a bloom table (write_*bloom_table: "
        f"{sorted(_BLOOM_COLS)} columns) nor a digest table "
        "(write_*digest_table: a 'digest' column)"
    )


def _excise_pass(
    df: DataFrame,
    text_col: str,
    count_col: str,
    op: str,
    make_probe,
    survivors,
) -> DataFrame:
    """The ONE row-local excise-and-reassemble Arrow pass the line and
    span probes run: ``survivors(text, probe)`` returns a document's
    surviving pieces in original order (null text reads as ``""``),
    with ``probe`` built once per task by ``make_probe()`` from the
    broadcast value. Survivors rejoin with ``\\n``, REWRITING
    ``text_col`` in place; ``count_col`` (bigint, the survivor count)
    is appended; a document with no survivors vanishes. ``op`` names
    the dataop in the column-clash error."""
    from pyspark.sql.types import LongType, StructField

    fields = [df.schema[text_col], StructField(count_col, LongType())]

    def make_batch():
        probe = make_probe()

        def excise(pdf):
            keep_idx, texts, counts = [], [], []
            for i, t in enumerate(pdf[text_col]):
                kept = survivors(t if t is not None else "", probe)
                if kept:
                    keep_idx.append(i)
                    texts.append("\n".join(kept))
                    counts.append(len(kept))
            return keep_idx, [texts, counts]

        return excise

    return _arrow_pass(df, fields, op, rewrite=(text_col,))(make_batch)


def line_dedup_against_path(
    df: DataFrame,
    seen_path: str,
    text_col: str = "text",
    max_bitmap_bytes: int | None = None,
    max_broadcast_digests: int | None = None,
) -> DataFrame:
    """Stream-safe line-grain cross-wave dedup: drop every line already
    in a persisted seen-set and reassemble each document's text from
    its surviving lines in original order — the streaming analogue of
    the batch :func:`line_dedup` (VERDICT r9 #4), deployed like
    :func:`dedup_against_path`: wave N's corpus →
    :func:`write_line_digest_table` (or the bloom tier) → wave N+1
    probes it.

    Semantics (probe-only, identical on batch and streaming input —
    that IS the parity guarantee):

    - seen lines drop from every document; empty lines drop (the
      :func:`line_dedup` rule); surviving lines rejoin with ``\\n`` in
      original order, REWRITING ``text_col`` in place so downstream
      stages (classifier scoring, rollups) see the deduped text;
    - ``n_lines_kept`` (bigint) is appended for stage-attrition
      reporting;
    - a document whose every line is seen VANISHES (the line_dedup
      survivor rule; null/empty text has no lines and vanishes too);
    - within-wave first-occurrence dedup is the batch
      :func:`line_dedup`'s job, exactly as within-stream document dups
      are the dedup STAGE's job for :func:`dedup_against_path` — the
      composition law is pinned by test:
      ``line_dedup(union)`` restricted to wave-2 docs ==
      ``line_dedup(line_dedup_against_path(wave2, digests(wave1)))``.

    Scale shape: ONE row-local Arrow ``mapInPandas`` pass — no join,
    no shuffle, no state — with the seen-set in the task closure, its
    tier read from the artifact: a :func:`write_line_digest_table`
    table broadcasts the exact 16-byte digest set (bounded by
    ``max_broadcast_digests``, default 10M keys — the exact tier), a
    :func:`write_line_bloom_table` bitmap is probed via the shared
    :func:`_bloom_probe_kernel` (the 100-TB tier: bits-per-line
    instead of 16 bytes; seen lines still always drop, ~FPR of fresh
    lines drop with them). Append-safe under Structured Streaming.

    Reference deployment shape preserved: the probe composes mid-chain
    in the one StreamingQuery like every row-local stage
    (streaming_component.go:289-360 — transform slots between source
    and sink).
    """
    make_probe = _seen_probe_factory(
        df.sparkSession, seen_path, max_bitmap_bytes, max_broadcast_digests,
        "line",
    )

    def survivors(t, probe):
        return [li for li in t.split("\n") if li and not probe(li)]

    return _excise_pass(
        df, text_col, "n_lines_kept", "line_dedup_against", make_probe,
        survivors,
    )


def _distinct_spans(
    df: DataFrame, text_col: str, span_sentences: int
) -> DataFrame:
    """The DISTINCT sliding sentence-span strings of a document frame
    (one ``span`` column) — the span-grain seen-set both artifact
    writers share (the :func:`_distinct_lines` pattern one grain up)."""
    d = df.select(_sentences_expr(text_col).alias("_sents"))
    return (
        d.select(
            F.explode(_span_strings(F.col("_sents"), span_sentences)).alias(
                "span"
            )
        )
        .distinct()
    )


def write_span_digest_table(
    df: DataFrame,
    path: str,
    span_sentences: int = 3,
    text_col: str = "text",
    mode: str = "append",
) -> None:
    """Persist the DISTINCT sentence-span digests of an ingest wave —
    the span-grain third rung of the seen-set ladder (documents →
    lines → sentence spans), the artifact
    :func:`span_dedup_against_path` probes. Same format as
    :func:`write_line_digest_table` (a ``digest`` column), so the
    broadcast/caching machinery is shared. One explode + one distinct,
    bounded by the corpus's distinct span count."""
    (
        _distinct_spans(df, text_col, span_sentences)
        .select(F.md5("span").alias("digest"))
        .write.mode(mode)
        .parquet(path)
    )


def write_span_bloom_table(
    df: DataFrame,
    path: str,
    capacity: int,
    span_sentences: int = 3,
    bits_per_key: int = 10,
    n_hashes: int = 7,
    text_col: str = "text",
    mode: str = "overwrite",
    n_shards: int = 1,
) -> None:
    """Span-grain Bloom seen-set (size ``capacity`` to the true
    distinct SPAN count) — the 100-TB tier of the span lifecycle, via
    the ordinary portable bloom build over the distinct span strings.
    Cross-wave accumulation is :func:`merge_bloom_tables` ONLY
    (in-place append clobbers bits — see the line-grain writer)."""
    write_bloom_table(
        _distinct_spans(df, text_col, span_sentences),
        path,
        capacity,
        bits_per_key=bits_per_key,
        n_hashes=n_hashes,
        text_col="span",
        mode=mode,
        n_shards=n_shards,
    )


def span_dedup_against_path(
    df: DataFrame,
    seen_path: str,
    span_sentences: int = 3,
    text_col: str = "text",
    max_bitmap_bytes: int | None = None,
    max_broadcast_digests: int | None = None,
) -> DataFrame:
    """Stream-safe span-grain cross-wave dedup — the streaming analogue
    of :func:`sentence_span_dedup`, deployed like
    :func:`line_dedup_against_path`: wave N →
    :func:`write_span_digest_table` (or the bloom tier) → wave N+1
    drops every sentence covered by a previously-seen
    ``span_sentences``-sentence span and reassembles the survivors.

    Semantics (probe-only, identical on batch and streaming input —
    ONE single pass over the ORIGINAL spans, exactly like the batch
    op's one-pass removal: spans formed by post-removal adjacency are
    NOT re-examined, so this is deliberately not an iterative
    fixed-point):

    - sentences/spans: the batch op's deterministic definitions
      (``_sentences_expr`` replayed in Python — parity equality-pinned
      by test);
    - a sentence drops iff some SEEN span covers its position;
      survivors rejoin with ``\\n`` (the batch op's sentence-stream
      representation), REWRITING ``text_col`` in place;
    - ``n_sentences_kept`` (bigint) appended; documents whose every
      sentence is covered VANISH; docs with fewer sentences than the
      span length carry no spans and pass through (rewritten to the
      sentence stream); empty/null docs vanish;
    - within-wave first-occurrence dedup is the batch
      :func:`sentence_span_dedup`'s job (the line-grain division of
      labor).

    Scale shape: ONE row-local Arrow pass, seen-set in the task
    closure (exact digest broadcast or bloom bitmap via the shared
    :func:`_seen_probe_factory`); no join, no shuffle, no state —
    append-safe under Structured Streaming.
    """
    import re

    if span_sentences < 1:
        raise ValueError("span_sentences must be >= 1")
    make_probe = _seen_probe_factory(
        df.sparkSession, seen_path, max_bitmap_bytes, max_broadcast_digests,
        "span",
    )
    split = re.compile(r"[.!?]").split
    span_k = span_sentences

    def survivors(t, probe):
        sents = [s2 for s in split(t) if (s2 := s.strip(" \n"))]
        drop: set = set()
        for j in range(0, len(sents) - span_k + 1):
            if probe(_SPAN_SEP.join(sents[j : j + span_k])):
                drop.update(range(j, j + span_k))
        return [s for j, s in enumerate(sents) if j not in drop]

    return _excise_pass(
        df, text_col, "n_sentences_kept", "span_dedup_against", make_probe,
        survivors,
    )


#: Published eval-set decontamination n-gram length: GPT-3 (Brown et
#: al. 2020, Appendix C) removes training documents with a 13-gram
#: collision against benchmark data, and Gopher (Rae et al. 2021,
#: §A.5) filters train/test overlap at the same 13-gram unit. Pinned
#: by tests/test_published_constants.py.
DECONTAM_NGRAM_N = 13


def _word_tokens_expr(text) -> Column:
    """Case-folded alphanumeric-run word tokens of ``text`` (a column
    name or Column) — the decontamination token unit (the published
    recipes match n-grams case- and punctuation-insensitively), and
    the ONE definition of the ``lower()`` → split ``[^a-z0-9]+`` →
    drop-empties convention (the C4 bad-words matcher composes it
    too). Null text tokenizes like empty (the digest-lifecycle null
    policy). ASCII case-fold assumption as documented for the
    classify_against family: the Python probe kernel replays this with
    ``str.lower()``/``re.split``, identical on ASCII corpora (parity
    equality-pinned in tests/test_dataops.py)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(F.coalesce(col, F.lit(""))), "[^a-z0-9]+"),
        lambda w: F.length(w) > 0,
    )


def _ngram_strings(toks_col, n: int):
    """Array of sliding ``n``-token n-gram strings (space-joined) over
    a MATERIALIZED token-array column — the :func:`_span_strings`
    pattern at word grain (slices of a materialized column are O(n)
    per gram; the guarded sequence is empty below ``n`` tokens)."""
    starts = F.when(
        F.size(toks_col) >= n,
        F.sequence(F.lit(1), F.size(toks_col) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda s: F.array_join(F.slice(toks_col, s, n), " "),
    )


def _distinct_ngrams(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """The DISTINCT word n-gram strings of a document frame (one
    ``ngram`` column) — the eval-side seen-set both decontamination
    artifact writers share (:func:`_distinct_lines` at n-gram grain)."""
    d = df.select(_word_tokens_expr(text_col).alias("_toks"))
    return (
        d.select(
            F.explode(_ngram_strings(F.col("_toks"), n)).alias("ngram")
        )
        .distinct()
    )


def write_ngram_digest_table(
    df: DataFrame,
    path: str,
    n: int = DECONTAM_NGRAM_N,
    text_col: str = "text",
    mode: str = "append",
) -> None:
    """Persist the DISTINCT word-n-gram digests of an EVALUATION corpus
    — the decontamination seen-set :func:`decontaminate_against_path`
    probes (GPT-3 Appendix C / Gopher §A.5: drop training documents
    sharing any ``n``-gram with benchmark data). Same artifact format
    as :func:`write_line_digest_table` (one ``digest`` column), so the
    broadcast/caching machinery is shared; ``mode="append"``
    accumulates across benchmark suites (the probe reads DISTINCT
    digests, overlap between appends is harmless).

    Scale shape: eval sets are small (thousands of documents), so the
    artifact is bounded by the EVAL corpus's distinct n-gram count —
    one explode + one distinct, shipped between waves as 32-char
    digests. For eval sets too large to broadcast exactly, use
    :func:`write_ngram_bloom_table`.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    (
        _distinct_ngrams(df, text_col, n)
        .select(F.md5("ngram").alias("digest"))
        .write.mode(mode)
        .parquet(path)
    )


def write_ngram_bloom_table(
    df: DataFrame,
    path: str,
    capacity: int,
    n: int = DECONTAM_NGRAM_N,
    bits_per_key: int = 10,
    n_hashes: int = 7,
    text_col: str = "text",
    mode: str = "overwrite",
    n_shards: int = 1,
) -> None:
    """N-gram-grain Bloom seen-set (size ``capacity`` to the true
    distinct eval n-gram count) — the 100-TB tier of the
    decontamination lifecycle, via the ordinary portable bloom build
    over the distinct n-gram strings. No false negatives: a genuinely
    contaminated document always flags; ~FPR of clean documents flag
    with it (declared trade, like every bloom tier). Cross-suite
    accumulation is :func:`merge_bloom_tables` ONLY (in-place append
    clobbers bits — see the line-grain writer)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    write_bloom_table(
        _distinct_ngrams(df, text_col, n),
        path,
        capacity,
        bits_per_key=bits_per_key,
        n_hashes=n_hashes,
        text_col="ngram",
        mode=mode,
        n_shards=n_shards,
    )


def _decontam_probe_kernel(probe, n: int, count: bool):
    """The ONE row-local decontamination check every deployment shares
    (:func:`decontaminate_against_path` and the fused curation stream —
    the ``_score_kernel`` rule: one definition, composed everywhere):
    tokenize the raw text with the :func:`_word_tokens_expr` convention
    (:func:`fold.fold_word_tokens` — the ONE fold policy; see
    ``dataops/fold.py`` for the declared engine-agreement contract),
    slide ``n``-grams, probe the seen-set. ``count=False`` returns an
    early-exit boolean verdict (drop mode / the fused stream);
    ``count=True`` returns the DISTINCT dirty-n-gram count (flag/audit
    mode)."""
    # validate HERE, the one shared definition — a fused-curation
    # caller passing n=0 would otherwise probe '' grams that never hit
    # and silently disable decontamination (review r10)
    if n < 1:
        raise ValueError("n must be >= 1")
    from .fold import fold_word_tokens

    if count:

        def check(t):
            toks = fold_word_tokens(t)
            return len(
                {
                    g
                    for j in range(0, len(toks) - n + 1)
                    if probe(g := " ".join(toks[j : j + n]))
                }
            )

    else:

        def check(t):
            toks = fold_word_tokens(t)
            return any(
                probe(" ".join(toks[j : j + n]))
                for j in range(0, len(toks) - n + 1)
            )

    return check


def decontaminate_against_path(
    df: DataFrame,
    seen_path: str,
    n: int = DECONTAM_NGRAM_N,
    text_col: str = "text",
    action: str = "drop",
    flag_col: str = "contaminated",
    count_col: str = "n_dirty_ngrams",
    max_bitmap_bytes: int | None = None,
    max_broadcast_digests: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: probe every training document's word
    ``n``-grams against a persisted evaluation-set n-gram artifact and
    drop (or flag) documents sharing ANY n-gram — the published
    train/test-overlap removal (GPT-3 Appendix C's 13-gram collision
    rule; Gopher §A.5), deployed like :func:`dedup_against_path`:
    benchmark corpus → :func:`write_ngram_digest_table` (or the bloom
    tier) → every training wave probes it.

    Semantics (identical on batch and streaming input — that IS the
    parity guarantee):

    - tokens/n-grams: :func:`_word_tokens_expr`'s case-folded
      alphanumeric-run convention, replayed in Python (parity
      equality-pinned by test); documents with fewer than ``n`` tokens
      carry no n-grams and are always clean (null/empty text
      likewise);
    - ``action="drop"`` (the published behavior) keeps only clean
      documents, schema unchanged; the probe early-exits on the first
      dirty n-gram;
    - ``action="flag"`` keeps every document and appends ``flag_col``
      (boolean) plus ``count_col`` (bigint, DISTINCT dirty n-grams per
      document) — the audit/report form;
    - the document unit is never rewritten: contamination is a
      whole-document verdict (unlike the line/span grains, which
      excise and reassemble).

    Scale shape: ONE row-local Arrow ``mapInPandas`` pass — no join,
    no shuffle, no state — with the eval seen-set in the task closure
    (exact digest broadcast, or a :func:`write_ngram_bloom_table`
    bitmap via the shared :func:`_seen_probe_factory`). Append-safe
    under Structured Streaming (the stream-safe ``decontaminate_against``
    dataop). The per-task n-gram probe memoizes nothing across rows:
    eval membership is O(1) per gram against the closure set.

    Relation to :func:`clickhouse_etl_spark.dataops.text.decontaminate`
    (the in-memory join form, registry ``docs_decontamination``): that
    op joins two live frames and REPORTS per-doc hit counts
    (n-grams/bench-docs/first id) for audit — batch-only, one
    corpus-side join. This op is its train-offline/probe-online
    serving split: the benchmark set is persisted ONCE per suite and
    every subsequent training wave probes the artifact row-locally —
    the deployment shape (and the published case/punctuation-
    insensitive token convention at the published n).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    make_probe = _seen_probe_factory(
        df.sparkSession, seen_path, max_bitmap_bytes, max_broadcast_digests,
        "ngram",
    )
    return _probe_pass(
        df,
        text_col,
        lambda count: _decontam_probe_kernel(make_probe(), n, count),
        action,
        flag_col,
        count_col,
        "decontaminate_against",
    )


def _simhash_sigs_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int,
) -> DataFrame:
    """Per-document SimHash signatures in ONE Arrow ``mapInPandas``
    pass — numerically identical to :func:`simhash` (equality-pinned in
    tests/test_dataops.py), which keeps the expression form as the
    oracle-visible reference.

    Why: the expression form char-fold-hashes every word through an
    interpreted HOF chain (split-per-char → transform(ascii) →
    aggregate fold — CodegenFallback, per-character cost), the
    dominant stage of the banded pair generator at sf0.1. Here the
    fold runs in Python with a per-distinct-word memo (the
    hash_embedding pattern) and the 32 bit-votes vectorize in numpy.
    Scale shape: row-local (no shuffle); callers ``scale_out`` first.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField

    from .hashing import HASH_BASE, HASH_MOD

    jidx = np.arange(bits, dtype=np.int64)

    def make_batch():
        memo: dict = {}

        def h(w: str) -> int:
            v = memo.get(w)
            if v is None:
                v = 0
                for ch in w:
                    v = (v * HASH_BASE + ord(ch)) % HASH_MOD
                memo[w] = v
            return v

        def sigs_of(pdf):
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = [w for w in text.split(" ") if w]
                if not words:
                    continue  # explode emits no row -> doc absent, as in simhash()
                hs = np.array([h(w) for w in words], dtype=np.int64)
                # votes_j = sum over words of ((hash >> j) & 1 ? +1 : -1)
                votes = (2 * ((hs[:, None] >> jidx) & 1) - 1).sum(axis=0)
                sig = int(((votes > 0).astype(np.int64) << jidx).sum())
                ids.append(did)
                sigs.append(sig)
            return None, [ids, sigs]

        return sigs_of

    fields = [StructField(id_col, LongType()), StructField("simhash", LongType())]
    return _arrow_pass(
        df.select(id_col, text_col), fields, "simhash signatures", keep=()
    )(make_batch)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by banded SimHash — the third pair generator next
    to MinHash-LSH and the n-gram inverted index.

    Pigeonhole guarantee: with ``max_hamming < bands``, any pair within
    the Hamming budget differs in at most ``max_hamming`` bands, so it
    SHARES at least one band — candidate generation by equi-join on
    (band_idx, band_value) has recall 1.0 (no LSH-style misses).

    Signature collapse (the scale lever): duplicate-dense corpora
    concentrate many documents onto few distinct signatures, and the
    band join is quadratic PER BUCKET — so the banding runs over
    DISTINCT signatures only.  Identical-signature doc pairs (hamming
    0) come from a plain equi-join on the full signature; distinct-sig
    candidate pairs are verified once per SIGNATURE pair, then expanded
    to doc pairs.  On a 20x-replicated corpus this cuts the candidate
    join's input quadratically (measured 10.3s -> 2.4s at 5k docs with
    identical output).  No all-pairs stage anywhere.

    Output: (id_a, id_b, hamming), a < b, hamming <= max_hamming.
    """
    if max_hamming >= bands:
        raise ValueError("pigeonhole recall needs max_hamming < bands")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sigs = _simhash_sigs_arrow(scale_out(df), text_col, id_col, bits)
    g = sigs.select(F.col("simhash").alias("_s"), F.col(id_col).alias("_i"))
    within = (
        g.alias("x")
        .join(g.alias("y"), "_s")
        .filter(F.col("x._i") < F.col("y._i"))
        .select(
            F.col("x._i").alias("id_a"),
            F.col("y._i").alias("id_b"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    dsigs = sigs.select("simhash").distinct()
    banded = dsigs.select(
        F.col("simhash").alias("_sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bi"),
                    F.shiftright(F.col("simhash"), i * band_bits)
                    .bitwiseAND(F.lit(mask)).alias("bv"),
                )
                for i in range(bands)
            ])
        ).alias("_b"),
    ).select("_sig", F.col("_b.bi").alias("_bi"), F.col("_b.bv").alias("_bv"))
    a = banded.select(F.col("_sig").alias("_sa"), "_bi", "_bv")
    b = banded.select(F.col("_sig").alias("_sb"), "_bi", "_bv")
    cand = (
        a.join(b, ["_bi", "_bv"])
        .filter(F.col("_sa") < F.col("_sb"))
        .select("_sa", "_sb")
        .dropDuplicates(["_sa", "_sb"])
    )
    ver = cand.withColumn(
        "hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("bigint")
    ).filter(F.col("hamming") <= max_hamming)
    ga = g.select(F.col("_s").alias("_sa"), F.col("_i").alias("_ia"))
    gb = g.select(F.col("_s").alias("_sb"), F.col("_i").alias("_ib"))
    cross = (
        ver.join(ga, "_sa")
        .join(gb, "_sb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(cross)


# --- MinHash-LSH near-dup serving split --------------------------------
#
# The near-dup grain of the train-offline/probe-online lifecycle: the
# exact-digest (document), bloom, line, span, and n-gram (decontam)
# seen-sets all have persisted probe paths; this adds the published
# MinHash-LSH bucket-removal (Rae et al. 2021 §A.4 / Lee et al. 2021:
# on an LSH band match with an already-kept document, remove the new
# one). Wave N's survivors register their band keys once; every later
# wave probes the artifact row-locally — no corpus-side candidate join
# at serving time.


def _band_geometry_check(n: int, k: int, rows_per_band: int) -> int:
    """Validate an LSH band geometry and return n_bands — the ONE
    definition the writers and the probe share (fail-loud at plan
    construction, the parse-time-validation principle)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if not 1 <= k <= len(MINHASH_COEFFS):
        raise ValueError(
            f"k must be in [1, {len(MINHASH_COEFFS)}] (the fixed "
            f"MINHASH_COEFFS family), got {k}"
        )
    if rows_per_band < 1 or k % rows_per_band:
        raise ValueError(
            f"rows_per_band ({rows_per_band}) must divide k ({k}) "
            "evenly (k/rows_per_band bands) — an indivisible geometry "
            "would silently drop signature rows"
        )
    return k // rows_per_band


def _band_keys_expr(
    text: Column, n: int, k: int, rows_per_band: int
) -> Column:
    """Catalyst array of LSH band-key strings ``"{band_idx}:{v}_{v}"``
    for one document — the exact key format
    :func:`minhash_lsh_pairs`'s candidate join buckets on, over the
    same portable signature family (:func:`_minhash_signature`). A
    document with fewer than ``n`` words has no shingles, hence no
    signature: the array is EMPTY (it neither registers in an artifact
    nor probes one — the pair-miner analogue, where gram-less docs
    cannot form verified pairs)."""
    n_bands = _band_geometry_check(n, k, rows_per_band)
    t = F.coalesce(text, F.lit(""))
    grams = _word_ngrams(t, n)
    # compose the ONE signature definition the pair miner uses — the
    # no-false-negatives-vs-miner property depends on the persisted
    # artifact and minhash_lsh_pairs deriving identical band values
    sig = _minhash_signature(t, n, k)
    bands = [
        F.concat_ws(
            ":",
            F.lit(str(i)),
            F.concat_ws(
                "_",
                *[
                    sig[i * rows_per_band + j].cast("string")
                    for j in range(rows_per_band)
                ],
            ),
        )
        for i in range(n_bands)
    ]
    return F.when(F.size(grams) >= 1, F.array(*bands)).otherwise(
        F.expr("array()").cast("array<string>")
    )


def _distinct_band_keys(
    df: DataFrame,
    text_col: str,
    n: int,
    k: int,
    rows_per_band: int,
) -> DataFrame:
    """The DISTINCT LSH band-key strings of a document frame (one
    ``band`` column) — the near-dup seen-set both artifact writers
    share (:func:`_distinct_lines` at band grain).

    Keys derive in ONE Arrow ``mapInPandas`` pass via
    :func:`_band_keys_py` — the SAME kernel the probe runs, so
    registered and probed keys agree by construction. It equals an
    explode of :func:`_band_keys_expr` (equality-pinned by test), whose
    nested higher-order functions are CodegenFallback — interpreted
    per shingle — which made the one-time artifact build ~25x slower
    than the probe at decade scale (the `_shingle_stream` lesson)."""
    from pyspark.sql.types import StringType, StructField

    band_keys = _band_keys_py(n, k, rows_per_band)

    def keys_of(pdf):
        out = set()
        for t in pdf[text_col]:
            out.update(band_keys(t))
        return None, [sorted(out)]

    # prune to the text column BEFORE the repartition + Arrow
    # boundary — the writers receive arbitrarily wide wave frames
    return _arrow_pass(
        scale_out(df.select(text_col)),
        [StructField("band", StringType())],
        "band keys",
        keep=(),
    )(lambda: keys_of).distinct()


_BAND_GEOMETRY = ("n", "k", "rows_per_band")


def _band_geometry(spark, path: str) -> "tuple[int, int, int]":
    """The (n, k, rows_per_band) a band artifact was registered under
    (:func:`~.util.read_geometry`)."""
    return read_geometry(spark, path, _BAND_GEOMETRY, "band artifact")


def write_band_digest_table(
    df: DataFrame,
    path: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    text_col: str = "text",
    mode: str = "append",
) -> None:
    """Persist the DISTINCT LSH band-key digests of an ingest wave —
    the near-dup mirror of :func:`write_digest_table`, and the
    artifact :func:`neardup_against_path` probes. Layout:
    ``{path}/bands`` (one ``digest`` column, the shared
    digest-broadcast format) + ``{path}/geometry`` (one row of
    (n, k, rows_per_band), asserted single at probe time).

    Register the wave's KEPT documents (survivors of within-wave
    near-dup removal), then probe the next wave: the artifact is
    ``n_bands`` 16-byte digests per registered document, shipped
    between waves instead of text or signatures. ``mode="append"``
    accumulates across waves (the probe reads DISTINCT digests, so
    overlap between appends is harmless — but the geometry must
    match, and a mismatched append fails loud BEFORE any band key is
    written (ADVICE r10 #1): the old order wrote the keys first, so a
    wrong-geometry append corrupted the artifact and was only caught
    at probe time, forcing a full rebuild).

    Scale shape: one row-local signature projection + one explode +
    one distinct — a band-keyed shuffle whose keys are
    high-cardinality by construction (hash-partition-even, the
    :func:`minhash_lsh_pairs` candidate-join property).
    """
    _band_geometry_check(n, k, rows_per_band)
    geometry = dict(zip(_BAND_GEOMETRY, (n, k, rows_per_band)))
    check_append_geometry(
        df.sparkSession, path, mode, geometry, "band artifact"
    )
    (
        _distinct_band_keys(df, text_col, n, k, rows_per_band)
        .select(F.md5("band").alias("digest"))
        .write.mode(mode)
        .parquet(f"{path.rstrip('/')}/bands")
    )
    write_geometry(df.sparkSession, path, geometry, mode)


def write_band_bloom_table(
    df: DataFrame,
    path: str,
    capacity: int,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    bits_per_key: int = 10,
    n_hashes: int = 7,
    text_col: str = "text",
    mode: str = "overwrite",
    n_shards: int = 1,
) -> None:
    """Band-grain Bloom seen-set: :func:`write_bloom_table` over the
    wave's distinct band keys — the 100-TB tier of the near-dup
    lifecycle, for waves whose band-key set outgrows the exact digest
    broadcast (size ``capacity`` to the true distinct band-key count,
    ~= kept_docs x n_bands). Probe via :func:`neardup_against_path`.
    No false negatives: a genuinely colliding band always hits; ~FPR
    of fresh bands hit with it — compounding the LSH candidate FP rate
    by the bloom FP rate (both declared trades). Cross-wave accumulation is
    :func:`merge_band_bloom_tables` ONLY — appending sparse bitmap rows
    in place would let the loader's plain row assignment clobber bits
    across waves (silent false negatives), so ``mode="append"`` is
    rejected here."""
    if mode == "append":
        raise ValueError(
            "write_band_bloom_table cannot append in place — bloom "
            "rows from two waves would clobber each other's bits at "
            "load time (false negatives); write each wave to its own "
            "path and OR-merge with merge_band_bloom_tables"
        )
    _band_geometry_check(n, k, rows_per_band)
    write_bloom_table(
        _distinct_band_keys(df, text_col, n, k, rows_per_band),
        f"{path.rstrip('/')}/bands",
        capacity,
        bits_per_key=bits_per_key,
        n_hashes=n_hashes,
        text_col="band",
        mode=mode,
        n_shards=n_shards,
    )
    geometry = dict(zip(_BAND_GEOMETRY, (n, k, rows_per_band)))
    write_geometry(df.sparkSession, path, geometry, mode)


def merge_band_bloom_tables(
    spark, paths: "list[str]", out_path: str, mode: str = "overwrite"
) -> None:
    """OR-merge bloom-tier band artifacts from several waves into one
    (the :func:`merge_bloom_tables` wrapper that also carries the
    geometry sidecar, asserting every input registered under the SAME
    (n, k, rows_per_band))."""
    geoms = {_band_geometry(spark, p) for p in paths}
    if len(geoms) != 1:
        raise ValueError(
            f"cannot merge band artifacts with mixed geometries {sorted(geoms)}"
        )
    merge_bloom_tables(
        spark,
        [f"{p.rstrip('/')}/bands" for p in paths],
        f"{out_path.rstrip('/')}/bands",
        mode=mode,
    )
    write_geometry(
        spark, out_path, dict(zip(_BAND_GEOMETRY, next(iter(geoms)))), mode
    )


def _band_keys_py(n: int, k: int, rows_per_band: int):
    """The ONE Python replay of the Catalyst band-key derivation
    (``text -> list of band-key strings``) — single-space token split
    keeping empties (``F.split(text, " ")``), guarded sliding
    ``n``-word windows, distinct, char-fold hash, ``MINHASH_COEFFS[:k]``
    affine minima, ``"{i}:{v}_{v}"`` keys. Shared by the probe kernel
    AND the Arrow write path, so the registered and probed keys cannot
    diverge (parity with :func:`_band_keys_expr` equality-pinned)."""
    n_bands = _band_geometry_check(n, k, rows_per_band)
    from .hashing import HASH_MOD, char_fold_hash_py

    coeffs = MINHASH_COEFFS[:k]

    def band_keys(t):
        toks = (t if t is not None else "").split(" ")
        if len(toks) < n:
            return []
        grams = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        hs = [char_fold_hash_py(g) for g in grams]
        sig = [min((a * h + b) % HASH_MOD for h in hs) for a, b in coeffs]
        return [
            str(i)
            + ":"
            + "_".join(
                str(v)
                for v in sig[i * rows_per_band : (i + 1) * rows_per_band]
            )
            for i in range(n_bands)
        ]

    return band_keys


def _neardup_probe_kernel(
    probe, n: int, k: int, rows_per_band: int, count: bool
):
    """The ONE row-local near-dup check every deployment shares
    (:func:`neardup_against_path`; the ``_decontam_probe_kernel``
    rule): derive the document's band keys via :func:`_band_keys_py`
    and probe the seen-set. ``count=False`` returns an early-exit
    boolean verdict (drop mode); ``count=True`` returns the number of
    bands that hit (flag/audit mode; more bands hit ~= higher
    estimated Jaccard, the LSH collision-probability curve)."""
    band_keys = _band_keys_py(n, k, rows_per_band)

    if count:

        def check(t):
            return sum(1 for key in band_keys(t) if probe(key))

    else:

        def check(t):
            return any(probe(key) for key in band_keys(t))

    return check


def neardup_against_path(
    df: DataFrame,
    seen_path: str,
    text_col: str = "text",
    action: str = "drop",
    flag_col: str = "neardup",
    count_col: str = "n_bands_hit",
    max_bitmap_bytes: "int | None" = None,
    max_broadcast_digests: "int | None" = None,
) -> DataFrame:
    """Stream-safe cross-wave NEAR-dup removal: probe every document's
    MinHash-LSH band keys against a persisted band artifact and drop
    (or flag) documents colliding with any already-registered band —
    the published LSH bucket-removal (Rae et al. 2021 §A.4: MinHashLSH
    match => remove; Lee et al. 2021 NearDup), deployed like
    :func:`dedup_against_path`: wave N survivors →
    :func:`write_band_digest_table` (or the bloom tier) → wave N+1
    probes it. Geometry (n, k, rows_per_band) is read FROM the
    artifact, so the probe cannot silently compute mismatched keys.

    Semantics (identical on batch and streaming input — that IS the
    parity guarantee):

    - the verdict is CANDIDATE-grain, exactly the published removal
      action: a band collision drops the document without Jaccard
      verification (the within-wave batch miner
      :func:`minhash_lsh_pairs` is where exact verification lives;
      tune the band geometry for the collision-probability curve you
      want — the s-curve threshold is (1/n_bands)^(1/rows_per_band));
    - ``action="drop"`` keeps only non-colliding documents, schema
      unchanged, early-exit on the first hit; ``action="flag"``
      appends ``flag_col`` (boolean) + ``count_col`` (bigint, bands
      hit of n_bands — a collision-strength audit signal);
    - documents with fewer than ``n`` words carry no signature and
      are always kept (null/empty text likewise);
    - within-wave near-dup removal stays the batch miner's job, as
      within-stream document dups are the dedup STAGE's job for
      :func:`dedup_against_path`.

    Scale shape: ONE row-local Arrow ``mapInPandas`` pass — no join,
    no shuffle, no state — with the band seen-set in the task closure
    (exact 16-byte digest broadcast bounded at 10M keys, or a
    :func:`write_band_bloom_table` bitmap via the shared
    :func:`_seen_probe_factory`). Append-safe under Structured
    Streaming (the stream-safe ``neardup_against`` dataop); the
    reference deployment shape is preserved — the probe composes
    mid-chain in the one StreamingQuery like every row-local stage
    (streaming_component.go:289-360).
    """
    spark = df.sparkSession
    geometry = _band_geometry(spark, seen_path)
    make_probe = _seen_probe_factory(
        spark, f"{seen_path.rstrip('/')}/bands", max_bitmap_bytes,
        max_broadcast_digests, "band",
    )
    return _probe_pass(
        df,
        text_col,
        lambda count: _neardup_probe_kernel(make_probe(), *geometry, count),
        action,
        flag_col,
        count_col,
        "neardup_against",
    )
