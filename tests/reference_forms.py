"""Expression-form references for the single-path dataops.

Each library op runs one implementation (mostly a row-local Arrow
``mapInPandas`` pass). The functions here are the pure-expression or
composed forms those passes replay, kept on the test side so the
equality tests compare the library path against an independent
derivation on the same inputs. Nothing in ``clickhouse_etl_spark``
imports this module; pytest does not collect it (no ``test_`` prefix).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_etl_spark.dataops.dedup import _band_keys_expr, _word_ngrams
from clickhouse_etl_spark.dataops.hashing import char_fold_hash
from clickhouse_etl_spark.dataops.text import (
    _CLF_FP,
    _calibrated_pred,
    _classifier_model,
    _clf_idiv,
    _tokens,
)
from clickhouse_etl_spark.dataops.util import scale_out


def _sub_l2(vec_slice: Column, cent: Column) -> Column:
    """Sequential-fold squared L2 between two small arrays."""
    diffs = F.zip_with(
        vec_slice, cent, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def pq_encode_expr(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``pq_encode``: argmin via array_sort on (dist, code) structs."""
    sub = len(codebooks[0][0])

    def codes(vec: Column) -> Column:
        per_sub = []
        for s, book in enumerate(codebooks):
            vslice = F.slice(vec, s * sub + 1, sub)
            cands = F.array(*[
                F.struct(
                    _sub_l2(vslice, F.array(*[F.lit(v) for v in cent])).alias("d"),
                    F.lit(ci).alias("c"),
                )
                for ci, cent in enumerate(book)
            ])
            per_sub.append(F.array_sort(cands)[0]["c"])
        return F.array(*per_sub)

    return scale_out(corpus).select(
        F.col(id_col), F.col(vec_col), codes(F.col(vec_col)).alias("pq_codes")
    )


def normalize_text_expr(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``normalize_text``: regexp_replace chain; token counts as
    non-space runs on the raw text and spaces + 1 on the collapsed
    form, with coalesce(-1) for NULL text."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    n_raw = F.coalesce(F.regexp_count(F.col(text_col), F.lit("[^ ]+")), F.lit(-1))
    n_norm = F.coalesce(
        F.when(cleaned == "", F.lit(0)).otherwise(
            F.length(cleaned) - F.length(F.replace(cleaned, F.lit(" "), F.lit(""))) + 1
        ),
        F.lit(-1),
    )
    return df.withColumns({
        "text_norm": cleaned,
        "n_tokens_raw": n_raw.cast("bigint"),
        "n_tokens_norm": n_norm.cast("bigint"),
    })


def top_terms_expr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_len: int = 2,
) -> DataFrame:
    """``top_terms``: explode + (doc, term) agg + row_number rank."""
    df = scale_out(df)
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: F.length(t) >= min_len)
        ).alias("term"),
    )
    tf = words.groupBy("id", "term").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("id").orderBy(F.col("tf").desc(), F.col("term"))
    return (
        tf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("id").alias(id_col),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("_rn").cast("int").alias("rank"),
        )
    )


def repetition_signals_expr(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``repetition_signals``: explode bigrams, (doc, gram) count, then
    a min(struct(-count, gram)) argmax per doc."""
    text = F.col(text_col)
    toks = F.filter(F.split(text, " "), lambda t: F.length(t) > 0)
    base = (
        scale_out(df)
        .select(
            F.col(id_col),
            F.length(text).cast("bigint").alias("_n_chars"),
            toks.alias("_w"),
        )
        .withColumn("n_tokens", F.size("_w").cast("bigint"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct("_w")).cast("bigint"))
    )
    idx = F.when(
        F.size("_w") >= 2, F.sequence(F.lit(1), F.size("_w") - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    bigrams = base.select(
        id_col,
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice("_w", i, 2), " "))
        ).alias("_g"),
    )
    counts = bigrams.groupBy(id_col, "_g").agg(F.count("*").alias("_cnt"))
    top = (
        counts.groupBy(id_col)
        .agg(
            F.min(
                F.struct((-F.col("_cnt")).alias("nc"), F.col("_g").alias("g"))
            ).alias("_top")
        )
        .select(
            id_col,
            F.col("_top.g").alias("_top_bigram"),
            (-F.col("_top.nc")).cast("bigint").alias("_top_cnt"),
        )
    )
    joined = base.drop("_w").join(top, id_col, "left")
    n_tok = F.col("n_tokens")
    return joined.select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        F.when(n_tok > 0, (n_tok - F.col("n_distinct_tokens")) / n_tok)
        .otherwise(F.lit(0.0))
        .alias("dup_token_ratio"),
        F.coalesce("_top_bigram", F.lit("")).alias("top_bigram"),
        F.coalesce("_top_cnt", F.lit(0)).cast("bigint").alias("top_bigram_count"),
        F.when(
            F.col("_top_cnt").isNotNull() & (F.col("_n_chars") > 0),
            (F.col("_top_cnt") * F.length("_top_bigram")) / F.col("_n_chars"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_char_frac"),
    )


def hash_bucket_counts(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse (id, _b, _c) bucket-count rows of the feature-hashing
    featurizer: explode, char-fold hash once per distinct token via a
    broadcast vocabulary dictionary, (doc, bucket) count."""
    toks = F.filter(_tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    exploded = scale_out(df).select(
        F.col(id_col), F.explode(toks).alias("_tok")
    )
    vocab = exploded.select("_tok").distinct()
    tok_dict = vocab.select(
        "_tok", (char_fold_hash(F.col("_tok")) % dim).alias("_b")
    )
    buckets = exploded.join(F.broadcast(tok_dict), "_tok").select(id_col, "_b")
    return buckets.groupBy(id_col, "_b").agg(F.count("*").alias("_c"))


def hash_embedding_expr(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``hash_embedding``: dense rebuild over :func:`hash_bucket_counts`
    (map_from_entries + a dim-bounded transform + a sequential square
    fold for the norm)."""
    counts = hash_bucket_counts(df, dim, text_col, id_col)
    per_doc = counts.groupBy(id_col).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("_b", "_c")))
        ).alias("_m"),
        F.sum("_c").alias("n_tokens"),
    )
    per_doc = scale_out(per_doc)
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: F.coalesce(
            F.element_at(F.col("_m"), b.cast("bigint")), F.lit(0)
        ).cast("double"),
    )
    withv = per_doc.withColumn("_v", dense)
    norm = F.sqrt(
        F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return withv.withColumn("l2_norm", norm).select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.when(
            F.col("l2_norm") > 0,
            F.transform(F.col("_v"), lambda x: x / F.col("l2_norm")),
        ).alias("embedding"),
        "l2_norm",
    )


def hash_feature_classifier_expr(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    train_col: str = "is_train",
) -> DataFrame:
    """``hash_feature_classifier`` with the explode/dictionary-join
    feature stage in place of the Arrow ``_classifier_feats`` pass;
    the model and calibration are the library's."""
    toks = F.filter(_tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    n_tok = F.regexp_count(F.col(text_col), F.lit("[^ ]+")).cast("bigint")
    base = scale_out(df).select(
        F.col(id_col),
        F.col(train_col).cast("bigint").alias("_tr"),
        F.col(label_col).cast("bigint").alias("_y"),
        n_tok.alias("_n"),
        F.explode(toks).alias("_tok"),
    )
    tok_dict = base.select("_tok").distinct().select(
        "_tok", (char_fold_hash(F.col("_tok")) % dim).alias("_b")
    )
    fp = F.lit(_CLF_FP).cast("bigint")
    feats = (
        base.join(F.broadcast(tok_dict), "_tok")
        .groupBy(id_col, "_tr", "_y", "_n", "_b")
        .agg(F.count("*").cast("bigint").alias("_c"))
        .withColumn("_f", _clf_idiv(F.col("_c") * fp, F.col("_n")))
    )
    _, scored, thr = _classifier_model(scale_out(feats).localCheckpoint(), id_col)
    return scored.crossJoin(F.broadcast(thr)).select(
        F.col(id_col),
        F.col("_tr").cast("int").alias("is_train"),
        F.col("_y").cast("int").alias("label"),
        F.col("score"),
        _calibrated_pred().alias("pred"),
    )


def shingle_stream_expr(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """``_shingle_stream``: explode of ``_word_ngrams``."""
    return df.select(
        F.col(id_col).alias("id"),
        _word_ngrams(F.col(text_col), n).alias("_grams"),
    ).select(
        "id",
        F.size("_grams").cast("bigint").alias("sz"),
        F.explode("_grams").alias("g"),
    )


def distinct_band_keys_expr(
    df: DataFrame, text_col: str, n: int, k: int, rows_per_band: int
) -> DataFrame:
    """``_distinct_band_keys``: explode of ``_band_keys_expr``."""
    return df.select(
        F.explode(_band_keys_expr(F.col(text_col), n, k, rows_per_band)).alias("band")
    ).distinct()


def curation_scored_staged(
    docs: DataFrame,
    bloom_path: str,
    weights_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    importance_path: "str | None" = None,
    decontam_path: "str | None" = None,
    decontam_n: "int | None" = None,
    neardup_path: "str | None" = None,
) -> DataFrame:
    """``curation_scored_stream`` as the composition of the public
    stage dataops, one Arrow pass per stage."""
    from clickhouse_etl_spark.dataops.dedup import (
        DECONTAM_NGRAM_N,
        decontaminate_against_path,
        dedup_against_bloom_path,
        neardup_against_path,
    )
    from clickhouse_etl_spark.dataops.text import (
        classify_against_path,
        importance_against_path,
        normalize_text,
    )

    if decontam_path is not None:
        docs = decontaminate_against_path(
            docs, decontam_path,
            n=DECONTAM_NGRAM_N if decontam_n is None else decontam_n,
            text_col=text_col,
        )
    normed = normalize_text(docs, text_col=text_col, id_col=id_col)
    # the PROBE half only (not dedup_against_path, whose batch form adds
    # a within-batch first-wins window): within-stream dups are the
    # dedup stage's job, not the curation body's
    fresh = dedup_against_bloom_path(
        normed, bloom_path, text_col="text_norm", id_col=id_col
    )
    if neardup_path is not None:
        fresh = neardup_against_path(
            fresh, neardup_path, text_col="text_norm"
        )
    scored = classify_against_path(
        fresh, weights_path, text_col="text_norm", id_col=id_col
    )
    if importance_path is not None:
        scored = importance_against_path(
            scored, importance_path, text_col="text_norm",
            id_col=id_col, tokens_col="iw_tokens", score_col="iw_score",
        )
    return scored
