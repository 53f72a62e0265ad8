"""Expression-form references for the single-path dataops and the
streaming temporal join.

Each library op runs one implementation (mostly a row-local Arrow
``mapInPandas`` pass). The functions here are the pure-expression or
composed forms those passes replay, kept on the test side so the
equality tests compare the library path against an independent
derivation on the same inputs. The temporal join's reference is its
former per-key form: one ``applyInPandasWithState`` call per key, the
state a tuple of Python values. Nothing in ``clickhouse_etl_spark``
imports this module; pytest does not collect it (no ``test_`` prefix).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

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


# ------------------------------------------------ temporal join, per key

def _per_key_state_schema(l_fields, r_fields) -> T.StructType:
    return T.StructType(
        [
            T.StructField("has_right", T.BooleanType()),
            T.StructField("right_us", T.LongType()),
            *[T.StructField(f"_r{i}", t) for i, (_, _, t) in enumerate(r_fields)],
            T.StructField("left_us", T.ArrayType(T.LongType())),
            *[T.StructField(f"_l{i}", T.ArrayType(t)) for i, (_, _, t) in enumerate(l_fields)],
        ]
    )


def _py(v):
    """numpy scalar -> python scalar for state serialization."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and pd.isna(v):
        return None
    return v


def _coercer(dtype: T.DataType):
    """State values must match the state schema's python types exactly —
    the union's null-padding upcasts int columns to float64 in pandas,
    so a long field would otherwise arrive as float and fail the state
    serializer."""
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return lambda v: None if (v := _py(v)) is None else int(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return lambda v: None if (v := _py(v)) is None else float(v)
    if isinstance(dtype, T.BooleanType):
        return lambda v: None if (v := _py(v)) is None else bool(v)
    return _py


def temporal_step_per_key(
    cfg,
    l_out: list[str],   # output names fed by the left side, in _l{i} order
    r_out: list[str],   # output names fed by the right side, in _r{i} order
    l_coerce: list,     # per-left-field state coercers
    r_coerce: list,     # per-right-field state coercers
    out_names: list[str],  # full output column order
):
    """The per-key micro-batch step: vectorized searchsorted join over
    one key's sorted rows + the columnar state tuple.

    Signature: step(rows_pdf, state_tuple_or_None) ->
    (out_pdf_or_None, new_state_tuple_or_None) where the state tuple is
    (has_right, right_us, *right_fields, left_us_list, *left_field_lists)
    — the exact _state_schema layout."""
    left_ttl_us = int(cfg.left.time_window_s * 1_000_000)
    right_ttl_us = int(cfg.right.time_window_s * 1_000_000)
    l_cols = [f"_l{i}" for i in range(len(l_out))]
    r_cols = [f"_r{i}" for i in range(len(r_out))]
    n_r = len(r_cols)

    def step(rows: pd.DataFrame, st: tuple | None):
        if st is not None:
            has_right = bool(st[0])
            right_us = st[1]
            st_r = list(st[2 : 2 + n_r])
            st_l_us = np.asarray(st[2 + n_r] or [], dtype="int64")
            st_l = [list(a or []) for a in st[3 + n_r :]]
        else:
            has_right, right_us = False, None
            st_r = [None] * n_r
            st_l_us = np.asarray([], dtype="int64")
            st_l = [[] for _ in l_cols]

        rows = rows.sort_values(["_us", "_side"], kind="mergesort")

        us = rows["_us"].to_numpy(dtype="int64", na_value=0)
        side = rows["_side"].to_numpy()
        l_pos = np.flatnonzero(side == 0)
        r_pos = np.flatnonzero(side == 1)
        l_us = us[l_pos]
        r_us = us[r_pos]
        max_us = int(us.max()) if us.size else 0
        l_vals = [rows[c].to_numpy()[l_pos] for c in l_cols]
        r_vals = [rows[c].to_numpy()[r_pos] for c in r_cols]

        emits: list[pd.DataFrame] = []

        def emit(n, left_arrays, right_arrays):
            if not n:
                return
            data = {}
            for name, arr in zip(l_out, left_arrays):
                data[name] = arr
            for name, arr in zip(r_out, right_arrays):
                data[name] = arr
            emits.append(pd.DataFrame(data, columns=out_names))

        # 1. state-pending lefts drain at the FIRST batch right (alive
        #    ones emit; the drain clears the buffer either way)
        if r_pos.size and st_l_us.size:
            alive = (
                np.ones(st_l_us.size, dtype=bool)
                if left_ttl_us == 0
                else (int(r_us[0]) - st_l_us <= left_ttl_us)
            )
            k = int(alive.sum())
            emit(
                k,
                [np.asarray(a, dtype=object)[alive] for a in st_l],
                [np.repeat(np.asarray([rv[0]], dtype=object), k) for rv in r_vals],
            )
        if r_pos.size:
            st_l_us = np.asarray([], dtype="int64")
            st_l = [[] for _ in l_cols]

        if l_pos.size:
            # latest batch right processed before each left
            p = np.searchsorted(r_us, l_us, side="left") - 1
            pr_us = r_us[np.clip(p, 0, None)] if r_us.size else np.zeros_like(l_us)
            batch_imm = (p >= 0) & (
                (right_ttl_us == 0) | (l_us - pr_us <= right_ttl_us)
            )
            state_imm = (
                (p == -1)
                & has_right
                & ((right_ttl_us == 0) | (l_us - int(right_us or 0) <= right_ttl_us))
            )

            # 2. immediate joins against the state right (pre-batch value)
            k = int(state_imm.sum())
            emit(
                k,
                [a[state_imm] for a in l_vals],
                [np.repeat(np.asarray([sv], dtype=object), k) for sv in st_r],
            )
            # 3. immediate joins against batch rights
            pi = p[batch_imm]
            emit(pi.size, [a[batch_imm] for a in l_vals], [rv[pi] for rv in r_vals])

            # 4. buffered lefts drain at the first right AFTER them,
            #    iff still alive then; expired ones are dropped by that
            #    same drain and never reach a later right
            q = np.searchsorted(r_us, l_us, side="left")
            buffered = ~(batch_imm | state_imm)
            has_drain = buffered & (q < r_us.size)
            if has_drain.any():
                qi = q[has_drain]
                d_alive = (
                    np.ones(qi.size, dtype=bool)
                    if left_ttl_us == 0
                    else (r_us[qi] - l_us[has_drain] <= left_ttl_us)
                )
                sel = np.flatnonzero(has_drain)[d_alive]
                emit(sel.size, [a[sel] for a in l_vals], [rv[qi[d_alive]] for rv in r_vals])

            pending = buffered & (q >= r_us.size)
        else:
            pending = np.zeros(0, dtype=bool)

        # ---- new state ----
        if r_pos.size:
            has_right, right_us = True, int(r_us[-1])
            st_r = [c(rv[-1]) for c, rv in zip(r_coerce, r_vals)]
        new_l_us = np.concatenate([st_l_us, l_us[pending]]) if l_pos.size else st_l_us
        new_l = [
            list(old) + [c(v) for v in a[pending]]
            for old, c, a in zip(st_l, l_coerce, l_vals)
        ] if l_pos.size else st_l
        if left_ttl_us and new_l_us.size:
            keep = max_us - new_l_us <= left_ttl_us
            new_l_us = new_l_us[keep]
            new_l = [[v for v, k in zip(a, keep) if k] for a in new_l]
        if right_ttl_us and has_right and max_us - int(right_us) > right_ttl_us:
            has_right, right_us = False, None
            st_r = [None] * n_r

        if not has_right and not new_l_us.size:
            new_state = None
        else:
            new_state = (
                has_right,
                right_us,
                *st_r,
                [int(v) for v in new_l_us],
                *new_l,
            )
        out = pd.concat(emits, ignore_index=True) if emits else None
        return out, new_state

    return step


def temporal_join_streaming_per_key(
    left: DataFrame, right: DataFrame, cfg, left_ts: str, right_ts: str
) -> DataFrame:
    """The per-key wiring: ``groupBy(_key).applyInPandasWithState`` with
    ``temporal_step_per_key`` and its tuple state (the state layout a
    checkpoint written before the bucketed join holds)."""
    import sys

    from pyspark import cloudpickle

    from clickhouse_etl_spark.streaming.temporal_join import _side_fields, _tagged_union

    # Python workers cannot import this test-side module: ship its
    # functions by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    l_rules = [r for r in cfg.output_fields if r.source_id == cfg.left.source_id]
    r_rules = [r for r in cfg.output_fields if r.source_id != cfg.left.source_id]
    l_fields, r_fields = _side_fields(left, l_rules), _side_fields(right, r_rules)
    out_names = [r.output_name for r in cfg.output_fields]
    out_types = {o: t for _, o, t in l_fields + r_fields}
    step = temporal_step_per_key(
        cfg,
        [o for _, o, _ in l_fields],
        [o for _, o, _ in r_fields],
        [_coercer(t) for _, _, t in l_fields],
        [_coercer(t) for _, _, t in r_fields],
        out_names,
    )

    def process(key, pdfs, state):
        out, new_state = step(pd.concat(list(pdfs), ignore_index=True),
                              state.get if state.exists else None)
        if new_state is None:
            state.remove()
        else:
            state.update(new_state)
        yield out if out is not None else pd.DataFrame(columns=out_names)

    union = _tagged_union(left, right, cfg, left_ts, right_ts, l_fields, r_fields)
    return union.groupBy("_key").applyInPandasWithState(
        process,
        outputStructType=T.StructType([T.StructField(o, out_types[o], True) for o in out_names]),
        stateStructType=_per_key_state_schema(l_fields, r_fields),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
