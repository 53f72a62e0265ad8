"""Spec -> plan assembler: one operator library, one assembler, two drivers.

``build_pipeline`` turns a validated :class:`PipelineSpec` plus one
typed DataFrame per source into one output frame: each source's
:func:`source_chain`, then the temporal join (or the single source),
then the sink mapping. Batch callers (the oracle-checked path) collect
or write it; the streaming runner (streaming/runner.py) validates raw
payloads, calls the same assembler, and only then starts its queries.

Stage order within a source is fixed — filter -> dedup -> stateless
transform -> dataops — matching the reference's hardcoded processor
order (cmd/glassflow/dedup_component.go:210-225). Disabled stages are
simply absent (reference uses NoopProcessor). The three mode-dependent
choices (dedup form, join form, stream-safety of dataops) read
``df.isStreaming``; there is no mode option.

There is deliberately no optimizer here: the spec is declarative and
compiles 1:1 to DataFrame operations; Catalyst owns predicate pushdown,
column pruning, join strategy, and AQE owns runtime re-planning. The
compiler's scale responsibilities are only the things Catalyst cannot
infer: explicit broadcast of the latest-per-key right side when small,
and key-hash partitioning alignment for the stateful ops.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame

from ..operators.dedup import _key_col, dedup_first_wins, dedup_windowed
from ..operators.filter import apply_filter
from ..operators.join import temporal_join_batch
from ..operators.mapper import apply_sink_mapping
from ..operators.transform import apply_transform
from ..spec.model import PipelineSpec, SourceConfig, SpecError


def source_chain(
    src: SourceConfig,
    ts_col: Optional[str] = None,
    order: Sequence[str] = (),
) -> Callable[[DataFrame], DataFrame]:
    """Per-source chain: filter -> dedup -> transform -> dataops.

    Dedup on a streaming frame is ``dropDuplicatesWithinWatermark`` on
    ``ts_col`` and needs the spec's ``time_window`` (the watermark that
    bounds its state); on a batch frame it is ``dedup_windowed`` when
    there is a ``ts_col`` and a window, else ``dedup_first_wins``, with
    ``order`` as the deterministic arrival-order tiebreak (batch mode
    has no arrival order — SURVEY.md §7.5.1). A streaming frame accepts
    only STREAM_SAFE_DATAOPS: batch-only ops raise SpecError at
    assembly time instead of silently skipping."""

    def chain(df: DataFrame) -> DataFrame:
        if src.filter is not None:
            df = apply_filter(df, src.filter)
        if src.dedup is not None:
            key, window_s = src.dedup.key, src.dedup.time_window_s
            if df.isStreaming:
                if not window_s:
                    raise SpecError(
                        f"source {src.source_id!r}: a streaming dedup stage needs "
                        "config.time_window (the watermark that bounds its state)"
                    )
                # dropDuplicatesWithinWatermark takes column NAMES — route
                # a dot-path key through the same dual resolution as batch
                # dedup by materializing it as a helper column first
                df = df.withWatermark(ts_col, f"{round(window_s * 1e3)} milliseconds")
                df = (
                    df.withColumn("_dedup_key", _key_col(df, key))
                    .dropDuplicatesWithinWatermark(["_dedup_key"])
                    .drop("_dedup_key")
                )
            elif ts_col and window_s:
                df = dedup_windowed(df, key, ts_col, window_s, list(order))
            else:
                df = dedup_first_wins(df, key, list(order) or df.columns[:1])
        if src.transform is not None:
            df = apply_transform(df, src.transform)
        for d in src.dataops:
            if df.isStreaming and d.op not in STREAM_SAFE_DATAOPS:
                if d.op == "ann_serve":
                    raise SpecError(
                        "dataop 'ann_serve' streams SINK-SIDE only: declare "
                        "it as the LAST transform of a joinless single-source "
                        "pipeline and StreamingPipeline wires it into "
                        "foreachBatch (it collects each micro-batch's bounded "
                        "query set to prune the codes scan, which a mid-chain "
                        "streaming frame cannot do)."
                    )
                raise SpecError(
                    f"dataop {d.op!r} is batch-only (needs a bounded corpus); "
                    f"stream-safe ops: {sorted(STREAM_SAFE_DATAOPS)}. For "
                    "streaming dedup use the dedup stage "
                    "(dropDuplicatesWithinWatermark)."
                )
            df = resolve_dataop(d.op)(df, **d.params)
        return df

    return chain


def build_pipeline(
    spec: PipelineSpec,
    frames: dict[str, DataFrame],
    ts_cols: Optional[dict[str, str]] = None,
    order_cols: Optional[dict[str, list[str]]] = None,
    state_gc_timeout_ms: Optional[int] = None,
    join_buckets: Optional[int] = None,
) -> DataFrame:
    """Assemble the whole pipeline over one typed frame per source.

    ``ts_cols``/``order_cols`` give each source's event-time column and
    arrival-order tiebreak. The join is ``temporal_join_streaming`` on
    streaming frames (``state_gc_timeout_ms`` is its processing-time
    GC, ``join_buckets`` its key-bucket count) and
    ``temporal_join_batch`` otherwise. Building the frame
    starts nothing, so a SpecError here leaves no query running."""
    ts_cols = ts_cols or {}
    order_cols = order_cols or {}
    staged = {
        s.source_id: source_chain(s, ts_cols.get(s.source_id), order_cols.get(s.source_id, ()))(
            frames[s.source_id]
        )
        for s in spec.sources
    }
    j = spec.join
    if j is None:
        (df,) = staged.values()
    else:
        left, right = staged[j.left.source_id], staged[j.right.source_id]
        left_ts, right_ts = ts_cols.get(j.left.source_id), ts_cols.get(j.right.source_id)
        if left.isStreaming:
            from ..streaming.temporal_join import temporal_join_streaming

            df = temporal_join_streaming(
                left, right, j, left_ts, right_ts,
                state_gc_timeout_ms=state_gc_timeout_ms, n_buckets=join_buckets,
            )
        else:
            df = temporal_join_batch(
                left, right, j, right_ts_col=right_ts,
                right_tiebreak=order_cols.get(j.right.source_id, []), left_ts_col=left_ts,
            )
    if spec.sink.mapping:
        df = apply_sink_mapping(df, spec.sink.mapping)
    return df


# Every dataop name a spec may declare (validated at parse time by
# spec.model). source_chain applies all of them to a batch frame; a
# streaming frame takes only STREAM_SAFE_DATAOPS and raises SpecError
# on the rest.
DATAOPS = frozenset({
    "exact_dedup", "simhash", "language_id", "quality_score", "token_stats",
    "fingerprint", "repetition_signals", "split_assign", "mixture_sample",
    "scrub_pii", "chunk_documents", "span_dedup", "rare_token_ratio",
    "balanced_sample", "quality_deciles", "epoch_shuffle", "upsample_mixture",
    "dedup_against", "normalize_text", "hash_embedding",
    "trained_classifier", "cluster_sample", "classify_against",
    "ann_serve", "gopher_rules", "temperature_mixture",
    "c4_filters", "line_dedup", "importance_weights",
    "importance_against", "line_dedup_against", "sentence_span_dedup",
    "span_dedup_against", "decontaminate_against", "neardup_against",
    "gopher_repetition", "semantic_dedup_against", "scrub_pii_battery",
})
# params with no usable default — their absence fails at PARSE time
# (spec/model.py), not on the first chain run (ADVICE r4 principle)
REQUIRED_DATAOP_PARAMS = {
    "dedup_against": ("seen_path",),
    "classify_against": ("weights_path",),
    "ann_serve": ("index_path",),
    "importance_weights": ("target_sources",),
    "importance_against": ("weights_path",),
    "line_dedup_against": ("seen_path",),
    "span_dedup_against": ("seen_path",),
    "decontaminate_against": ("seen_path",),
    "neardup_against": ("seen_path",),
    "semantic_dedup_against": ("seen_path",),
}
# Row-local / explode-only ops — no window, no aggregation, no global
# state — safe as mid-chain transforms under Structured Streaming
# append mode (upsample_mixture is a row-local hash-gated explode, so
# it qualifies; dedup_against is a stream-static LEFT ANTI join
# against a static digest set, executed per micro-batch — its
# within-batch window half is batch-only and the streaming form
# documents that the dedup STAGE owns within-stream dups).
# exact_dedup (row_number window over the full corpus), simhash
# (per-doc aggregation after an explode), span_dedup (window over the
# global span digest), rare_token_ratio (corpus df top-k),
# balanced_sample (global min class count), quality_deciles (corpus
# percentile thresholds), and epoch_shuffle (per-shard window) are
# batch-only: streaming dedup is the spec's dedup stage
# (dropDuplicatesWithinWatermark).
# normalize_text is row-local (regex canonicalization) — stream-safe;
# hash_embedding needs the corpus vocabulary dictionary and a per-doc
# aggregation — batch-only. trained_classifier (corpus-global weight
# table + train-mean threshold) and cluster_sample (corpus-global
# centroid assignment + per-cell rank) are batch-only too;
# classify_against — scoring a stream against a PERSISTED model
# (write_classifier_table) — is one row-local Arrow pass with the
# dim-bounded weight table in the task closure, so it joins
# dedup_against as a train-offline/score-online streaming op.
# gopher_rules is row-local (per-row token/line array folds, no
# shuffle) — stream-safe; temperature_mixture derives its per-source
# rates from the measured corpus (a corpus-global aggregate) —
# batch-only (the streaming analogue is mixture_sample with rates
# planned offline, the classify_against train-offline pattern).
# ann_serve — answering a query stream against a PERSISTED pq_index —
# is streamable, but NOT as a mid-chain transform: pq_index_query
# collects the (bounded) query set driver-side to prune the codes scan,
# which a mid-chain streaming frame cannot do. The streaming runner
# wires it SINK-SIDE instead (terminal position only): each micro-batch
# of queries runs the exact pq_index_query path inside foreachBatch and
# the ANSWER frame reaches the sink — the reference's config-in/plan-out
# thesis applied to build-once/serve-many ANN (VERDICT r8 #4).
# c4_filters is row-local like gopher_rules (per-row line/token array
# folds) — stream-safe; line_dedup needs the corpus-global
# first-occurrence order (a line-keyed window) — batch-only; its
# streaming analogue line_dedup_against (write_line_digest_table /
# write_line_bloom_table → one row-local Arrow probe that drops seen
# lines and reassembles text per micro-batch) IS stream-safe — the
# dedup_against train-offline/probe-online pattern at line grain;
# importance_weights derives its bucket-weight table from a
# corpus-global aggregate — batch-only. Its train-offline/score-online
# split is write_importance_table → importance_against (a persisted
# dim-bounded table scored in one row-local Arrow pass — stream-safe,
# the classify_against pattern).
# sentence_span_dedup (C4's final three-sentence-span removal) needs
# the corpus-global first-occurrence order like line_dedup — batch-only;
# its cross-wave streaming analogue span_dedup_against
# (write_span_digest_table / write_span_bloom_table → one row-local
# Arrow probe dropping sentences covered by seen spans) IS stream-safe.
# decontaminate_against — probing each document's word n-grams against
# a PERSISTED eval-set n-gram artifact (write_ngram_digest_table /
# write_ngram_bloom_table) and dropping/flagging collisions — is one
# row-local Arrow pass with the eval seen-set in the task closure:
# stream-safe, the dedup_against train-offline/probe-online pattern at
# n-gram grain (the published 13-gram decontamination rule).
# neardup_against — probing each document's MinHash-LSH band keys
# against a PERSISTED band artifact (write_band_digest_table /
# write_band_bloom_table) and dropping/flagging collisions (the
# published LSH bucket-removal) — is one row-local Arrow pass with the
# band seen-set in the task closure: stream-safe, the same pattern at
# NEAR-dup grain; within-wave near-dup mining (minhash_lsh_pairs)
# stays batch/library-level because candidate pairs need the corpus.
# gopher_repetition is row-local like gopher_rules (per-row line/
# paragraph/n-gram scans inside one Arrow pass, no shuffle) —
# stream-safe; together the two batteries are the paper's complete
# document filter.
# semantic_dedup_against — probing each VECTOR's hyperplane LSH bucket
# keys against a PERSISTED write_vec_bucket_table artifact — is one
# row-local Arrow pass (bucket seen-set in the task closure):
# stream-safe on an embeddings-shaped stream (the ann_serve precedent;
# a documents stream must carry an embedding column — hash_embedding
# is batch-only, so embed upstream); within-wave clustering stays
# semantic_dedup's job.
STREAM_SAFE_DATAOPS = DATAOPS - {
    "exact_dedup", "simhash", "span_dedup", "rare_token_ratio",
    "balanced_sample", "quality_deciles", "epoch_shuffle",
    "hash_embedding", "trained_classifier", "cluster_sample",
    "ann_serve", "temperature_mixture", "line_dedup",
    "importance_weights", "sentence_span_dedup",
}


def resolve_dataop(op: str):
    """Beyond-reference spec extension: training-data ops declared as
    ``{"type": "dataop", "config": {"op": ..., ...params}}`` transforms
    run after the reference's fixed stage order — ``source_chain``
    applies every op in ``DATAOPS`` to a batch frame and only the
    ``STREAM_SAFE_DATAOPS`` subset to a streaming frame, rejecting the
    rest at assembly time.  Corpus-global ops (near-dup pair mining, clustering,
    packing) stay library-level because they need a bounded batch to
    be well-defined."""
    from ..dataops.chunking import (
        chunk_documents,
        epoch_shuffle,
        scrub_pii,
        scrub_pii_battery,
    )
    from ..dataops.dedup import (
        decontaminate_against_path,
        dedup_against_path,
        exact_dedup_keep,
        line_dedup,
        line_dedup_against_path,
        neardup_against_path,
        sentence_span_dedup,
        simhash,
        span_dedup,
        span_dedup_against_path,
    )
    from ..dataops.similarity import (
        balanced_sample,
        cluster_balanced_sample,
        vec_dedup_against_path,
    )
    from ..dataops.text import (
        c4_filters,
        classify_against_path,
        doc_fingerprint,
        gopher_repetition,
        gopher_rules,
        hash_embedding,
        importance_against_path,
        importance_weights,
        language_id,
        normalize_text,
        mixture_sample,
        quality_deciles,
        quality_score,
        rare_token_ratio,
        repetition_signals,
        split_assign,
        temperature_mixture,
        token_stats,
        trained_quality_classifier,
        upsample_mixture,
    )

    def balanced_sample_docs(df, label_col="source", id_col="doc_id", **kw):
        # spec-surface defaults follow the documents stream like every
        # other registered op (the library function keeps its vec_id/
        # label embedding-side defaults) — ADVICE r4: a plan declaring
        # the op without params must not fail only at runtime
        return balanced_sample(df, label_col=label_col, id_col=id_col, **kw)

    def ann_serve_op(
        df,
        index_path,
        k=10,
        n_probe=4,
        shortlist_factor=32,
        query_id_col="query_id",
        max_queries=10_000,
    ):
        # batch form of sink-side ANN serving: the chain's frame is the
        # QUERY set; the op maps it to the standard (query_id,
        # neighbor_id, rank, sim) answer frame via the persisted-index
        # query path (partition-pruned codes scan, session-cached
        # artifacts). Streaming wires the same op per micro-batch in
        # foreachBatch (streaming/runner.py) — answers are identical by
        # construction (both run pq_index_query).
        from ..dataops.similarity import pq_index_query

        return pq_index_query(
            df.sparkSession, index_path, df, k=k, n_probe=n_probe,
            shortlist_factor=shortlist_factor, query_id_col=query_id_col,
            max_queries=max_queries,
        )

    def cluster_sample_docs(
        df, cap=20, n_centroids=16, id_col="doc_id", vec_col="embedding", **kw
    ):
        # documents-stream default: when the stream has no vector
        # column, hash-embed the text first (the docs_hash_embed_topk
        # composition) so cluster-then-cap works on raw documents; a
        # stream that already carries embeddings is used as-is
        from pyspark.sql import functions as F

        if vec_col not in df.columns:
            src = hash_embedding(df, id_col=id_col).select(
                id_col, F.col("embedding").alias(vec_col)
            )
        else:
            src = df.select(id_col, vec_col)
        sel = cluster_balanced_sample(
            src, cap=cap, n_centroids=n_centroids,
            id_col=id_col, vec_col=vec_col, **kw
        )
        # sel is (cell, n_total, id, sample_rank) — no vector column
        return df.join(sel, id_col)

    registry = {
        "exact_dedup": exact_dedup_keep,
        "simhash": simhash,
        "span_dedup": span_dedup,
        "dedup_against": dedup_against_path,
        "rare_token_ratio": rare_token_ratio,
        "balanced_sample": balanced_sample_docs,
        "quality_deciles": quality_deciles,
        "epoch_shuffle": epoch_shuffle,
        "upsample_mixture": upsample_mixture,
        "language_id": language_id,
        "quality_score": quality_score,
        "token_stats": token_stats,
        "fingerprint": doc_fingerprint,
        "repetition_signals": repetition_signals,
        "split_assign": split_assign,
        "mixture_sample": mixture_sample,
        "scrub_pii": scrub_pii,
        "scrub_pii_battery": scrub_pii_battery,
        "chunk_documents": chunk_documents,
        "normalize_text": normalize_text,
        "hash_embedding": hash_embedding,
        "trained_classifier": trained_quality_classifier,
        "cluster_sample": cluster_sample_docs,
        "classify_against": classify_against_path,
        "ann_serve": ann_serve_op,
        "gopher_rules": gopher_rules,
        "gopher_repetition": gopher_repetition,
        "temperature_mixture": temperature_mixture,
        "c4_filters": c4_filters,
        "line_dedup": line_dedup,
        "line_dedup_against": line_dedup_against_path,
        "sentence_span_dedup": sentence_span_dedup,
        "span_dedup_against": span_dedup_against_path,
        "decontaminate_against": decontaminate_against_path,
        "neardup_against": neardup_against_path,
        "semantic_dedup_against": vec_dedup_against_path,
        "importance_weights": importance_weights,
        "importance_against": importance_against_path,
    }
    assert set(registry) == DATAOPS, "DATAOPS out of sync with the registry"
    try:
        return registry[op]
    except KeyError:
        raise SpecError(f"unknown dataop {op!r}; available: {sorted(registry)}") from None

