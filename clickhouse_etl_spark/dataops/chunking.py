"""Document chunking + term statistics + PII scrubbing — the
pretraining-prep transforms that sit between raw text and tokenization.

All Catalyst expressions; deterministic (integer arithmetic, fixed
regexes shared verbatim with the oracle SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .fold import fold_lower
from .util import _arrow_pass, scale_out

#: shared with the oracle SQL verbatim — plain patterns that parse
#: identically under Java regex and RE2
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
URL_RE = "https?://[^ ]+"


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens); the last
    window starts at the largest multiple of ``stride`` < n_tokens.
    Output: (id, chunk_idx, chunk_text, n_chunk_tokens). Narrow explode
    — scan-speed, no shuffle.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(stride)).cast("int") + 1
    )
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " ").alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).cast("bigint").alias("n_chunk_tokens"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
    )


def top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_len: int = 2,
) -> DataFrame:
    """Top-k terms per document by term frequency (ties: term asc).

    Integer counts only (no idf/log — engine libm rounding differs).
    The ranking is ROW-LOCAL (each document's terms compete only with
    each other), so it runs as one Arrow pass with a per-doc Counter —
    no explode, no (doc, term) shuffle, no rank window. Value-identical
    to the explode + (doc, term) agg + WindowGroupLimit rank form
    (equality-pinned in tests; Python sort on (-tf, term) matches the
    window's tf desc/term asc because UTF-8 byte order preserves
    code-point order) when ``id_col`` is unique (the documents-table
    contract): on duplicate ids each row is ranked independently.
    """
    from collections import Counter

    from pyspark.sql import types as T

    fields = [
        T.StructField("term", T.StringType(), True),
        T.StructField("tf", T.LongType(), True),
        T.StructField("rank", T.IntegerType(), True),
    ]

    def topk(pdf):
        rows, terms, tfs, ranks = [], [], [], []
        for i, x in enumerate(pdf[text_col]):
            if x is None:
                continue
            cnt = Counter(
                t for t in fold_lower(x).split(" ") if len(t) >= min_len
            )
            best = sorted(cnt.items(), key=lambda it: (-it[1], it[0]))[:k]
            for r, (term, tf) in enumerate(best, start=1):
                rows.append(i)
                terms.append(term)
                tfs.append(tf)
                ranks.append(r)
        return rows, [terms, tfs, ranks]

    src = scale_out(df.select(id_col, text_col))
    return _arrow_pass(src, fields, "top_terms", keep=[id_col])(lambda: topk)


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """Redact emails and URLs (the standard pretraining scrub pass).

    Patterns are shared verbatim with the oracle; replacement tokens
    match common open-source pipeline conventions.
    """
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )
    return df.withColumn(out_col, scrubbed)


#: The published-pipeline PII battery beyond email/URL (C4 scrubs more
#: than email; RefinedWeb §3.1 removes URLs/emails/phone/IP-class
#: identifiers) — ordered (name, pattern, replacement) rules in the
#: deterministic Java-regex/RE2 agreement subset (ASCII classes, \b
#: word boundaries, explicit digit counts — the normalize_text
#: precedent; agreement spot-checked against DuckDB in
#: tests/test_dataops.py). Order matters and is part of the contract:
#: emails before URLs (addresses embed dots/digits), URLs before the
#: numeric rules (an IP inside a URL belongs to the <URL> token),
#: card/ID numbers before phone (a phone pattern could bite their
#: separator groups), IP before phone (dotted quads vs dotted phones).
PII_RULES = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("url", URL_RE, "<URL>"),
    ("cc", r"\b[0-9]{4}([ -][0-9]{4}){3}\b", "<CC>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("ip", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # phone: international prefix optional, then (area) or area with a
    # separator, then two separator-joined groups. Separator-less digit
    # runs are deliberately OUT of the deterministic subset (a 10-digit
    # run is as likely an id or a timestamp; published scrubs differ
    # here, so the battery takes the conservative, explainable side).
    (
        "phone",
        r"(\+[0-9]{1,3}[-. ])?(\([0-9]{2,4}\)[-. ]?|\b[0-9]{2,4}[-. ])"
        r"[0-9]{3,4}[-. ][0-9]{3,4}\b",
        "<PHONE>",
    ),
)


def scrub_pii_battery(
    df: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """The full published scrub pass — :data:`PII_RULES` applied in
    declared order, each stage counting its matches BEFORE redacting
    (``pii_<rule>`` bigint audit columns), so the attrition report a
    curation deployment needs rides along for free. Superset of
    :func:`scrub_pii` (same email/URL rules and tokens first).

    Stream-safe and row-local: one projection, no shuffle, no state —
    the whole battery is a single whole-stage-codegen pass over the
    scan at any scale. Reference parity: the reference has no PII
    surface; this extends the curation family the way C4/RefinedWeb
    §3.1 describe (VERDICT r10 #5).
    """
    cur = F.coalesce(F.col(text_col), F.lit(""))
    counts = {}
    for name, pat, repl in PII_RULES:
        counts[f"pii_{name}"] = F.regexp_count(cur, F.lit(pat)).cast("bigint")
        cur = F.regexp_replace(cur, pat, repl)
    return df.withColumns({**counts, out_col: cur})


def pack_sequences(
    df: DataFrame,
    capacity: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    stream_col: str = "source",
    shards: int = 1,
) -> DataFrame:
    """Deterministic context-window packing (concat-then-chunk).

    Assigns every document a position in the concatenated token stream
    of its ``stream_col`` group (documents ordered by ``id_col``) and
    derives which fixed-``capacity`` training sequence its first token
    lands in — the GPT-style "concatenate the corpus, slice into
    context windows" preparation, expressed as pure window arithmetic:

    - ``start_offset``: running token count before this doc (exclusive
      prefix sum over the stream order),
    - ``pack_id``: ``start_offset div capacity``,
    - ``offset_in_pack``: position of the doc's first token inside it,
    - ``packs_spanned``: how many sequence boundaries the doc crosses
      (a doc longer than ``capacity`` spans several).

    Scale shape: one window per stream — parallelism is the stream
    count, never a global sort.  At production SF pass ``shards > 1``
    to sub-shard each stream by ``pmod(id, shards)`` (each shard packs
    independently; the concatenation order within a shard is still
    total, so results stay deterministic).  With ``shards > 1`` the
    shard id is folded into the pack namespace —
    ``pack_id = local_pack * shards + shard`` — so (stream, pack_id)
    stays globally unique and downstream can reconstruct distinct
    packs; a ``shard`` column is also emitted.  Token counting matches
    dataops.text.token_stats (whitespace tokens, empties dropped).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)
    n_tokens = F.size(toks).cast("bigint")
    d = df.select(
        F.col(id_col), F.col(stream_col).alias("stream"), n_tokens.alias("n_tokens")
    )
    if shards > 1:
        d = d.withColumn("_shard", F.pmod(F.col(id_col), F.lit(shards)))
        w = Window.partitionBy("stream", "_shard").orderBy(id_col)
    else:
        w = Window.partitionBy("stream").orderBy(id_col)
    start = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    cap = int(capacity)
    # end = offset of the doc's last token (empty docs occupy one slot so
    # every doc lands in exactly one pack); integer `div` keeps the whole
    # computation in exact bigints on both engines
    d = (
        d.withColumn("start_offset", start)
        .withColumn(
            "_end", F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1).cast("bigint")) - 1
        )
        .withColumn("_local_pack", F.expr(f"start_offset div {cap}"))
    )
    spanned = (F.expr(f"_end div {cap}") - F.col("_local_pack") + 1).cast("bigint")
    if shards > 1:
        # fold the shard into the pack namespace: local pack p of shard s
        # -> p*shards + s, globally unique per (stream, pack_id)
        pack_id = (F.col("_local_pack") * shards + F.col("_shard")).cast("bigint")
        extra = [F.col("_shard").cast("bigint").alias("shard")]
    else:
        pack_id = F.col("_local_pack")
        extra = []
    return d.select(
        F.col(id_col),
        F.col("stream").alias(stream_col),
        "n_tokens",
        "start_offset",
        pack_id.alias("pack_id"),
        F.pmod(F.col("start_offset"), F.lit(cap).cast("bigint")).alias("offset_in_pack"),
        spanned.alias("packs_spanned"),
        *extra,
    )


#: epoch-shuffle permutation constants (MinHash family member) and the
#: per-epoch offset that decorrelates successive epochs
SHUF_A, SHUF_B = 48497, 121949
EPOCH_OFFSET = 777_767


def epoch_shuffle(
    df: DataFrame,
    epoch: int = 0,
    n_shards: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic epoch-varying global shuffle: assign every
    document a training shard and a position within it — the
    data-ordering step before writing per-worker epoch files. Changing
    ``epoch`` permutes the order reproducibly (no RNG, so any engine
    and any re-run agree).

    Scale shape: shard = affine-hash mod n_shards (one hash shuffle,
    uniform by construction); within-shard order is a per-shard window
    sort — n_shards independent sorts, never a global one. At cluster
    scale set n_shards to the writer parallelism.

    Output: (id, shard, pos), pos = 1..shard size.
    """
    from .hashing import HASH_MOD, affine_hash

    # epoch MULTIPLIES (never shifts): adding a constant before the
    # affine hash is a uniform key shift that can preserve both shard
    # assignment and order; multiplying by (1 + epoch*OFFSET) mod P
    # genuinely permutes. Product fits int64 for epoch < ~4000.
    base = affine_hash(F.col(id_col).cast("bigint"), SHUF_A, SHUF_B)
    key = (base * F.lit(1 + epoch * EPOCH_OFFSET)) % F.lit(HASH_MOD)
    d = df.select(F.col(id_col), key.alias("_key")).withColumn(
        "shard", (F.col("_key") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("_key", id_col)
    return d.select(
        id_col, "shard", F.row_number().over(w).cast("int").alias("pos")
    )
