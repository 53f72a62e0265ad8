"""The ONE case-fold policy (VERDICT r10 #4): `dataops/fold.py` is the
single Python fold definition, its engine-agreement contract is
MEASURED and pinned here — including the non-ASCII corners the four
kernel families used to document separately with nothing pinned.

Measured reality the policy encodes:
- Python ``str.lower()`` == Spark ``lower()`` on the full Unicode
  special-casing set ('İ', final sigma, titlecase digraphs) — so the
  kernel<->Catalyst engine swaps are fold-safe beyond ASCII;
- DuckDB ``lower()`` is simple-mapping only — so ORACLE-backed outputs
  rely on folding only for ASCII input (the declared subset).
"""

import ast
import os
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from clickhouse_etl_spark.dataops.fold import (
    fold_lower,
    fold_space_tokens,
    fold_word_tokens,
)

REPO = Path(__file__).resolve().parents[1]

# the divergence-prone sample: Turkish dotted capital I, dotless i,
# sharp s, Greek final/non-final sigma, titlecase digraph, ligature,
# accents, Cyrillic, CJK, Roman numeral, Cherokee, plain ASCII
CASES = [
    "İ", "I", "ı", "ß", "ΑΣ", "Σ", "ǅungla", "ﬀ", "École", "Ĳ",
    "Ω", "К", "中文A", "ABCxyz", "ÅÄÖ", "Ⅷ", "Ꮃ",
    "İstanbul BAĞ", "Mix École ΑΣ end",
]


def test_python_fold_matches_spark_lower_beyond_ascii(spark):
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CASES)], "i int, s string"
    )
    got = {
        r["i"]: r["l"]
        for r in df.select("i", F.lower("s").alias("l")).collect()
    }
    for i, c in enumerate(CASES):
        assert got[i] == fold_lower(c), (
            f"Python str.lower() and Spark lower() diverge on {c!r} — "
            "the fold.py policy is no longer true on this build; "
            "re-measure and re-document"
        )


def test_duckdb_divergence_is_why_the_policy_declares_ascii():
    """DuckDB lower() is simple-mapping: these two corners are the
    measured reason oracle-backed folds are declared ASCII-only. If
    DuckDB gains special casing, this pins the moment the policy can
    be revisited."""
    con = duckdb.connect()
    assert con.execute("select lower('İ')").fetchone()[0] == "i"  # 1 char
    assert con.execute("select lower('ΑΣ')").fetchone()[0] == "ασ"
    # and the pair-side behavior really differs on those inputs
    assert fold_lower("İ") == "i̇"
    assert fold_lower("ΑΣ") == "ας"
    # while on ASCII all three are identical by construction
    assert (
        con.execute("select lower('MiXeD 123')").fetchone()[0]
        == fold_lower("MiXeD 123")
        == "mixed 123"
    )


def test_space_token_family_matches_catalyst_beyond_ascii(spark):
    """The classifier/DSIR/BPE token unit: fold_space_tokens ==
    F.split(F.lower(col), " ") + drop-empties, incl. non-ASCII rows."""
    rows = CASES + ["", "  double  space", None, "İ BAĞ ΑΣ tokens"]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(rows)], "i int, s string"
    )
    toks = F.filter(
        F.split(F.lower(F.coalesce("s", F.lit(""))), " "),
        lambda t: F.length(t) > 0,
    )
    got = {r["i"]: r["t"] for r in df.select("i", toks.alias("t")).collect()}
    for i, c in enumerate(rows):
        assert got[i] == fold_space_tokens(c), f"row {i}: {c!r}"


def test_word_token_family_matches_catalyst_beyond_ascii(spark):
    """The decontamination/C4-blocklist token unit: fold_word_tokens ==
    _word_tokens_expr (lower + [^a-z0-9]+ runs), incl. non-ASCII rows —
    non-ASCII letters are separators on BOTH engines identically."""
    from clickhouse_etl_spark.dataops.dedup import _word_tokens_expr

    rows = CASES + ["", None, "İstanbul? Ğood-bye 42.", "ΑΣ σ token"]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(rows)], "i int, s string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", _word_tokens_expr("s").alias("t")).collect()
    }
    for i, c in enumerate(rows):
        assert got[i] == fold_word_tokens(c), f"row {i}: {c!r}"


def test_decontam_write_probe_parity_beyond_ascii(spark, tmp_path):
    """End-to-end engine-pair parity on non-ASCII text: an eval doc
    registered through the CATALYST artifact writer is caught by the
    PYTHON probe kernel on an identical (and a case-variant) training
    doc — the cross-engine property the shared fold guarantees."""
    from clickhouse_etl_spark.dataops.dedup import (
        decontaminate_against_path,
        write_ngram_digest_table,
    )

    eval_text = "İstanbul ΑΣ summer École results 42 follow the pattern"
    evals = spark.createDataFrame([(0, eval_text)], "doc_id long, text string")
    path = str(tmp_path / "decontam_nonascii")
    write_ngram_digest_table(evals, path, n=3, mode="overwrite")

    train = spark.createDataFrame(
        [
            (1, eval_text),                       # exact contamination
            (2, eval_text.upper()),               # case variant
            (3, "completely fresh clean text with different words"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in decontaminate_against_path(train, path, n=3).collect()
    }
    assert kept == {3}, kept


def test_normalize_engines_agree_beyond_ascii(spark):
    """normalize_text's Arrow pass stays equal to the Catalyst regex
    reference on non-ASCII rows (the ASCII-class scrub makes even the
    DuckDB-divergent fold corners collapse identically: divergent
    characters are non-[a-z0-9 ] on every engine and scrub to spaces)."""
    rows = [(i, c) for i, c in enumerate(CASES + ["İ MIXED ΑΣ case 42"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from reference_forms import normalize_text_expr

    from clickhouse_etl_spark.dataops.text import normalize_text

    a = {
        r["doc_id"]: (r["text_norm"], r["n_tokens_raw"], r["n_tokens_norm"])
        for r in normalize_text(df).collect()
    }
    b = {
        r["doc_id"]: (r["text_norm"], r["n_tokens_raw"], r["n_tokens_norm"])
        for r in normalize_text_expr(df).collect()
    }
    assert a == b


def test_fold_py_is_the_only_python_lower_site():
    """Mechanical 'one helper' enforcement: no zero-arg ``.lower()``
    call in any dataops/streaming source except fold.py — a new text
    kernel cannot silently re-introduce a separately-documented fold
    (AST-based: comments and docstrings don't count). Scoped to the
    TEXT-KERNEL packages: operators/sources fold CONFIG identifiers
    (ClickHouse type names, table names), which is a different,
    ASCII-by-spec concern."""
    offenders = []
    for sub in ("dataops", "streaming"):
        base = REPO / "clickhouse_etl_spark" / sub
        for py in base.rglob("*.py"):
            if py.name == "fold.py":
                continue
            tree = ast.parse(py.read_text())
            for node in ast.walk(tree):
                # zero-arg .lower() is the Python str fold; Catalyst's
                # F.lower(col) always takes an argument and is fine
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "lower"
                    and not node.args
                    and not node.keywords
                ):
                    offenders.append(f"{py.relative_to(REPO)}:{node.lineno}")
    assert not offenders, (
        "Python-side .lower() outside dataops/fold.py — route through "
        f"fold_lower/fold_*_tokens: {offenders}"
    )
