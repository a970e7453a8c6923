"""Text-analysis column builders for the documents pipeline.

All JVM-side ``pyspark.sql.functions`` expressions — no Python UDFs in
the hot path, so whole-stage codegen applies and each operator scales
linearly with executors. Every builder has a deliberately *dual
implementation* in ANSI SQL (see ``levi_spark/queries.py`` oracles), so
correctness is machine-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language-ID. Chosen to be disjoint across languages.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "nicht"],
    "es": ["el", "que", "los"],
    "fr": ["le", "les", "une"],
    "zh": ["的", "是", "了"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish splitting is a later refinement)."""
    return F.size(F.split(F.trim(text), r"\s+"))


def char_count_no_space(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"\s", ""))


def substring_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of ``needle`` in ``text`` via length arithmetic —
    identical semantics in any SQL engine (no regex dialect drift)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def marker_hits(text: Column, words: list[str]) -> Column:
    """Total occurrences of the marker words as whole tokens (padded
    with spaces so word boundaries are literal)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    out = F.lit(0).cast("long")
    for w in words:
        out = out + substring_occurrences(padded, f" {w} ")
    return out


def lang_id_expr(text: Column) -> Column:
    """Heuristic language ID: argmax of marker-word hit counts with a
    deterministic tie-break (language code order); 'und' if no marker
    hit at all."""
    hits = {lang: marker_hits(text, words) for lang, words in LANG_MARKERS.items()}
    langs = sorted(LANG_MARKERS)  # deterministic tie-break: code order
    best = F.greatest(*[hits[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when(hits[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


def quality_score_expr(text: Column) -> Column:
    """Document quality score in [0,1]: blend of token-count band,
    mean token length band, punctuation and digit ratios.

    Pure double arithmetic with a fixed operation order so the DuckDB
    oracle reproduces it bit-for-bit (rounded to 6 dp at the surface).
    """
    n_tok = token_count(text).cast("double")
    n_char = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", "")).cast("double")
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    mean_tok_len = char_count_no_space(text).cast("double") / n_tok
    tok_band = F.when((n_tok >= 10) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.2))
    len_band = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.3)
    )
    alpha_ratio = n_alpha / n_char
    digit_pen = F.lit(1.0) - (n_digit / n_char)
    punct_pen = F.lit(1.0) - (n_punct / n_char)
    return (
        tok_band * F.lit(0.3)
        + len_band * F.lit(0.2)
        + alpha_ratio * F.lit(0.3)
        + digit_pen * F.lit(0.1)
        + punct_pen * F.lit(0.1)
    )


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams as an array column (for Jaccard)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(0)))
    grams = F.transform(idx, lambda i: text.substr(i, F.lit(n)))
    return F.array_distinct(grams)


def jaccard_expr(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array columns (distinct elements)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


# Modulus chosen so acc*257+c stays below 2^63: int64 engines (Spark)
# and arbitrary-precision engines (DuckDB HUGEINT) agree without overflow.
FINGERPRINT_MOD = 10_000_000_000_000_061


def rolling_fingerprint(text: Column, modulus: int = FINGERPRINT_MOD) -> Column:
    """Deterministic polynomial rolling hash of the document (base-257
    Horner over code points, mod ``FINGERPRINT_MOD``) — a content
    fingerprint any engine can recompute. Built with ``aggregate`` over
    the char array: JVM-side, no UDF."""
    mersenne = modulus
    # fold over characters via their code points
    chars = F.transform(
        F.sequence(F.lit(1), F.length(text)),
        lambda i: F.ascii(text.substr(i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(257) + c) % F.lit(mersenne),
    )


# --------------------------------------------------------------------------
# MinHash + LSH / SimHash — shingle-level near-duplicate detection
# --------------------------------------------------------------------------
#
# Feature space: word 3-gram shingles (w-shingling, Broder 1997).
# Shingles are hashed with the same base-257 Horner polynomial as
# ``rolling_fingerprint`` but mod MINHASH_P = 2^31-1, so every product
# in the (a*x + b) mod P family stays below 2^62 — exact in int64 on
# any engine, no overflow, and therefore oracle-checkable in DuckDB.
#
# Scale stance (100 TB): the LSH band join shuffles on (band, sig) —
# never a cross join; candidate verification touches only same-bucket
# pairs. Hot buckets (boilerplate shingle sets) would be salted or
# capped in a production run; the band/row counts (4 x 4 over K=16)
# put the S-curve threshold at (1/4)^(1/4) ~= 0.71 Jaccard.

import random as _random

MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_K = 16
MINHASH_R = 4  # rows per band
MINHASH_BANDS = MINHASH_K // MINHASH_R
_mh_rng = _random.Random(1234567)
MINHASH_A = [_mh_rng.randrange(1, MINHASH_P) for _ in range(MINHASH_K)]
MINHASH_B = [_mh_rng.randrange(0, MINHASH_P) for _ in range(MINHASH_K)]

SIMHASH_BITS = 32
SIMHASH_A = 1103515245
SIMHASH_B = 12345


def shingle_rows(docs, id_col: str = "doc_id", text_col: str = "text", n: int = 3):
    """Explode each document into distinct (id, shingle) word n-gram
    rows — entirely with codegen operators: posexplode the tokens, form
    the n-gram with lead() windows, dedupe. No interpreted
    higher-order functions anywhere (array lambdas run interpreted and
    measured ~10x slower at sf0.1). Positions past the last full
    shingle yield one null-sh row per doc (deduped), so shingle-less
    docs still surface; downstream aggregates skip nulls."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", k).over(w) for k in range(1, n)]
    sh = F.when(leads[-1].isNotNull(), F.concat_ws(" ", F.col("tok"), *leads))
    return toks.select(F.col(id_col), sh.alias("sh")).dropDuplicates([id_col, "sh"])


def md5_fp(col: Column) -> Column:
    """Codegen-fast feature fingerprint in [0, P): first 12 hex chars
    of md5 as an integer, mod P. Cross-engine: DuckDB mirrors it as
    ('0x' || substr(md5(x),1,12))::BIGINT % P."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long") % F.lit(
        MINHASH_P
    )


def shingle_hash_rows(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(id, fp) rows: one per distinct shingle per doc, plus a null-fp
    sentinel row per doc (see shingle_rows)."""
    rows = shingle_rows(docs, id_col, text_col)
    return rows.select(
        F.col(id_col),
        F.when(F.col("sh").isNotNull(), md5_fp(F.col("sh"))).alias("fp"),
    )


def minhash_signatures(rows, id_col: str = "doc_id"):
    """(id, fp) rows -> one row per id with minhash components
    m0..m{K-1}: min over the universal-hash family (a_j*fp + b_j) mod P.
    One shuffle on the id; partial aggregation combines map-side."""
    aggs = [
        F.min(
            (F.lit(MINHASH_A[j]) * F.col("fp") + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)
        ).alias(f"m{j}")
        for j in range(MINHASH_K)
    ]
    return rows.groupBy(id_col).agg(*aggs)


def band_signature(ms: list[Column]) -> Column:
    """One band's signature: base-131 fold of its R minhash rows mod P."""
    sig = ms[0]
    for m in ms[1:]:
        sig = (sig * F.lit(131) + m) % F.lit(MINHASH_P)
    return sig


def simhash_df(rows, id_col: str = "doc_id", out_col: str = "simhash32"):
    """(id, fp) rows -> (id, 32-bit SimHash) (Charikar 2002): bit j is
    the sign of the sum over features of +-1 by feature-hash bit j,
    feature hash = (A*fp + B) mod P. The 32 bit sums are ordinary
    codegen aggregates over the exploded rows (see shingle_hash_rows
    for why NOT per-array lambda aggregates). Null-fp sentinel rows
    contribute NULL to every weight (sum skips them); a doc with no
    real shingles gets all-NULL weights -> every bit 0 -> simhash 0,
    matching the empty-list oracle semantics."""
    h = (F.lit(SIMHASH_A) * F.col("fp") + F.lit(SIMHASH_B)) % F.lit(MINHASH_P)
    aggs = [
        F.sum(
            F.when(
                F.col("fp").isNotNull(),
                F.when(h.bitwiseAND(F.lit(1 << j)) != 0, F.lit(1)).otherwise(F.lit(-1)),
            )
        ).alias(f"w{j}")
        for j in range(SIMHASH_BITS)
    ]
    ws = rows.groupBy(id_col).agg(*aggs)
    sh = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sh = sh + F.when(F.col(f"w{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return ws.select(F.col(id_col), sh.alias(out_col))
