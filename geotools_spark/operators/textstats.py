"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, document fingerprinting.

Everything except the rolling-hash fingerprint is pure JVM column
expressions (split/filter/aggregate lambdas) so the DuckDB oracle can
mirror the arithmetic exactly. The fingerprint is an Arrow-vectorized
NumPy kernel (per-character polynomial hash, vectorized across the
batch's documents via a padded char matrix — no per-row Python loop
over characters).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from geotools_spark.operators.dedup import tokens_expr

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "on"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los"),
}

FP_BASE = 1000003
FP_MOD = (1 << 61) - 1


def _stop_count(toks, lang: str):
    words = list(STOPWORDS[lang])
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def text_metrics(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """token count, char count, mean token length, stopword ratio,
    digit ratio, and a composite quality score in [0, 1]."""
    # materialize the tokenization once — repeated split+filter
    # subexpressions are NOT deduplicated by codegen (see spans.py)
    docs = docs.select("doc_id", text_col, tokens_expr(text_col).alias("_toks"))
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_char = F.length(F.col(text_col))
    sum_tok_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_tok_len = sum_tok_len.cast("double") / n_tok.cast("double")
    stop_ratio = _stop_count(toks, "en").cast("double") / n_tok.cast("double")
    digits = n_char - F.length(F.regexp_replace(F.col(text_col), "[0-9]", ""))
    digit_ratio = digits.cast("double") / n_char.cast("double")
    # quality: enough tokens, sane word lengths, some stopwords, few digits
    quality = (
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.3
        + F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), 0.3).otherwise(0.0)
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.2
        + (1.0 - F.least(digit_ratio * 10.0, F.lit(1.0))) * 0.2
    )
    # BPE-ish token count: letter runs, single digits, punctuation runs
    # (the GPT-2 pre-tokenizer's shape, ASCII approximation so the
    # DuckDB oracle's regex engine agrees byte-for-byte)
    bpe_tok = F.size(
        F.expr(
            rf"regexp_extract_all({text_col}, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+', 0)"
        )
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        bpe_tok.alias("n_bpe_tokens"),
        n_char.alias("n_char"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def lang_id(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID with deterministic tie-break
    (first language in en > fr > de > es order wins ties)."""
    # materialize the tokenization AND each language score once: the
    # tie-break CASE chain references every score several times and
    # codegen re-evaluates split+filter per reference otherwise
    toks = docs.select("doc_id", tokens_expr(text_col).alias("_toks"))
    docs = toks.select(
        "doc_id",
        *[_stop_count(F.col("_toks"), lang).alias(f"_sc_{lang}") for lang in STOPWORDS],
    )
    scores = {lang: F.col(f"_sc_{lang}") for lang in STOPWORDS}
    langs = list(STOPWORDS)
    # first-match CASE chain: earlier language wins ties
    pred = None
    for i, lang in enumerate(langs):
        cond = scores[lang] > 0
        for later in langs[i + 1 :]:
            cond = cond & (scores[lang] >= scores[later])
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit("und"))
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in STOPWORDS],
        pred.alias("lang_pred"),
    )


@F.pandas_udf(LongType())
def fingerprint_udf(texts: pd.Series) -> pd.Series:
    """Polynomial rolling hash mod 2^61-1 over UTF-8 bytes, vectorized
    across the batch: documents are padded into a (docs x maxlen) byte
    matrix and the recurrence runs column-wise."""
    encoded = [t.encode("utf-8") if t is not None else b"" for t in texts]
    n = len(encoded)
    maxlen = max((len(e) for e in encoded), default=0)
    if maxlen == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    mat = np.zeros((n, maxlen), dtype=np.uint64)
    lens = np.zeros(n, dtype=np.int64)
    for i, e in enumerate(encoded):
        arr = np.frombuffer(e, dtype=np.uint8)
        mat[i, : len(arr)] = arr
        lens[i] = len(arr)
    # exact mod-(2^61-1) arithmetic in pure uint64 (no python-int object
    # arrays): split acc into 32-bit limbs so acc*BASE never overflows,
    # then Mersenne-reduce.  acc = hi*2^32 + lo with hi < 2^29:
    #   acc*B + c = hi*B*2^32 + lo*B + c
    #   hi*B*2^32 mod p = (hi*B >> 29) + ((hi*B & (2^29-1)) << 32)
    # every intermediate stays < 2^62.
    u32, u29, u61 = np.uint64(32), np.uint64(29), np.uint64(61)
    m32 = np.uint64(0xFFFFFFFF)
    m29 = np.uint64((1 << 29) - 1)
    M61 = np.uint64(FP_MOD)
    B = np.uint64(FP_BASE)
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(maxlen):
        active = j < lens
        col = mat[:, j]
        u = (acc >> u32) * B
        total = (acc & m32) * B + col + (u >> u29) + ((u & m29) << u32)
        total = (total & M61) + (total >> u61)
        total = np.where(total >= M61, total - M61, total)
        acc = np.where(active, total, acc)
    return pd.Series(acc.astype(np.int64))


def fingerprints(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    return docs.select("doc_id", fingerprint_udf(F.col(text_col)).alias("fingerprint"))


def fingerprint_py(text: str) -> int:
    """Reference oracle for tests."""
    acc = 0
    for byte in text.encode("utf-8"):
        acc = (acc * FP_BASE + byte) % FP_MOD
    return acc
