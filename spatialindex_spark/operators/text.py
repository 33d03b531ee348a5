"""Text-analysis operators for training-data pipelines.

All pure Column expressions (JVM whole-stage codegen) except the fingerprint,
which is a vectorized pandas UDF. Each has an exact ANSI-SQL oracle twin in
__spark_entry__.oracle_sql().

- ``with_quality``: length / punctuation-ratio / stopword-ratio / mean word
  length quality features + a composite score.
- ``with_token_count``: whitespace tokens and a BPE-ish subword estimate
  (words + ceil(chars/4) blend).
- ``with_lang_id``: n-gram-free heuristic language id over stopword hit
  rates for a small language set (en/de/fr/es) — deterministic, oracle-able.
- ``fingerprint_udf``: 64-bit rolling-hash document fingerprint.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "las", "es", "una", "para", "con", "por", "del"],
}


def _tokens(col):
    return F.split(F.lower(F.trim(col)), r"\s+")


def _stop_hits(col, lang: str):
    toks = _tokens(col)
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    toks = _tokens(t)
    n_chars = F.length(t)
    n_words = F.size(toks)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[\.,;:!\?\"'\(\)]", ""))
    stop_ratio = _stop_hits(t, "en") / F.greatest(n_words, F.lit(1))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    mean_word_len = (n_chars - n_words + 1) / F.greatest(n_words, F.lit(1))
    score = (
        F.least(n_words / F.lit(200.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(4.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0))) * 0.2
    )
    return df.withColumns({
        "n_words": n_words,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "mean_word_len": mean_word_len,
        "quality_score": score,
    })


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    ws = F.size(_tokens(t))
    bpe_est = F.ceil(F.length(t) / F.lit(4.0)).cast("long")
    return df.withColumns({
        "ws_tokens": ws.cast("long"),
        "bpe_tokens_est": F.greatest(ws.cast("long"), bpe_est),
    })


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    hits = {lang: _stop_hits(t, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    lang_expr = F.when(best == F.lit(0), F.lit("unknown"))
    for lang, h in hits.items():  # first max wins, fixed dict order
        lang_expr = lang_expr.when(h == best, F.lit(lang))
    return df.withColumn("lang_pred", lang_expr)


def fingerprint_udf(k: int = 8):
    """64-bit document fingerprint: min of rolling k-byte polynomial hashes
    (a deterministic content fingerprint; equal fingerprints => likely shared
    k-gram content)."""

    @pandas_udf("long")
    def _udf(text: pd.Series) -> pd.Series:
        from .dedup import _shingle_hashes

        out = np.empty(len(text), dtype=np.int64)
        for i, s in enumerate(text.fillna("")):
            h = _shingle_hashes(s, k)
            out[i] = np.int64(h.min().astype(np.int64)) if h.size else 0
        return pd.Series(out)

    return _udf


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition quality metrics (the public Gopher-rule family, Rae et
    al. 2021 §A1.1; count-fraction variants):

    - ``dup_line_frac``: 1 - distinct lines / lines.
    - ``dup_5gram_frac``: 1 - distinct word 5-grams / word 5-grams.
    - ``top_2gram_frac``: occurrences of the most frequent word 2-gram /
      total word 2-grams.
    - ``repetition_ok``: all three under the documented thresholds
      (0.30 / 0.30 / 0.20).

    Two per-task-work fixes this round (guide §1.2 step 2 / §2.4):

    - The token array is MATERIALIZED as a column before any gram lambda
      touches it. Non-leaf expressions re-evaluate per lambda element,
      so ``slice(split(lower(trim(text))), i, k)`` re-ran the whole
      tokenizer once per gram position (~nw times per doc per metric) —
      measured 2.7 s for a bare ``size(grams(5))`` over 5k 300-char docs
      vs 0.15 s for the tokenizer itself.
    - The 2-gram mode (max multiplicity) is the longest equal-adjacent
      run of the SORTED gram array, computed per row with array_sort +
      aggregate; the old explode + per-(doc, gram) count + rollup + join
      paid two exchanges and a join for a quantity each row answers
      alone.

    Same strings, same counts — output identical (sf0.1 oracle green);
    the sf0.1 gate query dropped 14.0 -> ~1 s.

    Every row is scored on its own text: rows that share a document id
    are not combined, so duplicate ids are scored row by row. The
    working columns ``_rep_words``, ``_rep_g5`` and ``_rep_g2s`` are
    reserved; an input column of one of those names (case-insensitive)
    raises ``ValueError``."""
    work = ("_rep_words", "_rep_g5", "_rep_g2s")
    clash = sorted({c.lower() for c in df.columns} & set(work))
    if clash:
        raise ValueError(f"with_repetition: input columns {clash} collide "
                         "with its reserved working columns")
    t = F.col(text_col)
    lines = F.split(t, "\n")
    nl = F.size(lines)
    dup_line = F.when(
        nl > 0, 1.0 - F.size(F.array_distinct(lines)) / nl).otherwise(0.0)

    words = F.col("_rep_words")
    nw = F.size(words)

    def grams(k):
        return F.when(
            nw >= k,
            F.transform(F.sequence(F.lit(0), nw - k),
                        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
        ).otherwise(F.array().cast("array<string>"))

    n5 = F.size(F.col("_rep_g5"))
    dup5 = F.when(n5 > 0,
                  1.0 - F.size(F.array_distinct(F.col("_rep_g5"))) / n5
                  ).otherwise(0.0)

    # max 2-gram multiplicity per row: longest equal-adjacent run of the
    # sorted gram array (exact — same strings, same counts as the old
    # per-(doc, gram) groupBy; no hashing, so no collision risk)
    g2s = F.col("_rep_g2s")
    n2 = F.size(g2s)

    def _run_step(acc, x):
        run = F.when(acc["p"].isNull() | (acc["p"] != x),
                     F.lit(1)).otherwise(acc["r"] + 1)
        return F.struct(x.alias("p"), run.alias("r"),
                        F.greatest(acc["b"], run).alias("b"))

    top2_cnt = F.aggregate(
        g2s,
        F.struct(F.lit(None).cast("string").alias("p"),
                 F.lit(0).alias("r"), F.lit(0).alias("b")),
        _run_step,
        lambda acc: acc["b"])
    out = (df.withColumn("_rep_words", _tokens(t))
           .withColumns({"_rep_g5": grams(5),
                         "_rep_g2s": F.array_sort(grams(2))})
           .withColumns({
               "dup_line_frac": dup_line,
               "dup_5gram_frac": dup5,
               "top_2gram_frac": F.when(n2 > 0,
                                        top2_cnt / n2).otherwise(0.0),
           })
           .drop(*work))
    ok = ((F.col("dup_line_frac") <= 0.30)
          & (F.col("dup_5gram_frac") <= 0.30)
          & (F.col("top_2gram_frac") <= 0.20))
    return out.withColumn("repetition_ok", ok.cast("int"))


def decontaminate(df: DataFrame, eval_df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 13,
                  mark_only: bool = False,
                  key: str = "hash") -> DataFrame:
    """Test-set decontamination: remove (or, with ``mark_only``, flag)
    training documents that share ANY word ``n``-gram with a held-out
    evaluation corpus — the standard 13-gram-collision rule used by
    large-pretraining data pipelines.

    Scale shape: the EVAL side is small (benchmarks are ~10^3-10^6 docs),
    so its distinct gram keys are broadcast; the 100-TB TRAINING side
    derives grams with JVM higher-order functions (split/sequence/slice/
    concat_ws — no Python, whole-stage codegen) and probes the broadcast
    set — the big side never shuffles. Tokenization matches
    ``with_repetition`` (lower + trim + whitespace split) so one
    normalization story covers both quality and decontamination.

    ``key="hash"`` (default) joins on xxhash64 of the gram — an 8-byte
    probe key instead of an ~80-byte string; a false flag needs an
    xxhash64 collision between a training gram and an eval gram
    (~(grams^2)/2^64 — negligible, and it can only ever OVER-remove).
    ``key="text"`` joins on the gram string itself (bit-exact, what the
    SQL oracle replays)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if key not in ("hash", "text"):
        raise ValueError(f"key must be 'hash' or 'text', got {key!r}")

    def grams(frame):
        # tokens materialized as a column BEFORE the gram lambda: a
        # non-leaf child re-evaluates per lambda element, so inlining
        # the tokenizer into slice() re-ran it once per gram position
        # (see with_repetition; tokenization MUST match it)
        words = F.col("_dw")
        nw = F.size(words)
        g = F.when(
            nw >= n,
            F.transform(F.sequence(F.lit(0), nw - n),
                        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
        ).otherwise(F.array().cast("array<string>"))
        return (frame.select(F.col(id_col),
                             _tokens(F.col(text_col)).alias("_dw"))
                .select(F.col(id_col), F.explode(g).alias("_g")))

    probe = (F.xxhash64("_g").alias("_gk") if key == "hash"
             else F.col("_g").alias("_gk"))
    eval_grams = grams(eval_df).select(probe).distinct()
    hits = (grams(df).select(F.col(id_col), probe)
            .join(F.broadcast(eval_grams), "_gk", "leftsemi")
            .select(id_col).distinct())
    if mark_only:
        flag = F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
        return (df.join(hits.withColumn("_hit", F.lit(1)), id_col, "left")
                  .withColumn("contaminated", flag).drop("_hit"))
    return df.join(hits, id_col, "left_anti")


#: redaction patterns (applied in order). Deliberately RE2-compatible
#: (no backrefs / lookaround) so external engines (DuckDB, Go, Rust)
#: reproduce the scrub byte-for-byte for oracle checks.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("longnum", r"\b\d{9,}\b", "<NUMBER>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text",
              out_col: str | None = None,
              with_counts: bool = False) -> DataFrame:
    """Redact common PII shapes (emails, IPv4 addresses, long digit runs
    — phone/account/SSN-ish) from a text column — the standard scrub pass
    a pretraining pipeline runs before packing.

    Pure JVM ``regexp_replace`` chain (whole-stage codegen, no Python, no
    shuffle — a map-only pass that pipelines with any downstream
    operator). Patterns are RE2-compatible by design so the scrub is
    reproducible outside the JVM (the oracle replays it in DuckDB).
    ``with_counts`` adds one redaction-count column per pattern
    (regexp_count, also JVM). Each pattern is counted against the text
    AFTER the preceding patterns were replaced — mirroring the sequential
    replacement chain — so the counts reconcile exactly with the
    redactions actually performed (e.g. a 9+-digit run inside an email is
    consumed by <EMAIL>, not double-counted by n_longnum; r3 advice fix)."""
    out_col = out_col or text_col
    res = df
    cur = F.col(text_col)
    for name, pat, token in PII_PATTERNS:
        if with_counts:
            res = res.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, token)
    return res.withColumn(out_col, cur)
