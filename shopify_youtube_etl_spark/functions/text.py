"""Text-analysis column helpers (SURVEY §7 Phase 5; north-star LLM-data ops).

All pure built-in Column expressions — JVM-side, whole-stage-codegen
friendly, zero Python UDFs — so they run at 100 TB without Arrow
transfer.  Every helper has a documented DuckDB-SQL equivalent used by
the oracle queries in plans/llm_text.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny per-language stopword inventory for the n-gram/stopword
# language-ID heuristic.  Deterministic and trivially portable to SQL.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "que"],
    "de": ["der", "und", "das"],
}


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — canonical form for dedup.
    DuckDB: ``trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))``."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint = md5 of the normalized text.
    DuckDB: ``md5(trim(regexp_replace(lower(x), '\\s+', ' ', 'g')))``."""
    return F.md5(normalize_text(col))


def words(col: Column) -> Column:
    """Whitespace tokenization. DuckDB: ``string_split_regex(x, '\\s+')``."""
    return F.split(F.trim(col), r"\s+")


def shingles_from_words(ws_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED words-array
    column (``df.select(words(text).alias(ws_col))`` first).

    The lambda binds the array once (``transform(slice(ws,...), (w,i)
    -> concat(w, ' ', ws[i+1], ...))``), so the split is evaluated once
    per row instead of once per element access — the codegen-friendly
    form for 100 TB corpora.
    """
    tail = "".join(f", ' ', {ws_col}[i+{k}]" for k in range(1, n))
    expr = (
        f"transform(slice({ws_col}, 1, greatest(size({ws_col})-{n - 1}, 0)),"
        f" (w, i) -> concat(w{tail}))"
    )
    return F.when(F.size(F.col(ws_col)) >= n, F.array_distinct(F.expr(expr))).otherwise(
        F.array().cast("array<string>")
    )


def char_shingles(col: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles over normalized text."""
    norm = normalize_text(col)
    return F.when(
        F.length(norm) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(norm) - n + 1),
                lambda i: norm.substr(i, F.lit(n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_count_whitespace(col: Column) -> Column:
    """Token count, whitespace definition. DuckDB: ``len(string_split_regex(...))``."""
    return F.size(words(col))


def token_count_bpe_estimate(col: Column) -> Column:
    """BPE-ish token estimate: ceil(bytes/4) — the standard ~4-bytes/token
    rule of thumb.  DuckDB: ``CAST(ceil(strlen(x)/4.0) AS BIGINT)``."""
    return F.ceil(F.octet_length(col) / F.lit(4.0)).cast("long")


def stopword_hits(col: Column, stopwords: list[str]) -> Column:
    """How many tokens are in ``stopwords``.  DuckDB:
    ``len(list_filter(string_split_regex(x,'\\s+'), t -> list_contains([...], t)))``."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(words(col), lambda tok: F.array_contains(sw, tok)))


def predicted_lang(col: Column) -> Column:
    """Stopword-vote language ID: the language whose stopword list hits
    the most tokens; 'und' when nothing hits.  Pure CASE/array exprs —
    identical logic is spelled in SQL by the oracle."""
    scores = [(lang, stopword_hits(col, sws)) for lang, sws in LANG_STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # Later languages win ties in this fold order, so iterate reversed:
    # the FIRST language (dict order en,fr,es,de) wins a tie, matching
    # the oracle's CASE ... WHEN chain evaluated top-down.
    for lang, score in reversed(scores):
        out = F.when((best_score > 0) & (score == best_score), F.lit(lang)).otherwise(out)
    return out


def quality_score(text_col: Column) -> Column:
    """Composite [0,1] quality score (length, lexical diversity,
    alpha ratio) — the reference-free heuristic used by pretraining
    pipelines.  All components expressible identically in DuckDB."""
    ws = words(text_col)
    n_tok = F.size(ws)
    ttr = F.size(F.array_distinct(ws)) / F.greatest(n_tok, F.lit(1))
    len_score = F.least(F.length(text_col) / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.length(F.regexp_replace(text_col, r"[^a-zA-Z]", "")) / F.greatest(
        F.length(text_col), F.lit(1)
    )
    return F.round(0.4 * len_score + 0.3 * ttr + 0.3 * alpha_ratio, 6)
