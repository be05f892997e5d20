"""Text-analysis functions for the training-data pipeline — all JVM-side.

Every function here returns Column expressions built from
``pyspark.sql.functions`` only (whole-stage codegen, no Python), so they run
at scan speed on a 100 TB documents table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/marker language-ID
# heuristic (public-knowledge frequency lists)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "a"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "es", "los"],
    "ru": ["и", "в", "не", "на", "это"],
}

STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]


def words(col) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.col(col) if isinstance(col, str) else col, r"\s+")


def token_count(col) -> Column:
    """Whitespace token count; empty string counts as 0 tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    ).cast("long")


def _count_re(c: Column, pattern: str) -> Column:
    return F.length(c) - F.length(F.regexp_replace(c, pattern, ""))


def quality_features(col) -> dict[str, Column]:
    """Length / punctuation / digit / uppercase / stopword quality signals.

    Ratios are NULL-safe for empty text (nullif guard — Spark 4 ANSI mode).
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    nz = F.nullif(n.cast("double"), F.lit(0.0))
    toks = token_count(c)
    stop_hits = F.size(
        F.filter(
            F.split(F.lower(F.trim(c)), r"\s+"),
            lambda w: w.isin(*STOPWORDS_EN),
        )
    )
    return {
        "n_chars": n,
        "n_tokens": toks,
        "punct_ratio": F.round(_count_re(c, r"[.,!?;:]") / nz, 4),
        "digit_ratio": F.round(_count_re(c, r"[0-9]") / nz, 4),
        "space_ratio": F.round(_count_re(c, r"\s") / nz, 4),
        "stopword_ratio": F.round(
            stop_hits / F.nullif(toks.cast("double"), F.lit(0.0)), 4
        ),
        "mean_word_len": F.round(
            F.length(F.regexp_replace(c, r"\s", "")) / F.nullif(toks.cast("double"), F.lit(0.0)), 4
        ),
    }


def langid(col) -> Column:
    """Marker-word language ID: argmax of per-language marker hits.

    Deterministic tie-break by language code order; 'und' when no marker hits.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    toks = F.split(F.trim(c), r"\s+")
    def _hits(markers):
        return F.size(F.filter(toks, lambda w: w.isin(*markers)))

    scores = {lang: _hits(markers) for lang, markers in sorted(LANG_MARKERS.items())}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS.keys(), reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def normalize_text(col) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(F.encode(normalize_text(col), "UTF-8"))


def word_ngrams(col, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (empty if fewer than n words).

    Built by zipping n shifted slices of the word array (j-th slice starts
    at word j+1), folding them together with ``zip_with`` + space concat —
    the word array evaluates once per SLICE (n per row). The transform/
    element_at formulation this replaced re-evaluated the split inside the
    lambda, i.e. per GRAM: measured 8.6 s -> 0.55 s over sf0.1's 60k docs
    (15x), byte-identical output (round-5 A/B, zero differing rows)."""
    w = words(F.trim(F.col(col) if isinstance(col, str) else col))
    m = F.size(w) - F.lit(n - 1)
    g = F.slice(w, 1, m)
    for j in range(1, n):
        g = F.zip_with(g, F.slice(w, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(w) < n, F.array().cast("array<string>")).otherwise(g)


# PII redaction: (class, pattern, replacement) applied IN ORDER — email
# first so the phone pattern cannot eat an address's digit run. Patterns
# are ASCII-class-only (\d, explicit sets), where Java regex (Spark
# codegen) and RE2 (the DuckDB oracle) agree byte-for-byte; both engines
# replace globally.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9\-() ]{7,}[0-9]", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]


def pii_scrub(col) -> Column:
    """Redact emails / phone numbers / IPv4 addresses (the standard
    training-data privacy pass) — chained global ``regexp_replace``, all
    whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    for _name, pat, repl in PII_RULES:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col) -> dict[str, Column]:
    """Per-class PII hit counts taken in rule order on the progressively
    scrubbed text — each class counts matches in the string after the
    previous classes' replacements, so counts equal what ``pii_scrub``
    actually replaces (and what the DuckDB oracle computes)."""
    c = F.col(col) if isinstance(col, str) else col
    out: dict[str, Column] = {}
    for name, pat, repl in PII_RULES:
        out[name] = F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long")
        c = F.regexp_replace(c, pat, repl)
    return out


def token_chunks(col, size: int = 64, overlap: int = 16) -> Column:
    """Fixed-size token windows with overlap — the context-window chunker a
    pretraining pipeline feeds its tokenizer from.

    Returns ``array<struct<chunk_id int, chunk_text string>>``: windows of
    ``size`` whitespace tokens starting every ``size - overlap`` tokens
    (final partial window kept; empty/whitespace-only text -> empty array).
    Pure codegen: split + sequence + transform + slice.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    step = size - overlap
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    toks = F.split(c, r"\s+")
    n = F.size(toks)
    # last start is the smallest multiple of step with start + size >= n:
    # stop the sequence strictly before n - overlap (a later start would
    # open a window wholly contained in its predecessor)
    starts = F.sequence(F.lit(0), F.greatest(n - overlap - 1, F.lit(0)), F.lit(step))
    win = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice(toks, s + 1, size)).alias("chunk_text"),
        ),
    )
    return F.when(F.length(c) == 0, F.array().cast(
        "array<struct<chunk_id:int,chunk_text:string>>"
    )).otherwise(win)


def repetition_features(col, ngram_n: int = 3) -> dict[str, Column]:
    """Gopher-style intra-document repetition signals (the "repetitious
    document" filters of the Gopher / FineWeb quality recipes):

    - ``n_words``        whitespace token count (0 for empty text)
    - ``dup_word_frac``  1 - distinct words / words
    - ``dup_ngram_frac`` 1 - distinct word n-grams / n-grams (NULL when the
      doc has fewer than ``ngram_n`` words)
    - ``top_word_frac``  occurrences of the single most frequent word /
      words — computed by a LINEAR run-length scan over the sorted word
      array (``array_sort`` + ``aggregate``), not the quadratic
      count-each-word-against-all transform: a 100k-word page costs
      O(n log n) per doc, fully codegen, no explode/shuffle.

    Ratios round to 4 places (cross-engine float parity convention).
    """
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    w = F.split(F.lower(c), r"\s+")
    n = F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(w))
    grams = word_ngrams(F.lower(c), ngram_n)
    n_g = F.size(grams)
    run = F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a["best"],
                F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )
    nz = F.nullif(n.cast("double"), F.lit(0.0))
    return {
        "n_words": n.cast("long"),
        "dup_word_frac": F.round(1.0 - F.size(F.array_distinct(w)) / nz, 4),
        "dup_ngram_frac": F.when(
            n_g > 0, F.round(1.0 - F.size(F.array_distinct(grams)) / n_g.cast("double"), 4)
        ),
        "top_word_frac": F.when(n > 0, F.round(run / nz, 4)),
    }
