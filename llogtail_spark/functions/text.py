"""Text-analysis functions for training-data pipelines.

Pure Catalyst column expressions (split / regexp / higher-order array
functions) — they stay inside whole-stage codegen, shuffle nothing,
and scale linearly — EXCEPT lang_id, which is a vectorized Arrow UDF
because its expression form re-inlined the scores struct into every
argmax reference (~N_langs^2 split+filter passes per row). Each has
an ANSI-SQL twin used as the DuckDB oracle in __spark_entry__.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A BPE-ish tokenizer regex: word pieces or single non-space symbols.
BPE_ISH_RX = r"\w+|[^\w\s]"

DEFAULT_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it"]

# marker words per language for the n-gram/stopword language-ID
# heuristic; deliberately tiny and deterministic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "und", "das"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "la", "les", "et"],
}


def words(col: Column | str) -> Column:
    return F.split(col, " ")


def ws_token_count(col: Column | str) -> Column:
    """Whitespace token count (split on single space)."""
    return F.size(words(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token count under a BPE-ish regex (word pieces + symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_RX), F.lit(0)))


def stopword_count(col: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or DEFAULT_STOPWORDS
    return F.size(F.filter(words(col), lambda w: w.isin(sw)))


def quality_features(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Integer-exact quality features (no float outputs):
    stop_x10000 = floor(1e4 * stopword_ratio), n_punct, wlen_x100 =
    floor(100 * mean word length). Integer-valued so oracles compare
    exactly."""
    c = F.col(col) if isinstance(col, str) else col
    n_words = ws_token_count(c)
    n_stop = stopword_count(c, stopwords)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
    total_wlen = F.aggregate(
        words(c), F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    return F.struct(
        F.floor(n_stop * 10000 / n_words).cast("long").alias("stop_x10000"),
        n_punct.cast("long").alias("n_punct"),
        F.floor(total_wlen * 100 / n_words).cast("long").alias("wlen_x100"),
    )


def lang_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """argmax language by marker hits; 'und' when all scores are 0.
    Ties break by the (deterministic) ordering of `markers`.

    One Arrow UDF, not a struct-of-scores expression: the argmax
    references the scores struct ~3x per language, and Catalyst
    inlines the full struct — 4 marker filters, each re-splitting the
    text — into every reference (~N_langs^2 split+filter passes per
    row; measured ~3x the whole lang-id query at sf0.1). The UDF
    computes counts in one pass per row and replicates the expression
    semantics exactly: split on single space, first-marker-order tie
    break, 'und' for zero hits and null text."""
    m = markers or LANG_MARKERS
    langs = list(m)
    marker_sets = [frozenset(m[lang]) for lang in langs]

    @F.pandas_udf(T.StringType())
    def lid(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append("und")
                continue
            ws = t.split(" ")
            counts = [sum(w in ms for w in ws) for ms in marker_sets]
            best = max(counts)
            out.append(langs[counts.index(best)] if best > 0 else "und")
        return pd.Series(out)

    c = F.col(col) if isinstance(col, str) else col
    return lid(c)


def rolling_fingerprint(col: Column | str, mod: int = 2147483647) -> Column:
    """Position-weighted rolling hash over words — a cheap document
    fingerprint (the spiritual analog of llogtail's first-1KB MD5
    identity, utils.go:36-46, as a pure expression):

        fp = sum_i (i+1) * (31*len(w_i) + ascii(w_i[0]))  mod `mod`

    Engine-portable (no engine hash function), so DuckDB can recompute
    it exactly.
    """
    ws = words(col)
    weighted = F.zip_with(
        ws,
        F.sequence(F.lit(1), F.size(ws)),
        lambda w, i: i.cast("long") * (F.length(w) * 31 + F.ascii(F.substring(w, 1, 1))),
    )
    return F.pmod(
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x), F.lit(mod)
    )


def dup_fraction_x10000(arr: Column) -> Column:
    """Duplicate-element fraction of an array, in basis points:
    floor(10000 * (len - distinct) / len), 0 for the empty array.

    Fed token / n-gram arrays, this is the Gopher-style repetition
    quality signal (duplicate-word and duplicate-n-gram fractions
    gate boilerplate and degenerate generations out of pretraining
    corpora). Pure Catalyst HOF — scan stage, no shuffle."""
    n = F.size(arr)
    dup = n - F.size(F.array_distinct(arr))
    return (
        F.when(n > 0, F.floor(dup * F.lit(10000) / n))
        .otherwise(F.lit(0))
        .cast("long")
    )


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB/Arrow): character classes, bounded repeats, and \b only.
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RX = r"\+\d[\d-]{7,}\d"


def pii_count(col: Column | str, rx: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(rx), F.lit(0))).cast("long")


def redact_pii(col: Column | str) -> Column:
    """Redact emails, IPv4s, and phone-like numbers to typed tags —
    the training-corpus PII scrub, as pure Catalyst expressions (scan
    stage, no shuffle, no Python). Order matters: emails first (their
    bodies contain digits/dots), then IPs, then phones."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, EMAIL_RX, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_RX, "<IP>")
    return F.regexp_replace(c, PHONE_RX, "<PHONE>")


# --- Unicode normalization (the corpus-prep text cleanup step) ---

# C0/C1-ish control characters to DELETE outright, EXCEPT \t \n \r
# which are whitespace (handled by the collapse). \x0B and \x0C are
# in this class deliberately: Java's \s includes them but RE2's does
# not, so deleting them here keeps the Spark and DuckDB collapse
# passes byte-identical.
CONTROL_RX = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"

# Unicode space separators (NBSP, ogham, en/em spaces, line/para
# separators, narrow NBSP, math space, ideographic space): neither
# Java nor RE2 counts them in \s, so both engines rewrite them to
# ' ' explicitly before the ASCII \s+ collapse.
UNISPACE_RX = (
    r"[\x{00A0}\x{1680}\x{2000}-\x{200A}"
    r"\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]"
)


def nfc(col: Column | str) -> Column:
    """Unicode NFC composition as a vectorized Arrow UDF (Spark has no
    built-in normalizer; pandas' .str.normalize is the batch path).
    DuckDB twin: nfc_normalize(expr) — both implement the same
    Unicode canonical composition, so equality is value-exact."""

    @F.pandas_udf(T.StringType())
    def _nfc(texts: pd.Series) -> pd.Series:
        return texts.str.normalize("NFC")

    c = F.col(col) if isinstance(col, str) else col
    return _nfc(c)


def normalize_text(col: Column | str) -> Column:
    """Canonical text cleanup: NFC-compose, delete control chars, map
    Unicode spaces to ' ', collapse runs of whitespace, trim. One
    Arrow eval (the NFC pass) + JVM regexes in the scan stage — no
    shuffle; every downstream fingerprint/shingle/token op sees the
    same bytes on both engines. Reference anchor: the reference
    ships lines verbatim (buffer.go:95-111); normalization is the
    training-pipeline deviation the north rule asks for."""
    c = nfc(col)
    c = F.regexp_replace(c, CONTROL_RX, "")
    c = F.regexp_replace(c, UNISPACE_RX, " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of normalize_text (single-quoted regexes are raw
    strings in SQL, so the classes paste through unchanged)."""
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        f"nfc_normalize({expr}), "
        f"'{CONTROL_RX}', '', 'g'), "
        f"'{UNISPACE_RX}', ' ', 'g'), "
        r"'\s+', ' ', 'g'))"
    )


def char_diversity_bp(col: Column | str) -> Column:
    """Gini-Simpson character diversity in basis points:
    floor((n^2 - sum(c_i^2)) * 10000 / n^2) over the lowercased
    character multiset - 0 for a single repeated char, near 10000 for
    uniformly mixed text. A mojibake / keyboard-mash / padding
    detector whose arithmetic is INTEGER until the final division, so
    the DuckDB twin matches value-exactly (a float Shannon entropy
    would be summation-order-dependent across engines).

    Scale shape: pure scan-stage Catalyst HOF - sort the char array,
    run-length-fold it with a struct accumulator (prev, run, ss, n) in
    ONE pass, no explode, no shuffle, no Python. NULL for empty text
    (CaseWhen evaluates lazily, so the n=0 branch never divides).

    The ENTIRE bp arithmetic lives in the fold's finish lambda: HOF
    expressions are CodegenFallback with no subexpression elimination,
    so a projection that referenced size(chars) and the fold result
    as separate columns re-evaluates split+sort+fold once PER
    REFERENCE (measured ~3x on this function at sf0.1). Lambda
    variables are materialized values, so inside finish every a.n /
    a.ss reference is free and the heavy lineage runs exactly once.
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.array_sort(F.filter(
        F.split(F.lower(F.coalesce(c, F.lit(""))), ""),
        lambda x: x != "",
    ))
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit(" ").alias("prev"),
        zero.alias("run"),
        zero.alias("ss"),
        zero.alias("n"),
    )

    def _finish(a):
        n, ss = a.n, a.ss + a.run * a.run
        return F.when(n > 0, F.floor((n * n - ss) * 10000 / (n * n)))

    return F.aggregate(
        chars,
        acc0,
        lambda a, ch: F.struct(
            ch.alias("prev"),
            F.when(ch == a.prev, a.run + 1).otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(ch == a.prev, a.ss).otherwise(a.ss + a.run * a.run)
            .alias("ss"),
            (a.n + 1).alias("n"),
        ),
        _finish,
    ).cast("long")


def char_diversity_sql(table: str = "documents") -> str:
    """DuckDB twin of a per-doc char_diversity_bp scan: explode chars
    positionally (the oracle needs correctness, not the run-length
    trick), count per (doc, char), then the identical integer bp
    arithmetic. Empty docs dropped, mirroring the Spark n=0 guard."""
    return f"""
        WITH pos AS (
            -- unnest(generate_series(list)): the lateral table-fn
            -- form rejects column parameters in this DuckDB build
            SELECT doc_id, lower(coalesce(text, '')) AS lt,
                   unnest(generate_series(1,
                       length(lower(coalesce(text, ''))))) AS i
            FROM {table}),
        ch AS (
            SELECT doc_id, substring(lt, i, 1) AS c FROM pos),
        cnt AS (
            SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        agg AS (
            SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                   CAST(sum(k * k) AS BIGINT) AS ss
            FROM cnt GROUP BY doc_id)
        SELECT doc_id,
               CAST(floor((n * n - ss) * 10000 / (n * n)) AS BIGINT)
                   AS diversity_bp
        FROM agg WHERE n > 0
    """
