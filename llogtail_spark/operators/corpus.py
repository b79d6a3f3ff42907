"""Corpus-preparation operators for pretraining-data pipelines:
cross-document boilerplate removal, token-budget corpus selection,
and deterministic shard shuffle.

These generalize the reference's per-file routing/dedup discipline
(llogtail routes every sequence exactly once and dedups work items by
identity — collector.go:125-174, log_watcher.go:97-126) to the
corpus-level decisions a 100 TB training-data pipeline makes: which
spans of text to keep, which documents fit a token budget, and a
reproducible global ordering for training shards.

Scale notes (100 TB):
- boilerplate_strip shuffles twice on the chunk key (frequency agg +
  membership join, same partitioning → co-located SMJ / ReuseExchange
  candidate) and once on doc_id for reassembly. No broadcast
  assumption on the boilerplate set: it is corpus-frequency output
  and can be large (every site footer on the web).
- token_budget_select never does a global ordered cumsum (a
  single-partition window is a non-starter at 10^12 rows). It
  aggregates per-score-class token totals (score domain is bounded:
  basis points, ≤ 10001 classes), runs the cumulative over that
  dim-sized histogram, and broadcasts the cutoff back. Only the one
  boundary score class needs an exact per-doc ordering, and only
  that class is windowed (documented skew caveat: a pathological
  corpus where one score class holds most tokens would bound the
  boundary window by that class size).
- corpus_shuffle_shards is embarrassingly parallel: hash → shard,
  one shuffle to number rows within each of the nshards partitions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llogtail_spark.operators.dedup import WS_CLASS, tokenize

# Chunk width (tokens) used as the "paragraph" unit for boilerplate
# detection. Real pipelines use newline-split lines (CCNet) or
# paragraphs (RefinedWeb); the synthetic corpus is single-line token
# text, so a fixed token window is the deterministic stand-in. The
# machinery (posexplode → corpus frequency → membership join →
# ordered reassembly) is identical.
CHUNK_TOKENS = 4
# A chunk appearing in >= this many distinct documents is boilerplate.
BOILERPLATE_MIN_DOCS = 3


def doc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Explode each document into (id, pos, chunk) rows of
    CHUNK_TOKENS-token chunks; empty documents drop out.

    Chunking is ONE greedy regex scan over the whitespace-normalized
    string (token separator is a single space after norm, so the
    pattern needs no whitespace-class subtleties), not
    transform(sequence, g -> slice(toks, ...)): higher-order-function
    lambdas re-evaluate their free subexpressions per element
    (CodegenFallback, no subexpression elimination), so the slice
    form re-tokenizes the document once PER CHUNK — measured ~2x
    end-to-end on this operator even at sf0.1, and the chunk lineage
    executes on both sides of the frequency join.
    """
    from llogtail_spark.operators.dedup import normalize_text
    from llogtail_spark.sources.reader import ensure_parallelism

    chunk_rx = "[^ ]+( [^ ]+){0,%d}" % (CHUNK_TOKENS - 1)
    chunks = F.regexp_extract_all(
        normalize_text(F.col(text_col)), F.lit(chunk_rx), 0
    )
    # regex-normalize + chunk-extract is the heavy per-row stage and
    # inherits the scan's row-group partitioning — restore the core
    # floor on the narrow (pre-explode) side; no-op at scale
    return (
        ensure_parallelism(
            df.filter(F.coalesce(F.col(text_col), F.lit("")) != ""), id_col
        )
        .select(id_col, F.posexplode(chunks).alias("pos", "chunk"))
    )


def boilerplate_strip(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_docs: int = BOILERPLATE_MIN_DOCS) -> DataFrame:
    """CCNet/RefinedWeb-style cross-document boilerplate removal:
    drop every text chunk that appears in >= min_docs distinct
    documents (site footers, navigation, license blurbs), and
    reassemble each document from its surviving chunks in original
    order.

    Returns (id, n_chunks, n_kept, text_clean) — one row per
    non-empty input document (a fully-boilerplate document survives
    with text_clean = '').

    Reference anchor: the demux filter ships each sequence to exactly
    one sink (log_watcher.go:97-126); here the "filter" is a
    corpus-frequency predicate rather than a per-line regex.

    Measured rejection: pre-repartitioning the exploded chunks by
    `chunk` so one exchange feeds both the frequency agg and the
    membership join is ~16% faster at 500k docs (the chunk regex runs
    once instead of twice), BUT a user repartition pins every copy of
    the hottest chunk (19.5k docs at 1M; a universal web footer at
    10^12) onto one reducer and AQE will not skew-split user-specified
    partitioning. The current shape keeps map-side partial
    aggregation on the frequency side and leaves the join eligible
    for AQE skew handling; the ensure_parallelism exchange below the
    regex is identical in both lineages and is planned as a
    ReusedExchange (verified: 1 scan with AQE off; AQE stage-cache
    reuse at runtime otherwise).
    """
    chunks = doc_chunks(df, text_col, id_col)
    freq = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("chunk")
    )
    return strip_chunks(chunks, freq, id_col)


def strip_chunks(chunks: DataFrame, bp: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Drop every (id, pos, chunk) row whose chunk is in the
    boilerplate set `bp` (single column `chunk`), and reassemble each
    document from its surviving chunks in position order.

    LEFT join (not anti): fully-stripped documents must survive with
    empty text_clean so the output row count equals the input
    document count. Both sides shuffle on `chunk` — co-partitioned.
    """
    flagged = chunks.join(
        bp.select("chunk").withColumn("_bp", F.lit(1)), "chunk", "left"
    ).select(
        id_col, "pos", "chunk",
        F.when(F.col("_bp").isNull(), 1).otherwise(0).alias("keep"),
    )
    return _reassemble(flagged, id_col)


def _reassemble(flagged: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Rebuild each document from its keep=1 chunks in position order:
    (id, n_chunks, n_kept, text_clean), one row per input document
    (all-dropped docs survive with text_clean = ''). One shuffle on
    the id key; collect_list skips the NULL (dropped) structs and
    array_sort restores position order deterministically."""
    kept_structs = F.array_sort(
        F.collect_list(
            F.when(F.col("keep") == 1, F.struct("pos", "chunk"))
        )
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(kept_structs, lambda s: s["chunk"]), " "
        ).alias("text_clean"),
    )


def boilerplate_strip_sql(min_docs: int = BOILERPLATE_MIN_DOCS) -> str:
    """DuckDB twin of boilerplate_strip over the `documents` view:
    identical tokenization (WS_CLASS regex split), chunking (1-based
    clamped list slice == Spark slice), frequency threshold, and
    ordered reassembly (string_agg ORDER BY pos skips NULLs ==
    collect_list skipping nulls + array_sort by pos)."""
    k = CHUNK_TOKENS
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        chunks AS (
            SELECT doc_id, CAST(g AS INTEGER) AS pos,
                   array_to_string(t[(g*{k}+1):(g*{k}+{k})], ' ') AS chunk
            FROM toks,
                 LATERAL (SELECT unnest(range(CAST(ceil(len(t)/{k}.0) AS BIGINT))) AS g)
            WHERE len(t) > 0),
        bp AS (
            SELECT chunk FROM chunks
            GROUP BY chunk HAVING count(DISTINCT doc_id) >= {min_docs}),
        flagged AS (
            SELECT c.doc_id, c.pos, c.chunk,
                   CASE WHEN b.chunk IS NULL THEN 1 ELSE 0 END AS keep
            FROM chunks c LEFT JOIN bp b USING (chunk))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               coalesce(string_agg(CASE WHEN keep = 1 THEN chunk END,
                                   ' ' ORDER BY pos), '') AS text_clean
        FROM flagged GROUP BY doc_id
    """


# Token-budget selection: fraction of the corpus token mass to keep.
BUDGET_FRACTION = 0.4


def token_budget_select(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        fraction: float = BUDGET_FRACTION) -> DataFrame:
    """Greedy data selection under a token budget: score every
    document (here: 10000 - duplicate-token basis points — less
    repetitive is better), walk documents in (score DESC, id ASC)
    order, and keep each while the running token total stays within
    floor(fraction * corpus_tokens).

    Equivalent to the SQL `sum(n_toks) OVER (ORDER BY qscore DESC,
    doc_id) <= budget`, but computed WITHOUT a global ordered window:

      1. per-score-class token totals (shuffle on qscore, <= 10001
         classes — dim-sized), collected to the driver,
      2. cutoff + boundary-class remainder resolved in plain Python
         over that histogram (metadata-sized),
      3. classes strictly inside the budget keep every document via a
         literal-predicate filter; the single boundary class gets an
         exact per-doc running sum windowed only over itself.

    Construction is EAGER (the histogram collect runs when the
    function is called) — same discipline as resolve_components.

    Returns the selected rows (id, qscore, n_toks).
    """
    from llogtail_spark.functions.text import dup_fraction_x10000
    from llogtail_spark.sources.reader import ensure_parallelism

    toks = tokenize(text_col)
    # tokenize + distinct-count is the heavy stage on every scan of
    # this operator; see doc_chunks on the row-group partition floor
    df = ensure_parallelism(df, id_col)
    sig = df.select(
        id_col,
        (F.lit(10000) - dup_fraction_x10000(toks)).cast("long").alias("qscore"),
        F.size(toks).cast("long").alias("n_toks"),
    )
    # The histogram is dim-sized (score domain is basis points), so
    # collect it and resolve the cutoff on the driver — the same
    # metadata-sized-collect discipline as resolve_components' gate.
    # Keeping the cumulative/budget as DataFrame lineage instead costs
    # real corpus scans: each broadcast side and each keep-branch
    # re-executes the scan + tokenization (measured ~6.6 s -> ~2 s at
    # 100k docs). Exactly THREE corpus scans remain: histogram, the
    # fully-kept-classes filter, and the boundary class.
    hist = sorted(
        (
            (r["qscore"], r["_ct"])
            for r in sig.groupBy("qscore")
            .agg(F.sum("n_toks").alias("_ct"))
            .collect()
        ),
        key=lambda x: -x[0],
    )
    budget = int(sum(ct for _, ct in hist) * fraction)
    cols = [id_col, "qscore", "n_toks"]
    cum = 0
    cut = None  # largest score NOT fully kept
    boundary = None  # (score, remaining budget inside it)
    for q, ct in hist:
        if cum + ct <= budget:
            cum += ct
            continue
        cut = q
        if cum < budget:
            boundary = (q, budget - cum)
        break
    if cut is None:  # budget covers the whole corpus
        return sig.select(*cols)
    full_keep = sig.filter(F.col("qscore") > cut).select(*cols)
    if boundary is None:
        return full_keep
    # boundary class: exact greedy by id within the single score
    # class that straddles the budget — the only windowed rows
    bq, remaining = boundary
    bw = Window.partitionBy("qscore").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    boundary_keep = (
        sig.filter(F.col("qscore") == bq)
        .withColumn("_run", F.sum("n_toks").over(bw))
        .filter(F.col("_run") <= remaining)
        .select(*cols)
    )
    return full_keep.unionByName(boundary_keep)


def token_budget_select_sql(fraction: float = BUDGET_FRACTION) -> str:
    """DuckDB twin of token_budget_select: the direct global-window
    formulation (fine at oracle scale) that the histogram+boundary
    decomposition reproduces exactly."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        sig AS (
            SELECT doc_id,
                   CAST(10000 - CASE WHEN len(t) > 0
                        THEN floor((len(t) - len(list_distinct(t))) * 10000 / len(t))
                        ELSE 0 END AS BIGINT) AS qscore,
                   CAST(len(t) AS BIGINT) AS n_toks
            FROM toks),
        b AS (SELECT CAST(floor(sum(n_toks) * {fraction}) AS BIGINT) AS budget
              FROM sig),
        c AS (SELECT doc_id, qscore, n_toks,
                     sum(n_toks) OVER (ORDER BY qscore DESC, doc_id) AS cum
              FROM sig)
        SELECT doc_id, qscore, n_toks FROM c, b WHERE cum <= budget
    """


N_SHARDS = 8


def corpus_shuffle_shards(df: DataFrame, id_col: str = "doc_id",
                          nshards: int = N_SHARDS) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data
    export: every document gets a reproducible (shard, pos) from an
    engine-portable hash of its id (md5 hex → 60-bit int — identical
    in Spark and DuckDB, no engine-private hash). Shard assignment is
    hash mod nshards; position is the rank of the hash within the
    shard. Re-running on the same corpus yields the same order — the
    reproducible-training-order requirement.

    One shuffle (row_number per shard, nshards-way); no global sort.
    Reference anchor: deterministic work-item identity keyed by
    (dev, inode) — utils.go:36-46; here the identity is the portable
    hash and the "queue position" is the shard-local rank.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(id_col, h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(nshards)).cast("int"))
        .select(
            id_col, "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


def corpus_shuffle_shards_sql(nshards: int = N_SHARDS) -> str:
    """DuckDB twin of corpus_shuffle_shards (hex-parse via '0x' ||
    substr, the portable-hash technique shared with the minhash
    oracles)."""
    return f"""
        WITH h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS hv
            FROM documents)
        SELECT doc_id,
               CAST(hv % {nshards} AS INTEGER) AS shard,
               CAST(row_number() OVER (PARTITION BY hv % {nshards}
                                       ORDER BY hv, doc_id) AS BIGINT) AS pos
        FROM h
    """


# Tokenizer-prep vocabulary: how many of the corpus's token
# occurrences the top-V types cover (the build-a-tokenizer question).
TOP_VOCAB = 20


def vocab_coverage(df: DataFrame, text_col: str = "text",
                   top_v: int = TOP_VOCAB) -> DataFrame:
    """Top-V vocabulary with cumulative corpus coverage: token type,
    frequency, rank, cumulative count, and cumulative coverage in
    basis points of ALL token occurrences — the table a tokenizer /
    vocab-size decision reads.

    Returns (rank, token, n, cum_n, cov_bp), top_v rows.

    Scale shape (10^12 sequences):
    - type counts: explode -> partial+final count, ONE shuffle on the
      token type (map-side combine absorbs the Zipf head — 'the'
      partially aggregates per task before the exchange).
    - top-V: orderBy().limit() plans TakeOrderedAndProject — a
      distributed top-k, never a global sort of the vocabulary.
    - rank/cumsum windows run AFTER the limit, over exactly top_v
      rows (single tiny partition by construction, not a scale bug).
    - total token count is a separate scan-only aggregate (no
      explode: sum of per-doc token-array sizes), broadcast back as a
      1-row frame. cov_bp arithmetic: cum_n * 10000 stays exact in
      DOUBLE below 2^49 cumulative tokens; beyond that switch the
      twin comparison to DECIMAL (documented, not hit at bench SF).

    Reference anchor: llogtail's per-sink rolled-up counts
    (collector.go:125-174) generalized to per-token-type corpus
    rollups with a coverage CDF.
    """
    toks = tokenize(text_col)
    total = df.select(
        F.coalesce(F.sum(F.size(toks)), F.lit(0))
        .cast("long").alias("total_tokens")
    )
    top = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(top_v)
    )
    w_rank = Window.orderBy(F.desc("n"), F.asc("token"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return top.crossJoin(F.broadcast(total)).select(
        F.row_number().over(w_rank).cast("int").alias("rank"),
        "token",
        F.col("n").cast("long").alias("n"),
        F.sum("n").over(w_cum).cast("long").alias("cum_n"),
        F.floor(F.sum("n").over(w_cum) * 10000 / F.col("total_tokens"))
        .cast("long").alias("cov_bp"),
    )


def vocab_coverage_sql(top_v: int = TOP_VOCAB) -> str:
    """DuckDB twin of vocab_coverage: identical tokenization
    (WS_CLASS split + empty filter), tiebreak (n DESC, token ASC),
    and bp floor arithmetic (BIGINT*10000 / total in double)."""
    return f"""
        WITH toks AS (
            SELECT list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        total AS (
            SELECT CAST(coalesce(sum(len(t)), 0) AS BIGINT) AS total_tokens
            FROM toks),
        agg AS (
            SELECT token, count(*) AS n
            FROM (SELECT unnest(t) AS token FROM toks)
            GROUP BY token ORDER BY n DESC, token LIMIT {top_v}),
        win AS (
            SELECT CAST(row_number() OVER
                        (ORDER BY n DESC, token) AS INTEGER) AS rank,
                   token, CAST(n AS BIGINT) AS n,
                   CAST(sum(n) OVER (ORDER BY n DESC, token
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum_n
            FROM agg)
        SELECT rank, token, n, cum_n,
               CAST(floor(cum_n * 10000 / total_tokens) AS BIGINT) AS cov_bp
        FROM win CROSS JOIN total
    """


def source_overlap(df: DataFrame, text_col: str = "text",
                   source_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Cross-source contamination matrix: for every unordered pair of
    sources, the number of DISTINCT text chunks (CHUNK_TOKENS-token
    units — the boilerplate granularity, where real cross-source
    repetition lives) present in both. The table that answers "which
    crawl snapshots / data vendors overlap, and how much" before
    fixing mixture weights.

    Returns (src_a, src_b, n_shared) with src_a < src_b.

    Scale shape (10^12 sequences): ZERO joins —
    - one shuffle on the chunk key: groupBy(chunk) ->
      array_sort(collect_set(src)). The per-chunk source set is
      bounded by the source dimension (not by corpus size), so no
      collect_set can blow up. Production narrows the shuffle by
      fingerprinting chunks to 16 bytes first (the incremental-dedup
      pattern, dedup.py); kept as strings here for value-exact
      cross-engine verification.
    - pair fan-out is a per-row HOF over the sorted source set
      (<= |sources|^2 / 2 structs), then one dim^2-sized,
      map-side-combinable pair count. A self-join on chunk would
      shuffle the corpus twice and re-evaluate the explode lineage
      (the self-join double-eval pathology, dedup.py cap_reps);
      the set-fan-out shape cannot.

    Reference anchor: llogtail routes one sequence to N sinks via
    independent named rules (collector.go:125-174, route overlap);
    this is the inverse rollup — which route/source pairs carry the
    same payload.
    """
    from llogtail_spark.operators.dedup import normalize_text
    from llogtail_spark.sources.reader import ensure_parallelism

    chunk_rx = "[^ ]+( [^ ]+){0,%d}" % (CHUNK_TOKENS - 1)
    chunks = F.regexp_extract_all(
        normalize_text(F.col(text_col)), F.lit(chunk_rx), 0
    )
    per_chunk = (
        ensure_parallelism(
            df.filter(F.coalesce(F.col(text_col), F.lit("")) != ""), id_col
        )
        .select(F.col(source_col).alias("src"),
                F.explode(chunks).alias("chunk"))
        .groupBy("chunk")
        .agg(F.array_sort(F.collect_set("src")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    # expr-text HOF (python-built lambdas in one projection can
    # collapse — see functions/text.py); srcs is dim-sized so the
    # per-element slice re-eval is bounded and cheap
    pairs = F.expr(
        "flatten(transform(srcs, (a, i) -> "
        "transform(slice(srcs, i + 2, size(srcs)), "
        "b -> struct(a AS src_a, b AS src_b))))"
    )
    return (
        per_chunk.select(F.explode(pairs).alias("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def source_overlap_sql() -> str:
    """DuckDB twin of source_overlap: identical normalization +
    greedy-regex chunking, then the classical DISTINCT self-join
    formulation (count(*) over distinct (chunk, src) pairs joined on
    chunk with src_a < src_b == the set-pair fan-out count)."""
    k = CHUNK_TOKENS
    return f"""
        WITH chunks AS (
            SELECT source AS src,
                   unnest(regexp_extract_all(
                       trim(regexp_replace(lower(text), '{WS_CLASS}',
                                           ' ', 'g')),
                       '[^ ]+( [^ ]+){{0,{k - 1}}}')) AS chunk
            FROM documents WHERE coalesce(text, '') <> ''),
        d AS (SELECT DISTINCT chunk, src FROM chunks)
        SELECT a.src AS src_a, b.src AS src_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM d a JOIN d b ON a.chunk = b.chunk AND a.src < b.src
        GROUP BY 1, 2
    """


# Context-window chunking: training-sample prep — every document is
# cut into fixed token windows with overlap (stride < window) so no
# span longer than (window - stride) tokens is lost at a boundary.
CTX_WINDOW = 32
CTX_STRIDE = 24


def context_chunks(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", window: int = CTX_WINDOW,
                   stride: int = CTX_STRIDE) -> DataFrame:
    """Cut each document into fixed-size token windows with stride —
    the context-window sample cutter in front of sequence packing.
    Output: (id, chunk_idx, tok_start, n_tok, chunk_fp) where
    chunk_fp is the portable char-fold hash of the space-joined chunk
    (the dedup/decontamination key for the *sample* granularity, not
    the document).

    Scale shape (10^12 sequences): scan-only — tokenize, sequence()
    the chunk starts, posexplode, slice. Zero shuffles, zero joins;
    whole-stage-codegen'd HOF expressions end to end. The fan-out is
    bounded by ceil(n_tok/stride) rows per doc, each carrying only
    the sliced tokens — never the full document twice.

    Reference anchor: llogtail frames unbounded files into bounded
    per-read units with carry-over (log_reader.go:61-88); this is the
    same bounded-unit discipline applied to token streams.
    """
    from llogtail_spark.functions.portable_hash import char_fold_hash

    base = (
        df.select(F.col(id_col), tokenize(text_col).alias("_toks"))
        .where(F.size("_toks") > 0)
    )
    starts = F.sequence(
        F.lit(0), F.size("_toks") - 1, F.lit(stride))
    ex = base.select(
        F.col(id_col), F.col("_toks"),
        F.posexplode(starts).alias("chunk_idx", "tok_start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("tok_start") + 1, window)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.size(chunk).cast("long").alias("n_tok"),
        char_fold_hash(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


def context_chunks_sql(window: int = CTX_WINDOW,
                       stride: int = CTX_STRIDE) -> str:
    """DuckDB twin of context_chunks: identical tokenization, start
    grid, slicing, and chunk fingerprint."""
    from llogtail_spark.functions.portable_hash import char_fold_hash_sql

    fp = char_fold_hash_sql("array_to_string(chunk, ' ')")
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS toks
            FROM documents),
        e AS (
            -- unnest(generate_series(list)) instead of the lateral
            -- table function (unsupported with column params here);
            -- an empty series (len=0) unnests to zero rows.
            SELECT doc_id, toks,
                   CAST(unnest(generate_series(0, len(toks) - 1, {stride}))
                        AS BIGINT) AS tok_start
            FROM t),
        c AS (
            SELECT doc_id, tok_start // {stride} AS chunk_idx, tok_start,
                   list_slice(toks, tok_start + 1, tok_start + {window})
                       AS chunk
            FROM e)
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, tok_start,
               CAST(len(chunk) AS BIGINT) AS n_tok, {fp} AS chunk_fp
        FROM c
    """


def token_fertility(df: DataFrame, text_col: str = "text",
                    lang_col: str = "lang") -> DataFrame:
    """Tokenizer-fertility profile per language: characters per
    whitespace token ×100 (the chars-per-token ratio a tokenizer team
    watches per language before committing a vocab). Integer-exact:
    (sum(chars) * 100) / sum(tokens) floored on BIGINTs.

    Scale shape: one combinable agg keyed on the language dim —
    everything collapses map-side; no second pass, no window.
    """
    agg = (
        df.groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length(F.coalesce(F.col(text_col), F.lit(""))))
            .cast("long").alias("char_total"),
            F.coalesce(F.sum(F.size(tokenize(text_col))), F.lit(0))
            .cast("long").alias("tok_total"),
        )
    )
    return agg.select(
        "lang", "n_docs", "char_total", "tok_total",
        F.when(F.col("tok_total") > 0,
               F.floor(F.col("char_total") * 100 / F.col("tok_total")))
        .cast("long").alias("fert_x100"),
    )


def token_fertility_sql() -> str:
    """DuckDB twin of token_fertility."""
    return f"""
        WITH a AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(length(coalesce(text, ''))) AS BIGINT)
                       AS char_total,
                   CAST(coalesce(sum(len(list_filter(
                       string_split_regex(lower(coalesce(text, '')),
                                          '{WS_CLASS}'),
                       x -> x <> ''))), 0) AS BIGINT) AS tok_total
            FROM documents GROUP BY lang)
        SELECT lang, n_docs, char_total, tok_total,
               CASE WHEN tok_total > 0
                    THEN CAST(floor(char_total * 100 / tok_total) AS BIGINT)
               END AS fert_x100
        FROM a
    """


def span_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact span-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", at chunk
    granularity): every text chunk keeps only its globally FIRST
    occurrence — ordered by (doc_id, pos) — and every later repeat is
    removed, across documents AND within a document. Complements
    boilerplate_strip (frequency >= k removes ALL copies) by removing
    the memorization-driving repeats while preserving one copy of the
    content.

    Returns (id, n_chunks, n_kept, text_clean), one row per non-empty
    input document.

    Scale shape (10^12 sequences): first-occurrence is
    min(struct(id, pos)) per chunk — a map-side-combinable partial
    aggregation, so the universal web footer combines inside each
    task before the shuffle (a row_number window over the chunk key
    would instead sort every copy of the hottest chunk on one
    reducer, with no partial agg — rejected). The membership join
    back on `chunk` is equi-join, AQE-skew-eligible, same accepted
    shape as boilerplate_strip; reassembly shuffles once on the id.

    Reference anchor: the debounce/dedup filter ships each repeated
    work item exactly once (log_watcher.go:97-126); here the "item"
    is a text span and "once" is corpus-global.
    """
    chunks = doc_chunks(df, text_col, id_col)
    firsts = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("pos").alias("p"))).alias("_first")
    )
    flagged = chunks.join(firsts, "chunk").select(
        id_col, "pos", "chunk",
        F.when(
            (F.col(id_col) == F.col("_first.i"))
            & (F.col("pos") == F.col("_first.p")), 1
        ).otherwise(0).alias("keep"),
    )
    return _reassemble(flagged, id_col)


def span_dedup_sql() -> str:
    """DuckDB twin of span_dedup: identical chunking, row_number over
    (doc_id, pos) per chunk (== min-struct first occurrence; the
    oracle needs correctness, not the combinable-agg shape), ordered
    reassembly."""
    k = CHUNK_TOKENS
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        chunks AS (
            SELECT doc_id, CAST(g AS INTEGER) AS pos,
                   array_to_string(t[(g*{k}+1):(g*{k}+{k})], ' ') AS chunk
            FROM toks,
                 LATERAL (SELECT unnest(range(CAST(ceil(len(t)/{k}.0) AS BIGINT))) AS g)
            WHERE len(t) > 0),
        flagged AS (
            SELECT doc_id, pos, chunk,
                   CASE WHEN row_number() OVER (
                            PARTITION BY chunk ORDER BY doc_id, pos) = 1
                        THEN 1 ELSE 0 END AS keep
            FROM chunks)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               coalesce(string_agg(CASE WHEN keep = 1 THEN chunk END,
                                   ' ' ORDER BY pos), '') AS text_clean
        FROM flagged GROUP BY doc_id
    """


# Quantile grid for corpus length profiling (percent points).
QUANTILE_PTS = (25, 50, 75, 95, 99)


def length_quantiles(df: DataFrame, len_col: str = "n_chars",
                     key_col: str = "source",
                     qs: tuple = QUANTILE_PTS) -> DataFrame:
    """Exact per-source discrete length quantiles — the corpus
    profile (p25/p50/p75/p95/p99 doc length) a data team reads before
    setting context windows and packing budgets. quantile_disc
    definition, stated explicitly so both engines compute the same
    thing: p_q = smallest length whose cumulative doc count reaches
    ceil(q*n/100), i.e. 100*cum >= q*n on exact BIGINTs.

    Scale shape (10^12 docs): NO global sort and NO per-doc window —
    lengths are aggregated to a (source, length) histogram first
    (map-side combinable; the histogram is dim-sized: at most
    max_doc_len distinct rows per source), and the cumulative window
    runs over that histogram only. Same decomposition as
    token_budget_select; two exchanges end to end (histogram key,
    then source), the final per-source agg reuses the window's
    partitioning.

    Reference anchor: llogtail sizes its read buffers from observed
    line lengths (log_reader.go:61-88); this is the corpus-scale
    version of knowing the length distribution before sizing units.
    """
    hist = (
        df.where(F.col(len_col).isNotNull())
        .groupBy(key_col, len_col)
        .agg(F.count("*").cast("long").alias("_c"))
    )
    w_cum = Window.partitionBy(key_col).orderBy(len_col)
    w_all = Window.partitionBy(key_col)
    cum = hist.select(
        key_col,
        F.col(len_col).cast("long").alias("_len"),
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    quant_aggs = [
        F.min(
            F.when(F.col("_cum") * 100 >= F.lit(q) * F.col("_n"),
                   F.col("_len"))
        ).alias(f"p{q}")
        for q in qs
    ]
    return cum.groupBy(key_col).agg(
        F.max("_n").cast("long").alias("n_docs"), *quant_aggs
    )


def length_quantiles_sql(qs: tuple = QUANTILE_PTS) -> str:
    """DuckDB twin of length_quantiles: identical histogram,
    cumulative, and 100*cum >= q*n threshold arithmetic."""
    cols = ",\n               ".join(
        f"CAST(min(CASE WHEN cum * 100 >= {q} * n THEN len END) AS BIGINT)"
        f" AS p{q}"
        for q in qs
    )
    return f"""
        WITH h AS (
            SELECT source, n_chars AS len, count(*) AS c
            FROM documents WHERE n_chars IS NOT NULL
            GROUP BY 1, 2),
        cum AS (
            SELECT source, len,
                   sum(c) OVER (PARTITION BY source ORDER BY len) AS cum,
                   sum(c) OVER (PARTITION BY source) AS n
            FROM h)
        SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
               {cols}
        FROM cum GROUP BY source
    """


# Ingestion-batch width (docs per batch) for the novelty curve.
NOVELTY_BATCH_DOCS = 50


def dedup_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  batch_docs: int = NOVELTY_BATCH_DOCS) -> DataFrame:
    """Dedup-ROI / novelty curve: treat consecutive doc_id ranges as
    ingestion batches (a crawl snapshot each) and report, per batch,
    how many distinct chunks it contains, how many were never seen in
    any earlier batch, the novelty rate (basis points), and the
    cumulative distinct-corpus size. The curve a data team reads to
    decide when further crawling stops adding tokens.

    Scale shape (10^12 docs): everything heavy is combinable — one
    distinct on (batch, chunk), then a min(batch) agg per chunk; both
    per-batch totals and first-batch counts are dim-sized (n_batches
    rows), joined dim-to-dim, and the cumulative window runs over the
    batch histogram only. No per-doc window, no global sort.

    Reference anchor: llogtail's poller re-scans and ships only work
    not already committed (collector.go:125-174); the novelty curve
    is the corpus-level measure of exactly that increment.
    """
    chunks = doc_chunks(df, text_col, id_col)
    cd = (
        chunks.select(
            # exact floor division on longs (matches DuckDB's `//`):
            # subtract the non-negative pmod remainder, then integral DIV
            # is exact — no double rounding beyond 2^53, correct for
            # negative ids where a truncating cast would round toward 0.
            F.expr(f"({id_col} - pmod({id_col}, {batch_docs})) "
                   f"DIV {batch_docs}").alias("batch"),
            "chunk",
        )
        .distinct()
    )
    totals = cd.groupBy("batch").agg(
        F.count("*").cast("long").alias("total_chunks"))
    news = (
        cd.groupBy("chunk").agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count("*").cast("long").alias("new_chunks"))
    )
    joined = totals.join(news, "batch", "left").select(
        "batch", "total_chunks",
        F.coalesce("new_chunks", F.lit(0)).cast("long").alias("new_chunks"),
    )
    w = Window.orderBy("batch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    # single-partition window is over the BATCH histogram (dim-sized:
    # one row per ingestion batch), not per-doc rows — bounded.
    return joined.select(
        "batch", "total_chunks", "new_chunks",
        F.floor(F.col("new_chunks") * 10000 / F.col("total_chunks"))
        .cast("long").alias("novelty_bp"),
        F.sum("new_chunks").over(w).cast("long").alias("cum_distinct"),
    )


def dedup_novelty_sql(batch_docs: int = NOVELTY_BATCH_DOCS) -> str:
    """DuckDB twin of dedup_novelty: identical chunking, batch
    assignment, first-batch attribution, and integer bp arithmetic."""
    k = CHUNK_TOKENS
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        chunks AS (
            SELECT doc_id // {batch_docs} AS batch,
                   array_to_string(t[(g*{k}+1):(g*{k}+{k})], ' ') AS chunk
            FROM toks,
                 LATERAL (SELECT unnest(range(CAST(ceil(len(t)/{k}.0) AS BIGINT))) AS g)
            WHERE len(t) > 0),
        cd AS (SELECT DISTINCT batch, chunk FROM chunks),
        totals AS (
            SELECT batch, CAST(count(*) AS BIGINT) AS total_chunks
            FROM cd GROUP BY batch),
        news AS (
            SELECT fb AS batch, CAST(count(*) AS BIGINT) AS new_chunks
            FROM (SELECT chunk, min(batch) AS fb FROM cd GROUP BY chunk)
            GROUP BY fb)
        SELECT t.batch, t.total_chunks,
               CAST(coalesce(n.new_chunks, 0) AS BIGINT) AS new_chunks,
               CAST(floor(coalesce(n.new_chunks, 0) * 10000
                          / t.total_chunks) AS BIGINT) AS novelty_bp,
               CAST(sum(coalesce(n.new_chunks, 0)) OVER (
                   ORDER BY t.batch) AS BIGINT) AS cum_distinct
        FROM totals t LEFT JOIN news n ON t.batch = n.batch
    """


def oov_rate(df: DataFrame, text_col: str = "text",
             key_col: str = "source", top_v: int = TOP_VOCAB) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-V
    vocabulary: the per-source coverage a tokenizer team checks
    before freezing a vocab (a source whose oov_bp spikes is the one
    the vocab under-serves). Returns (source, total_tokens,
    oov_tokens, oov_bp) with integer bp arithmetic.

    Scale shape (10^12 sequences): the corpus is tokenized and
    exploded ONCE into the (source, token) histogram (map-side
    combinable — the Zipf head combines per task); the vocab is
    derived FROM that histogram (sum over sources, then TakeOrdered
    top-V — the second agg runs over dim-sized histogram rows, never
    a second corpus pass, and the shared hist exchange is AQE-reused
    across both branches) and joins BROADCAST by construction
    (V rows). One corpus shuffle total, one on the source dim.

    Reference anchor: per-sink rolled-up counts split by membership
    in a routed set (collector.go:125-174).
    """
    hist = (
        df.select(F.col(key_col),
                  F.explode(tokenize(text_col)).alias("token"))
        .groupBy(key_col, "token")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    vocab = (
        hist.groupBy("token")
        .agg(F.sum("_n").alias("_tot"))
        .orderBy(F.desc("_tot"), F.asc("token"))
        .limit(top_v)
        .select("token", F.lit(1).alias("_in_v"))
    )
    joined = hist.join(F.broadcast(vocab), "token", "left")
    return (
        joined.groupBy(key_col)
        .agg(
            F.sum("_n").cast("long").alias("total_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("_in_v").isNull(), F.col("_n"))),
                F.lit(0),
            ).cast("long").alias("oov_tokens"),
        )
        .select(
            key_col, "total_tokens", "oov_tokens",
            F.floor(F.col("oov_tokens") * 10000 / F.col("total_tokens"))
            .cast("long").alias("oov_bp"),
        )
    )


def oov_rate_sql(top_v: int = TOP_VOCAB) -> str:
    """DuckDB twin of oov_rate: identical tokenization, top-V
    tiebreak (n DESC, token ASC), and bp floor arithmetic."""
    return f"""
        WITH toks AS (
            SELECT source,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        occ AS (SELECT source, unnest(t) AS token FROM toks),
        vocab AS (
            SELECT token FROM occ
            GROUP BY token ORDER BY count(*) DESC, token LIMIT {top_v}),
        hist AS (
            SELECT source, token, CAST(count(*) AS BIGINT) AS n
            FROM occ GROUP BY source, token)
        SELECT h.source,
               CAST(sum(h.n) AS BIGINT) AS total_tokens,
               CAST(coalesce(sum(CASE WHEN v.token IS NULL THEN h.n END), 0)
                    AS BIGINT) AS oov_tokens,
               CAST(floor(coalesce(sum(CASE WHEN v.token IS NULL THEN h.n END),
                                   0) * 10000 / sum(h.n)) AS BIGINT) AS oov_bp
        FROM hist h LEFT JOIN vocab v ON h.token = v.token
        GROUP BY h.source
    """


# Top-K merge candidates reported by the BPE induction pass.
BPE_TOP_PAIRS = 40


def bpe_merges(df: DataFrame, text_col: str = "text",
               top_k: int = BPE_TOP_PAIRS) -> DataFrame:
    """First iteration of BPE vocabulary induction at corpus scale:
    count adjacent character-pair occurrences (every occurrence, the
    classic BPE statistic — "aaa" contributes "aa" twice), weighted
    by word frequency, and return the top-K merge candidates
    (pair, n_pair) — the job a tokenizer team runs over the full
    corpus before each merge is frozen.

    Scale shape (10^12 sequences): the corpus collapses to the WORD
    histogram first (one map-side-combinable agg — the Zipf head
    combines per task, same shape as oov_rate); pair generation then
    runs over DISTINCT words only (dim-sized — vocabulary, not
    corpus), weighted by the word count, so the second explode+agg
    touches ~10^6 rows regardless of corpus size. Top-K is a
    TakeOrdered (never a global sort). Zero Python: the per-word pair
    array is a Catalyst transform whose lambda body is one substr per
    element over the materialized word (O(1) — no regexp re-evaluated
    per element, the same discipline as dedup.word_grams).

    Reference anchor: rolled-up identity counts drive the ship
    decision (collector.go:125-174); here the identity is the
    character pair and the decision is the next merge.
    """
    hist = (
        df.select(F.explode(tokenize(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    # sequence(1, 0) would generate a DESCENDING [1, 0] for 1-char
    # words — guard to an empty array instead.
    idx = F.when(
        F.length("w") >= 2,
        F.sequence(F.lit(1), F.length("w") - 1),
    ).otherwise(F.array().cast("array<int>"))
    pairs = hist.select(
        F.explode(
            F.transform(idx, lambda i: F.col("w").substr(i, F.lit(2)))
        ).alias("pair"),
        "_n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("_n").cast("long").alias("n_pair"))
        .orderBy(F.desc("n_pair"), F.asc("pair"))
        .limit(top_k)
    )


def bpe_merges_sql(top_k: int = BPE_TOP_PAIRS) -> str:
    """DuckDB twin of bpe_merges: identical tokenization, 1-indexed
    character substring pairs over the word histogram, weighted sum,
    (n DESC, pair ASC) tiebreak. UTF-8 binary string order on the
    tiebreak matches Spark's UTF8String comparison (byte order ==
    code-point order)."""
    return f"""
        WITH toks AS (
            SELECT list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        occ AS (SELECT unnest(t) AS w FROM toks),
        hist AS (SELECT w, CAST(count(*) AS BIGINT) AS n
                 FROM occ GROUP BY w),
        pairs AS (
            SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, n
            FROM hist,
                 LATERAL (SELECT unnest(range(1, length(w))) AS i)
            WHERE length(w) >= 2)
        SELECT pair, CAST(sum(n) AS BIGINT) AS n_pair
        FROM pairs GROUP BY pair
        ORDER BY n_pair DESC, pair LIMIT {top_k}
    """


# Docs under this many whitespace tokens count as "short" in the
# corpus profile (the too-short-to-train-on share of the card).
PROFILE_SHORT_TOKENS = 10


def corpus_profile(df: DataFrame, text_col: str = "text",
                   src_col: str = "source", lang_col: str = "lang",
                   short_tokens: int = PROFILE_SHORT_TOKENS) -> DataFrame:
    """Dataset-card rollup: the one-pass (source, lang) profile a data
    team publishes with a corpus release — doc counts, token and char
    totals, mean tokens/doc, and the too-short share — with per-source
    subtotals and a grand total (ROLLUP). All integer arithmetic
    (x100 / basis points), exact cross-engine.

    Scale shape (10^12 sequences): ONE corpus scan; every agg is
    map-side combinable (count/sum/conditional sum over a per-row
    token count — no explode, no distinct); ROLLUP adds dim-sized
    subtotal work after the partial agg, and the group-key domain
    (sources × langs) is dim-sized, so the single exchange carries
    only partial-agg rows. Reference anchor: per-sink rolled-up
    row/token/byte counts in the committed manifest
    (collector.go:125-174).
    """
    ntok = F.size(tokenize(text_col))
    base = df.select(
        F.coalesce(F.col(src_col), F.lit("")).alias("_src"),
        F.coalesce(F.col(lang_col), F.lit("")).alias("_lang"),
        ntok.alias("_ntok"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_nchar"),
    )
    return (
        base.rollup("_src", "_lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_ntok").cast("long").alias("n_tokens"),
            F.sum("_nchar").cast("long").alias("n_chars"),
            F.sum(F.when(F.col("_ntok") < short_tokens, 1).otherwise(0))
            .cast("long").alias("n_short"),
        )
        .select(
            F.coalesce("_src", F.lit("ALL")).alias("source"),
            F.coalesce("_lang", F.lit("ALL")).alias("lang"),
            "n_docs", "n_tokens", "n_chars",
            F.floor(F.col("n_tokens") * 100 / F.col("n_docs"))
            .cast("long").alias("avg_tok_x100"),
            F.floor(F.col("n_short") * 10000 / F.col("n_docs"))
            .cast("long").alias("short_bp"),
        )
    )


def corpus_profile_sql(short_tokens: int = PROFILE_SHORT_TOKENS) -> str:
    """DuckDB twin of corpus_profile: identical tokenization, ROLLUP
    grouping, and integer x100/bp arithmetic."""
    return f"""
        WITH base AS (
            SELECT coalesce(source, '') AS src,
                   coalesce(lang, '') AS lng,
                   len(list_filter(string_split_regex(
                           lower(coalesce(text, '')), '{WS_CLASS}'),
                       x -> x <> '')) AS ntok,
                   length(coalesce(text, '')) AS nchar
            FROM documents)
        SELECT coalesce(src, 'ALL') AS source,
               coalesce(lng, 'ALL') AS lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               CAST(sum(nchar) AS BIGINT) AS n_chars,
               CAST(floor(sum(ntok) * 100 / count(*)) AS BIGINT)
                   AS avg_tok_x100,
               CAST(floor(sum(CASE WHEN ntok < {short_tokens}
                                   THEN 1 ELSE 0 END) * 10000 / count(*))
                    AS BIGINT) AS short_bp
        FROM base GROUP BY ROLLUP (src, lng)
    """


# Vocabulary size for the unigram-LM surprisal score. Larger than
# TOP_VOCAB (coverage CDF granularity) because the LM wants most
# running tokens in-vocab with a genuine OOV tail.
SURPRISAL_VOCAB = 64


def _bits(col) -> Column:
    """Number of binary digits of a positive integer column —
    floor(log2(x)) + 1 computed EXACTLY in the integer domain
    (base-2 string length), so Spark and any oracle engine agree
    bit-for-bit; float log2 can round differently across libm
    implementations at power-of-two boundaries."""
    return F.length(F.conv(col.cast("string"), 10, 2)).cast("int")


def _elog8(col) -> Column:
    """log2(x) in EIGHTH-bits by integer octave interpolation:
    (bits(x)-1)*8 + floor(x*8 / 2^(bits(x)-1)) - 8. Exact for powers
    of two, monotone, max error ~0.09 bit — and fully portable: the
    only float op is division by a power of two, which is exact in
    IEEE doubles in every engine (only the exponent changes). Whole-
    bit granularity collapses all counts in an octave to one score;
    eighth-bits discriminate within the octave."""
    b = _bits(col).cast("long")
    frac = F.floor(col * 8 / F.pow(F.lit(2.0), (b - 1).cast("double")))
    return ((b - 1) * 8 + frac - 8).cast("long")


def _elog8_sql(x: str) -> str:
    """DuckDB twin of _elog8 (same exact integer/power-of-two ops)."""
    b = f"length(to_base(CAST({x} AS BIGINT), 2))"
    return (f"(({b} - 1) * 8 + CAST(floor(({x}) * 8 / power(2, {b} - 1)) "
            f"AS BIGINT) - 8)")


def source_entropy(df: DataFrame, text_col: str = "text",
                   group_col: str = "source") -> DataFrame:
    """Per-source token Shannon entropy in integer eighth-bits — the
    corpus-health metric that flags template farms (entropy collapses
    when a source repeats the same few tokens) and tokenizer-hostile
    noise (entropy near log2(vocab) with a flat distribution).

    H_x8 = floor( sum_t c_t * (elog8(N) - elog8(c_t)) / N ), with
    c_t the token's count in the source and N the source's token
    total — the plug-in estimator with both logs in the exact-
    portable eighth-bit integer domain (_elog8), so the DuckDB twin
    reproduces every value bit-for-bit.

    Output: (source, n_tokens:long, n_distinct:long, entropy_x8:long)

    Scale shape (10^12 rows): ONE combinable (source, token) count
    shuffle builds the histogram; totals are a dim-sized rollup
    broadcast back; the entropy sum is a second combinable agg over
    the histogram. No window, no sort, no Python.
    """
    hist = (
        df.select(
            F.col(group_col).alias("src"),
            F.explode(tokenize(text_col)).alias("tok"),
        )
        .groupBy("src", "tok")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = hist.groupBy("src").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    joined = hist.join(F.broadcast(tot), "src").withColumn(
        "_term", F.col("cnt") * (_elog8(F.col("n_tokens")) - _elog8(F.col("cnt")))
    )
    return (
        joined.groupBy("src")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.max("n_distinct").alias("n_distinct"),
            F.floor(F.sum("_term") / F.max("n_tokens")).cast("long")
            .alias("entropy_x8"),
        )
        .select(F.col("src").alias(group_col), "n_tokens", "n_distinct",
                "entropy_x8")
    )


def source_entropy_sql(text_col: str = "text", group_col: str = "source",
                       table: str = "documents") -> str:
    """DuckDB twin of source_entropy — identical histogram grain and
    eighth-bit log arithmetic."""
    return f"""
        WITH tok AS (
            SELECT {group_col} AS src,
                   unnest(list_filter(
                       string_split_regex(lower(coalesce({text_col}, '')),
                                          '{WS_CLASS}'),
                       x -> x <> '')) AS tok
            FROM {table}),
        hist AS (
            SELECT src, tok, CAST(count(*) AS BIGINT) AS cnt
            FROM tok GROUP BY 1, 2),
        tot AS (
            SELECT src, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct
            FROM hist GROUP BY 1)
        SELECT h.src AS {group_col},
               max(t.n_tokens) AS n_tokens,
               max(t.n_distinct) AS n_distinct,
               CAST(floor(sum(h.cnt * ({_elog8_sql('t.n_tokens')}
                   - {_elog8_sql('h.cnt')})) / max(t.n_tokens)) AS BIGINT)
                   AS entropy_x8
        FROM hist h JOIN tot t USING (src)
        GROUP BY h.src
    """


PMI_MIN_COUNT = 5   # bigrams below this are PMI noise (rare-pair bias)
PMI_TOPK = 20


def token_pmi(df: DataFrame, text_col: str = "text",
              min_count: int = PMI_MIN_COUNT,
              top_k: int = PMI_TOPK) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    statistic behind phrase induction for tokenizer/vocab prep
    (Mikolov et al. 2013 use exactly this count ratio to merge
    word2vec phrases).

    PMI(a,b) = log2( p(ab) / (p(a) p(b)) ) with p(ab) = c_ab/N_bi and
    p(·) = c/N_uni, computed entirely in the exact-portable eighth-bit
    integer log domain as
      pmi_x8 = elog8(c_ab) + 2*elog8(N_uni)
             - elog8(N_bi) - elog8(c_a) - elog8(c_b)
    (sum-of-logs form — no c_a*c_b product that would overflow BIGINT
    at web scale). Rare pairs (c_ab < min_count) are dropped first:
    PMI's known bias is that a typo pair occurring once scores top.

    Output: (tok_a, tok_b, n_ab:long, pmi_x8:long), ordered by
    (pmi_x8 desc, tok_a, tok_b), top_k rows.

    Scale shape (10^12 docs): two combinable histogram shuffles
    (unigrams, bigram structs); totals are 1-row aggregates riding
    broadcast; the two unigram-count joins broadcast the vocab (dim-
    sized up to ~10^6 — beyond that they degrade to shuffled hash
    joins on the token key, same correctness); final selection is
    TakeOrderedAndProject, never a global sort of the bigram table.
    """
    toks = tokenize(text_col)
    # zip_with over two slices (each argument evaluated once) — the
    # element_at-in-transform form re-inlines the split per element
    # (measured 8x slower; see __spark_entry__._toks_and_grams).
    grams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))

    uni = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt_u"))
    )
    bi = (
        df.select(F.explode(grams).alias("g"))
        .select(F.col("g.a").alias("tok_a"), F.col("g.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    n_uni = uni.agg(F.sum("cnt_u").cast("long").alias("n_uni"))
    n_bi_tot = (
        df.select(F.explode(grams).alias("g"))
        .agg(F.count("*").cast("long").alias("n_bi"))
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("cnt_u").alias("cnt_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("cnt_u").alias("cnt_b"))
    scored = (
        bi.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi_tot))
        .withColumn(
            "pmi_x8",
            (
                _elog8(F.col("n_ab")) + F.lit(2) * _elog8(F.col("n_uni"))
                - _elog8(F.col("n_bi")) - _elog8(F.col("cnt_a"))
                - _elog8(F.col("cnt_b"))
            ).cast("long"),
        )
    )
    return (
        scored.select("tok_a", "tok_b", "n_ab", "pmi_x8")
        .orderBy(F.desc("pmi_x8"), "tok_a", "tok_b")
        .limit(top_k)
    )


def token_pmi_sql(text_col: str = "text", min_count: int = PMI_MIN_COUNT,
                  top_k: int = PMI_TOPK, table: str = "documents") -> str:
    """DuckDB twin of token_pmi — identical histograms, eighth-bit
    log arithmetic, ordering, and limit."""
    ws = (
        f"list_filter(string_split_regex(lower(coalesce({text_col}, '')), "
        f"'{WS_CLASS}'), x -> x <> '')"
    )
    return f"""
        WITH toks AS (SELECT {ws} AS ws FROM {table}),
        uni AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS cnt_u
            FROM (SELECT unnest(ws) AS tok FROM toks) GROUP BY 1),
        grams AS (
            SELECT ws[i] AS tok_a, ws[i + 1] AS tok_b
            FROM toks, unnest(range(1, greatest(len(ws), 1))) t(i)),
        bi AS (
            SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS n_ab
            FROM grams GROUP BY 1, 2
            HAVING count(*) >= {min_count}),
        tot AS (
            SELECT (SELECT sum(cnt_u) FROM uni) AS n_uni,
                   (SELECT count(*) FROM grams) AS n_bi)
        SELECT b.tok_a, b.tok_b, b.n_ab,
               CAST({_elog8_sql('b.n_ab')} + 2 * {_elog8_sql('t.n_uni')}
                    - {_elog8_sql('t.n_bi')} - {_elog8_sql('a.cnt_u')}
                    - {_elog8_sql('c.cnt_u')} AS BIGINT) AS pmi_x8
        FROM bi b
        JOIN uni a ON a.tok = b.tok_a
        JOIN uni c ON c.tok = b.tok_b
        CROSS JOIN tot t
        ORDER BY pmi_x8 DESC, b.tok_a, b.tok_b
        LIMIT {top_k}
    """


TFIDF_TOP_TERMS = 5


def tfidf_topterms(df: DataFrame, text_col: str = "text",
                   group_col: str = "source",
                   top_n: int = TFIDF_TOP_TERMS) -> DataFrame:
    """Per-source characteristic terms: top-n tokens by tf-idf, the
    dataset-card line that says WHAT distinguishes each source (raw
    top-frequency terms are the same stopwords everywhere; idf
    down-weights them).

    score = tf(source, t) * idf_x8(t), with idf_x8 =
    elog8(N_docs) - elog8(df_t) in the exact-portable eighth-bit
    integer domain (df_t = docs containing t — the classic smoothed-
    free idf; a token in every doc scores ~0 and drops out).

    Output: (source, term, n:long, score_x8:long), top_n rows per
    source ordered by (score desc, term asc).

    Scale shape: two combinable histograms (per-doc DISTINCT tokens
    for df_t; (source, token) counts for tf), the vocab-sized df side
    broadcast back, and per-source selection via a rank-limit window
    (WindowGroupLimit heaps below the exchange). No global sort.
    """
    toks = tokenize(text_col)
    docs_tok = df.select(
        F.col(group_col).alias("src"),
        F.explode(F.array_distinct(toks)).alias("tok"),
    )
    n_docs = df.select(F.count("*").cast("long").alias("n_docs"))
    dfreq = docs_tok.groupBy("tok").agg(
        F.count("*").cast("long").alias("df_t")
    )
    tf = (
        df.select(F.col(group_col).alias("src"),
                  F.explode(toks).alias("tok"))
        .groupBy("src", "tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_x8",
            (F.col("n") * (_elog8(F.col("n_docs")) - _elog8(F.col("df_t"))))
            .cast("long"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("score_x8"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(F.col("src").alias(group_col), F.col("tok").alias("term"),
                "n", "score_x8")
    )


def tfidf_topterms_sql(text_col: str = "text", group_col: str = "source",
                       top_n: int = TFIDF_TOP_TERMS,
                       table: str = "documents") -> str:
    """DuckDB twin of tfidf_topterms."""
    ws = (
        f"list_filter(string_split_regex(lower(coalesce({text_col}, '')), "
        f"'{WS_CLASS}'), x -> x <> '')"
    )
    return f"""
        WITH base AS (SELECT {group_col} AS src, {ws} AS ws FROM {table}),
        dfreq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df_t
            FROM (SELECT unnest(list_distinct(ws)) AS tok FROM base)
            GROUP BY 1),
        tf AS (
            SELECT src, tok, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT src, unnest(ws) AS tok FROM base)
            GROUP BY 1, 2),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {table}),
        scored AS (
            SELECT t.src, t.tok, t.n,
                   CAST(t.n * ({_elog8_sql('nd.n_docs')}
                        - {_elog8_sql('d.df_t')}) AS BIGINT) AS score_x8
            FROM tf t JOIN dfreq d USING (tok) CROSS JOIN nd)
        SELECT src AS {group_col}, tok AS term, n, score_x8
        FROM (SELECT *, row_number() OVER (PARTITION BY src
                  ORDER BY score_x8 DESC, tok) AS rn FROM scored)
        WHERE rn <= {top_n}
    """


TEMPLATE_MAJORITY_BP = 9000  # a position is constant at >= 90% agreement
TEMPLATE_MIN_LINES = 3       # groups below this are not templates


def log_templates(df: DataFrame, text_col: str = "text",
                  group_col: str = "source",
                  majority_bp: int = TEMPLATE_MAJORITY_BP,
                  min_lines: int = TEMPLATE_MIN_LINES) -> DataFrame:
    """Log template mining: the Drain/Spell-family operation that
    turns a stream of log lines into message templates with variable
    slots — the structure extraction every log pipeline's consumers
    run on routed sinks (He et al. 2017, Drain).

    Deterministic formulation (fixed-partition variant): lines group
    by (source, token_count) — Drain's first two tree levels — and
    within a group each token position keeps its MODAL token if it
    covers >= majority_bp of the group's lines, else becomes the
    wildcard '<*>'. Ties break to the lexicographically smallest
    token, so an independent engine derives the identical template.

    Output: (source, n_tok:long, n_lines:long, template:string) for
    groups with >= min_lines lines.

    Scale shape (10^12 lines): posexplode -> ONE map-side-combinable
    count shuffle keyed on (source, len, pos, token); the modal pick
    is a rank-limit window (WindowGroupLimit heaps below the
    exchange); template assembly sorts only the per-group POSITION
    table (bounded by max line length), never lines. The known trade
    vs full Drain: variable-length variants of one message land in
    different (source, len) groups — the standard fixed-depth
    simplification, stated rather than hidden.
    """
    toks = tokenize(text_col)
    base = (
        df.select(F.col(group_col).alias("src"), toks.alias("ws"))
        .withColumn("n_tok", F.size("ws").cast("long"))
        .filter(F.col("n_tok") > 0)
    )
    tot = base.groupBy("src", "n_tok").agg(
        F.count("*").cast("long").alias("n_lines")
    ).filter(F.col("n_lines") >= min_lines)
    pos = base.select(
        "src", "n_tok", F.posexplode("ws").alias("pos", "tok")
    )
    cnt = pos.groupBy("src", "n_tok", "pos", "tok").agg(
        F.count("*").cast("long").alias("c")
    )
    w = Window.partitionBy("src", "n_tok", "pos").orderBy(
        F.desc("c"), F.asc("tok")
    )
    modal = cnt.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    # tot is dim-sized (sources x lengths) -> broadcast; the majority
    # test is integer (c * 10000 >= bp * n_lines).
    slots = modal.join(F.broadcast(tot), ["src", "n_tok"]).withColumn(
        "slot",
        F.when(
            F.col("c") * 10000 >= majority_bp * F.col("n_lines"), F.col("tok")
        ).otherwise(F.lit("<*>")),
    )
    return (
        slots.groupBy("src", "n_tok")
        .agg(
            F.max("n_lines").alias("n_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("slot")))
                    ),
                    lambda x: x.slot,
                ),
                " ",
            ).alias("template"),
        )
        .select(F.col("src").alias(group_col), "n_tok", "n_lines", "template")
    )


def log_templates_sql(text_col: str = "text", group_col: str = "source",
                      majority_bp: int = TEMPLATE_MAJORITY_BP,
                      min_lines: int = TEMPLATE_MIN_LINES,
                      table: str = "documents") -> str:
    """DuckDB twin of log_templates — identical grouping, modal pick
    (count desc, token asc), majority test, and position-ordered
    assembly."""
    ws = (
        f"list_filter(string_split_regex(lower(coalesce({text_col}, '')), "
        f"'{WS_CLASS}'), x -> x <> '')"
    )
    return f"""
        WITH base AS (
            SELECT {group_col} AS src, ws, CAST(len(ws) AS BIGINT) AS n_tok
            FROM (SELECT {group_col}, {ws} AS ws FROM {table})
            WHERE len(ws) > 0),
        tot AS (
            SELECT src, n_tok, CAST(count(*) AS BIGINT) AS n_lines
            FROM base GROUP BY 1, 2
            HAVING count(*) >= {min_lines}),
        pos AS (
            SELECT src, n_tok, i - 1 AS pos, ws[i] AS tok
            FROM base, unnest(range(1, len(ws) + 1)) t(i)),
        cnt AS (
            SELECT src, n_tok, pos, tok, CAST(count(*) AS BIGINT) AS c
            FROM pos GROUP BY 1, 2, 3, 4),
        modal AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY src, n_tok, pos
                           ORDER BY c DESC, tok) AS rn
                FROM cnt)
            WHERE rn = 1),
        slots AS (
            SELECT m.src, m.n_tok, m.pos, t.n_lines,
                   CASE WHEN m.c * 10000 >= {majority_bp} * t.n_lines
                        THEN m.tok ELSE '<*>' END AS slot
            FROM modal m JOIN tot t USING (src, n_tok))
        SELECT src AS {group_col}, n_tok, max(n_lines) AS n_lines,
               array_to_string(list_transform(list_sort(
                   list({{'pos': pos, 'slot': slot}})), x -> x.slot), ' ')
                   AS template
        FROM slots GROUP BY src, n_tok
    """


# Phrase-BM25 retrieval defaults: query phrases (bigrams — unigrams
# carry no idf signal in a small-vocab corpus) and result count.
BM25_PHRASES = ("vector hash", "stream batch", "merge sort")
BM25_TOPK = 20


def bm25_topk(df: DataFrame, phrases: tuple = BM25_PHRASES,
              text_col: str = "text", id_col: str = "doc_id",
              k: int = BM25_TOPK) -> DataFrame:
    """Phrase-BM25 top-k retrieval over the corpus — the targeted-
    subset-selection query a data team runs to pull topical documents
    for curation ("find the k docs most about X"). BM25 with k1=6/5,
    b=3/4 expressed as EXACT integer arithmetic (x100 scores): idf in
    eighth-bits via the octave-interpolated _elog8 (idf8 = elog8(N+1)
    - elog8(df_t), >= 0), and the tf/length normalization as one
    BIGINT rational — tf_part = 22*T*tf / (10*T*tf + 3*T + 9*dl*N),
    which is tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/T)) with k1=6/5,
    b=3/4 and avgdl = T/N multiplied out (x20 both sides, halved).
    Integral `div` (== DuckDB `//` for non-negative operands) keeps
    it exact past 2^53 where float division would mis-floor. Score =
    sum over phrases of floor(100 * idf8_t * tf_part / 8).

    Scale shape (10^12 sequences): three corpus passes, all scan-
    bounded — (1) one map-side-combinable agg for N and total tokens
    T; (2) the phrase document frequencies from a bigram explode
    FILTERED to the query phrases directly above the Generate (only
    matching rows survive to the single tiny agg); (3) the score pass:
    per-row ONE token fold (prev-token phrase counting — no bigram
    array built, no explode) whose finish computes the entire scalar
    score, so the heavy lineage evaluates exactly once per row (the
    char_diversity single-fold discipline); stats arrive as a 1-row
    broadcast crossJoin. Top-k is a TakeOrdered, never a global sort.
    In production passes 1-2 come precomputed from the corpus profile
    / token histogram; the online cost is one scan.

    At extreme T (10^15+ tokens) the x100 numerator would overflow
    int64 and ANSI mode raises loudly — production would drop to
    doubles there (scores rank, they are not identities); the integer
    path exists so the DuckDB oracle matches bit-for-bit.

    Reference anchor: route predicates select the subset each sink
    ships (collector.go:125-174); here the predicate is a relevance
    score and the sink is a curated top-k.
    """
    toks = tokenize(text_col)
    totals = df.agg(
        F.count("*").cast("long").alias("_N"),
        F.coalesce(F.sum(F.size(toks)), F.lit(0)).cast("long").alias("_T"),
    )
    # zip_with over two slices (each argument evaluated once) — the
    # element_at-in-transform form re-inlines split() per element
    grams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = (
        df.select(F.col(id_col), F.explode(grams).alias("_bg"))
        .filter(F.col("_bg").isin(list(phrases)))
    )
    dfs = occ.agg(*[
        F.coalesce(F.count_distinct(
            F.when(F.col("_bg") == p, F.col(id_col))), F.lit(0))
        .cast("long").alias(f"_df{i}")
        for i, p in enumerate(phrases)
    ])
    stats = totals.crossJoin(dfs)  # 1 row x 1 row

    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        # " " sentinel: tokens are split BY whitespace so none equals
        # " ", and concat_ws(" ", " ", x) = "  x" (double space)
        # never equals a single-space query phrase
        F.lit(" ").alias("prev"),
        zero.alias("dl"),
        *[zero.alias(f"c{i}") for i in range(len(phrases))],
    )

    def _merge(a, x):
        bg = F.concat_ws(" ", a.prev, x)
        fields = [x.alias("prev"), (a.dl + 1).alias("dl")]
        for i, p in enumerate(phrases):
            fields.append(
                (getattr(a, f"c{i}")
                 + F.when(bg == p, 1).otherwise(0)).alias(f"c{i}"))
        return F.struct(*fields)

    def _finish(a):
        n, t = F.col("_N"), F.col("_T")
        score = zero
        for i in range(len(phrases)):
            tf = getattr(a, f"c{i}")
            idf8 = _elog8(n + 1) - _elog8(F.col(f"_df{i}"))
            num = F.lit(100) * idf8 * 22 * t * tf
            den = F.lit(8) * (10 * t * tf + 3 * t + 9 * a.dl * n)
            score = score + F.call_function("div", num, den)
        # all-empty corpus: T=0 would divide by zero in ANSI mode
        return F.when(t > 0, score).otherwise(zero)

    scored = df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.aggregate(toks, acc0, _merge, _finish).alias("score_x100"),
    )
    return scored.orderBy(F.desc("score_x100"), F.asc(id_col)).limit(k)


def bm25_topk_sql(phrases: tuple = BM25_PHRASES,
                  k: int = BM25_TOPK) -> str:
    """DuckDB twin of bm25_topk: identical tokenization, bigram tf/df,
    and the same integer idf8/rational arithmetic with `//`."""
    df_cols = ",\n            ".join(
        f"CAST(count(DISTINCT CASE WHEN bg = '{p}' THEN doc_id END) "
        f"AS BIGINT) AS df{i}"
        for i, p in enumerate(phrases))
    tf_cols = ",\n            ".join(
        f"CAST(len(list_filter(list_transform(range(1, len(t)), "
        f"i -> t[i] || ' ' || t[i+1]), g -> g = '{p}')) AS BIGINT) AS c{i}"
        for i, p in enumerate(phrases))
    terms = " + ".join(
        f"((100 * ({_elog8_sql('N + 1')} - {_elog8_sql(f'df{i}')}) "
        f"* 22 * T * c{i}) // (8 * (10*T*c{i} + 3*T + 9*dl*N)))"
        for i in range(len(phrases)))
    in_list = ", ".join(f"'{p}'" for p in phrases)
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
        totals AS (SELECT CAST(count(*) AS BIGINT) AS N,
                          CAST(coalesce(sum(dl), 0) AS BIGINT) AS T
                   FROM base),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i+1])) AS bg
            FROM base),
        dfs AS (SELECT
            {df_cols}
            FROM grams WHERE bg IN ({in_list})),
        tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl,
            {tf_cols}
            FROM base)
        SELECT doc_id,
               CASE WHEN T > 0 THEN {terms} ELSE 0 END AS score_x100
        FROM tf, totals, dfs
        ORDER BY score_x100 DESC, doc_id LIMIT {k}
    """


def unigram_surprisal(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", src_col: str = "source",
                      top_v: int = SURPRISAL_VOCAB) -> DataFrame:
    """CCNet-style unigram-LM quality score: each document's mean
    per-token surprisal against the corpus's own unigram
    distribution, in integer centibits/token. CCNet buckets documents
    by LM perplexity (head/middle/tail); the unigram LM is the
    degenerate-but-deterministic member of that family, and the
    integer eighth-bit arithmetic (surprisal(tok) = elog8(T) -
    elog8(n_tok), octave-interpolated log2 — see _elog8) keeps the
    score portable across engines — no libm log anywhere in the hot
    path or the oracle.

    OOV tokens (outside the top-V vocabulary) score as count=1
    (maximum surprisal, elog8(1)=0) — the add-nothing analog of an
    <unk> penalty. Returns one row per non-empty document:
    (id, source, n_tokens, surprisal_cb, band) where surprisal_cb =
    floor(100 * sum_surprisal_eighthbits / (8 * n_tokens)),
    i.e. mean centibits/token, and band is CCNet's
    head/middle/tail: corpus-relative surprisal TERCILES (head =
    lowest third = most fluent under the LM), computed exactly over
    the dim-sized centibit histogram — never a global percentile sort
    (cb domain is bounded by 100 * bits(T), so the cumulative window
    runs over <= a few thousand rows, same justification as
    length_quantiles).

    Scale shape (10^12 sequences): the token histogram is one
    map-side-combinable agg (Zipf head combines per task); vocab =
    TakeOrdered top-V off it and T = sum over it — BOTH consume the
    same groupBy(token) exchange (AQE's final plan carries 3
    ReusedExchange nodes — pinned in test_corpus.py). The per-doc pass broadcast-joins exploded tokens to
    the V-row vocab (zero corpus shuffle) and aggregates on the id;
    a document's tokens are born co-partitioned with their input row,
    so the partial agg collapses each doc map-side and only the
    per-doc result rows reach the one exchange. In production the
    vocab/T pair would be computed once and pinned as a tiny
    broadcast table rather than re-derived per query.

    Reference anchor: per-item cost scoring before the route decision
    (log_watcher.go:97-126 decides per work item from cheap identity
    stats; here the stat is the corpus-frequency surprisal).
    """
    toks = df.select(
        F.col(id_col), F.col(src_col),
        F.explode(tokenize(text_col)).alias("token"),
    )
    hist = toks.groupBy("token").agg(F.count("*").alias("_n"))
    vocab = (
        hist.orderBy(F.desc("_n"), F.asc("token"))
        .limit(top_v)
        .select("token", _elog8(F.col("_n")).alias("_e_n"))
    )
    total = hist.select(_elog8(F.sum("_n")).alias("_e_t"))
    per_doc = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col, src_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_e_n"), F.lit(0)))
            .cast("long").alias("_sum_e_n"),
        )
    )
    cb = F.floor(
        (F.col("n_tokens") * F.col("_e_t") - F.col("_sum_e_n"))
        * 100 / (F.col("n_tokens") * 8)
    ).cast("long")
    scored = per_doc.crossJoin(F.broadcast(total)).select(
        id_col, src_col, "n_tokens", cb.alias("surprisal_cb"),
    )
    # Tercile cutoffs over the bounded cb histogram: smallest cb with
    # cum*3 >= N (== cum >= N/3 in exact integer arithmetic) and with
    # cum*3 >= 2N. Two dim-sized aggs + a 1-row broadcast back.
    w_cum = Window.orderBy("surprisal_cb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.orderBy("surprisal_cb").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = (
        scored.groupBy("surprisal_cb").agg(F.count("*").alias("_c"))
        .select("surprisal_cb", F.sum("_c").over(w_cum).alias("_cum"),
                F.sum("_c").over(w_all).alias("_n"))
    )
    cuts = cum.agg(
        F.min(F.when(F.col("_cum") * 3 >= F.col("_n"),
                     F.col("surprisal_cb"))).alias("_p33"),
        F.min(F.when(F.col("_cum") * 3 >= 2 * F.col("_n"),
                     F.col("surprisal_cb"))).alias("_p67"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        id_col, src_col, "n_tokens", "surprisal_cb",
        F.when(F.col("surprisal_cb") <= F.col("_p33"), F.lit("head"))
        .when(F.col("surprisal_cb") > F.col("_p67"), F.lit("tail"))
        .otherwise(F.lit("middle")).alias("band"),
    )


def unigram_surprisal_sql(top_v: int = SURPRISAL_VOCAB) -> str:
    """DuckDB twin of unigram_surprisal: identical tokenization,
    top-V tiebreak, and exact base-2-digit-count arithmetic
    (to_base(n, 2) == Spark's conv(n, 10, 2))."""
    return f"""
        WITH occ AS (
            SELECT doc_id, source, unnest(
                list_filter(string_split_regex(lower(coalesce(text, '')),
                                               '{WS_CLASS}'),
                            x -> x <> '')) AS token
            FROM documents),
        hist AS (SELECT token, count(*) AS n FROM occ GROUP BY token),
        vocab AS (
            SELECT token, {_elog8_sql('n')} AS e_n
            FROM hist ORDER BY n DESC, token LIMIT {top_v}),
        tot AS (
            SELECT {_elog8_sql('CAST(sum(n) AS BIGINT)')} AS e_t
            FROM hist),
        per_doc AS (
            SELECT o.doc_id, o.source,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(coalesce(v.e_n, 0)) AS BIGINT) AS sum_e_n
            FROM occ o LEFT JOIN vocab v ON o.token = v.token
            GROUP BY o.doc_id, o.source),
        scored AS (
            SELECT doc_id, source, n_tokens,
                   CAST(floor((n_tokens * e_t - sum_e_n) * 100
                              / (n_tokens * 8)) AS BIGINT) AS surprisal_cb
            FROM per_doc, tot),
        cum AS (
            SELECT surprisal_cb,
                   sum(count(*)) OVER (ORDER BY surprisal_cb) AS c,
                   sum(count(*)) OVER () AS n
            FROM scored GROUP BY surprisal_cb),
        cuts AS (
            SELECT min(CASE WHEN c * 3 >= n THEN surprisal_cb END) AS p33,
                   min(CASE WHEN c * 3 >= 2 * n THEN surprisal_cb END) AS p67
            FROM cum)
        SELECT doc_id, source, n_tokens, surprisal_cb,
               CASE WHEN surprisal_cb <= p33 THEN 'head'
                    WHEN surprisal_cb > p67 THEN 'tail'
                    ELSE 'middle' END AS band
        FROM scored, cuts
    """


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                src_col: str = "source") -> DataFrame:
    """Snapshot diff between two corpus versions — the audit step of
    an incremental recrawl pipeline ("what did this month's crawl
    add/remove/rewrite?"). Returns one row per document present in
    EITHER version: (id, source, status) with status in
    added / removed / changed / unchanged.

    Scale shape (10^12 docs/side): each side is projected to
    (id, source, md5-fingerprint) BEFORE the join, so the exchanges
    carry 16-byte digests, never document bodies (ReadSchema still
    includes text for the digest, but nothing wide crosses the wire).
    The FULL OUTER join runs sort-merge on the unique id — no skew by
    construction, AQE-planned. In production the two snapshots would
    be bucketed by id on write (sources/reader.py bucketed tables),
    making the diff a zero-exchange co-located merge.

    Reference anchor: rotation detection compares the stored identity
    of a path against its current identity to classify it as
    same/rotated/new (log_watcher.go:228-261); this is the same
    three-way identity compare lifted to corpus snapshots, plus the
    'removed' case the watcher handles via vanish events.
    """
    fp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    o = old.select(F.col(id_col), F.col(src_col).alias("_src_o"),
                   fp.alias("_fp_o"))
    n = new.select(F.col(id_col), F.col(src_col).alias("_src_n"),
                   fp.alias("_fp_n"))
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.coalesce("_src_n", "_src_o").alias(src_col),
        F.when(F.col("_fp_o").isNull(), F.lit("added"))
        .when(F.col("_fp_n").isNull(), F.lit("removed"))
        .when(F.col("_fp_o") == F.col("_fp_n"), F.lit("unchanged"))
        .otherwise(F.lit("changed")).alias("status"),
    )


def corpus_diff_sql() -> str:
    """DuckDB twin of corpus_diff over the same synthetic version
    pair the queries() wrapper builds (old drops id%9==0, new drops
    id%7==0 and amends id%5==0 — ASCII append, portable)."""
    return """
        WITH v_old AS (
            SELECT doc_id, source, md5(coalesce(text, '')) AS fp
            FROM documents WHERE doc_id % 9 <> 0),
        v_new AS (
            SELECT doc_id, source,
                   md5(coalesce(CASE WHEN doc_id % 5 = 0
                                     THEN text || ' [amended]'
                                     ELSE text END, '')) AS fp
            FROM documents WHERE doc_id % 7 <> 0)
        SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
               coalesce(n.source, o.source) AS source,
               CASE WHEN o.fp IS NULL THEN 'added'
                    WHEN n.fp IS NULL THEN 'removed'
                    WHEN o.fp = n.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM v_old o FULL OUTER JOIN v_new n USING (doc_id)
    """


# content-defined chunking: a token ends a chunk when its portable
# hash is 0 mod CDC_MOD -> expected chunk length ~ CDC_MOD tokens.
CDC_MOD = 16


def cdc_chunking(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunk statistics per document: chunk
    boundaries fall where the token's content hash ≡ 0 (mod CDC_MOD),
    so an insertion early in a document shifts only the chunk it
    lands in — every later boundary re-synchronizes on the same
    content. That re-sync property is why CDC (FastCDC/rsync
    lineage) is the dedup-prep primitive for shifted/edited near-
    copies where fixed-size chunking would desynchronize the entire
    tail. (Deliberately no min/max chunk clamp: the clamp is a
    sequential scan-state refinement; the boundary rule here is pure
    per-token content, which keeps the operator a stateless
    projection.)

    Scale shape: everything per-row Catalyst HOFs over the token
    array (hash, boundary filter, length diffs — whole-stage
    codegen, zero Python, zero shuffle); the output is doc-keyed.
    llogtail's framing analog: lines are delimiter-defined chunks of
    a byte stream (buffer.go:103-104); CDC is delimiter-defined
    framing where the DATA is the delimiter.

    Returns (doc_id, n_tokens, n_chunks, max_chunk_len,
    mean_len_x100); empty documents drop.
    """
    from llogtail_spark.functions.portable_hash import char_fold_hash

    toks = tokenize(text_col)
    base = df.select(F.col(id_col), toks.alias("ws")).filter(
        F.size("ws") > 0
    )
    # each intermediate array is MATERIALIZED as its own projection
    # step before anything indexes into it: an inline HOF expression
    # referenced inside a per-index lambda is re-evaluated for EVERY
    # index (element_at(<transform expr>, i) recomputed the whole hash
    # array per token -> O(n^2 * chars); measured 11 s -> 0.3 s at
    # sf0.1). CollapseProject keeps a non-cheap expr that is consumed
    # more than once in its own project, so each step evaluates once.
    hashed = base.select(
        id_col,
        F.size("ws").alias("n_tokens"),
        # boundary flags directly off the index-aware transform: 1-based
        # position where the token's hash ends a chunk, else NULL
        F.transform(
            F.col("ws"),
            lambda w, i: F.when(
                char_fold_hash(w) % CDC_MOD == 0, i + 1
            ),
        ).alias("flags"),
    )
    bounded = hashed.select(
        id_col, "n_tokens",
        F.filter(F.col("flags"), lambda x: x.isNotNull()).alias("bp"),
    )
    # final token always closes the last chunk (avoid a dup when it
    # is already a content boundary)
    # try_element_at: ANSI mode throws on -1 over an empty array
    with_b = bounded.select(
        id_col, "n_tokens",
        F.when(
            F.try_element_at(F.col("bp"), F.lit(-1)) == F.col("n_tokens"),
            F.col("bp"),
        ).otherwise(
            F.concat(F.col("bp"), F.array(F.col("n_tokens")))
        ).alias("bpe"),
    )
    lens = F.transform(
        F.sequence(F.lit(1), F.size("bpe")),
        lambda i: F.element_at(F.col("bpe"), i)
        - F.when(i == 1, F.lit(0)).otherwise(
            F.element_at(F.col("bpe"), i - 1)
        ),
    )
    return with_b.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size("bpe").cast("long").alias("n_chunks"),
        F.array_max(lens).cast("long").alias("max_chunk_len"),
        F.floor(F.col("n_tokens") * 100 / F.size("bpe"))
        .cast("long").alias("mean_len_x100"),
    )


def cdc_chunking_sql(mod: int = CDC_MOD) -> str:
    """DuckDB twin: identical tokenization, hash, boundary rule,
    final-token close, and length diffs (1-based lists on both
    engines)."""
    from llogtail_spark.functions.portable_hash import char_fold_hash_sql

    h = char_fold_hash_sql("ws[i]")
    return f"""
        WITH norm AS (
            SELECT doc_id, list_filter(
                regexp_split_to_array(lower(coalesce(text, '')),
                                      '{WS_CLASS}'),
                x -> x <> '') AS ws
            FROM documents),
        based AS (
            SELECT doc_id, ws, len(ws) AS n FROM norm WHERE len(ws) > 0),
        bounds AS (
            SELECT doc_id, n,
                   list_filter(range(1, n + 1),
                               i -> ({h}) % {mod} = 0) AS bp
            FROM based),
        closed AS (
            SELECT doc_id, n,
                   CASE WHEN len(bp) > 0 AND bp[-1] = n THEN bp
                        ELSE list_append(bp, n) END AS bpe
            FROM bounds)
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(len(bpe) AS BIGINT) AS n_chunks,
               CAST(list_max(list_transform(
                   range(1, len(bpe) + 1),
                   i -> bpe[i] - CASE WHEN i = 1 THEN 0
                                      ELSE bpe[i - 1] END)) AS BIGINT)
                   AS max_chunk_len,
               CAST(floor(n * 100 / len(bpe)) AS BIGINT) AS mean_len_x100
        FROM closed
    """


SEQ_LEN = 128  # packed training-sequence length (tokens) at test scale


def seq_packing(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", seq_len: int = SEQ_LEN,
                nshards: int = N_SHARDS) -> DataFrame:
    """Concat-and-chunk training-sequence packing — the standard GPT
    pretraining layout: each shard's document stream is concatenated
    in a deterministic order and sliced into fixed `seq_len` windows
    ("bins"); every document maps to an exact token offset and the
    range of training sequences it occupies.

    Output, one row per non-empty document:
      (shard:int, doc_id, n_tok:long, tok_start:long,
       bin_first:long, bin_last:long, crosses:int)
    where tok_start is the document's first-token offset in its
    shard's concatenated stream, bin_first/bin_last the training
    sequences it lands in, and crosses=1 iff it straddles a sequence
    boundary — the cross-document attention-contamination signal a
    packing audit wants per source.

    Determinism: shard + order come from the portable md5 hash of the
    id (the corpus_shuffle_shards convention — identical in DuckDB),
    so re-running on the same corpus reproduces the exact training
    order, offsets included.

    Scale shape (10^12 tokens): tokenize/count in the scan stage; ONE
    nshards-way shuffle; the running offset is a per-shard window
    cumsum. A shard is exactly the unit a training-data writer emits
    as one packed file, so nshards scales with the writer fleet (100k
    on a real corpus) and no shard outgrows a partition by
    construction — no global sort, no SinglePartition exchange.
    Reference anchor: the router assigns every work item its sink
    partition before the write (log_watcher.go route fan-out); here
    the sink is the packed shard and the assignment carries the exact
    token offset with it.
    """
    toks = df.select(
        F.col(id_col),
        F.size(tokenize(text_col)).cast("long").alias("n_tok"),
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("long").alias("h"),
        # NULL ids are out of scope: the two engines disagree on NULL
        # sort placement (Spark NULLS FIRST vs DuckDB NULLS LAST), so
        # a NULL-id doc's stream offset would be engine-dependent
    ).where(F.col("n_tok") > 0).where(F.col(id_col).isNotNull())
    sharded = toks.withColumn(
        "shard", F.pmod(F.col("h"), F.lit(nshards)).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = sharded.withColumn(
        "tok_start", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    )
    return placed.select(
        "shard", id_col, "n_tok", "tok_start",
        F.floor(F.col("tok_start") / seq_len).cast("long").alias("bin_first"),
        F.floor((F.col("tok_start") + F.col("n_tok") - 1) / seq_len)
        .cast("long").alias("bin_last"),
    ).withColumn(
        "crosses",
        F.when(F.col("bin_last") > F.col("bin_first"), 1).otherwise(0)
        .cast("int"),
    )


def seq_packing_sql(seq_len: int = SEQ_LEN, nshards: int = N_SHARDS,
                    table: str = "documents") -> str:
    """DuckDB twin of seq_packing: identical tokenize-count, md5
    shard hash, per-shard cumsum window."""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len(list_filter(
                       string_split_regex(lower(coalesce(text, '')),
                                          '{WS_CLASS}'),
                       x -> x <> '')) AS BIGINT) AS n_tok,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS h
            FROM {table} WHERE doc_id IS NOT NULL),
        placed AS (
            SELECT CAST(h % {nshards} AS INTEGER) AS shard,
                   doc_id, n_tok,
                   CAST(coalesce(sum(n_tok) OVER (
                       PARTITION BY h % {nshards} ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS tok_start
            FROM toks WHERE n_tok > 0)
        SELECT shard, doc_id, n_tok, tok_start,
               CAST(floor(tok_start / {seq_len}) AS BIGINT) AS bin_first,
               CAST(floor((tok_start + n_tok - 1) / {seq_len}) AS BIGINT)
                   AS bin_last,
               CAST(CASE WHEN floor((tok_start + n_tok - 1) / {seq_len})
                              > floor(tok_start / {seq_len})
                         THEN 1 ELSE 0 END AS INTEGER) AS crosses
        FROM placed
    """


DUP_WIN = 8  # duplicated-substring window length (tokens)


_DUP_WIN_UDFS: dict = {}


def _dup_win_hashes(k: int):
    """Arrow pandas_udf: token array -> struct(wh1, wh2) of the two
    k-window rolling fingerprints (dup_token_spans' scan stage),
    numpy-vectorized with the exact integer recurrences of the
    Catalyst HOF path it replaces:

        th  = fold(chars, 0, (h, c) -> (h*MULT + cp(c)) % MOD)
        th2 = (th*a2 + b2) % MOD
        wh1[i] = fold(th [i..i+k), 0, (acc, x) -> (acc*BAND_MULT + x) % MOD)
        wh2[i] = fold(th2[i..i+k), 0, (acc, x) -> (acc*MULT + x) % MOD)

    All values stay < 2^43 and nonnegative (MOD < 2^30, BAND_MULT =
    2^13 - 1), so int64 arithmetic is exact and engine-identical —
    no overflow, no sign divergence. Codepoints come from a utf-32
    frombuffer (the _portable_band_keys_udf technique), equal to
    ascii()/ord() wherever the DuckDB twin already agrees with
    Catalyst. Non-deterministic marker: posexplode downstream must
    not synthesize a size()-filter that re-inlines a second Python
    eval (the route-parse / make_bucket_udf pathology).

    Callers guarantee every row has >= k tokens (the size(t) >= k
    filter sits upstream)."""
    if k in _DUP_WIN_UDFS:
        return _DUP_WIN_UDFS[k]
    from pyspark.sql import types as T

    from llogtail_spark.functions import portable_hash as ph

    M, MULT, BM = ph.MOD, ph.MULT, ph.BAND_MULT
    a2, b2 = ph.seed_mults(3)
    out_t = T.StructType([
        T.StructField("wh1", T.ArrayType(T.LongType())),
        T.StructField("wh2", T.ArrayType(T.LongType())),
    ])

    @F.pandas_udf(out_t)
    def win_hashes(toks: pd.Series) -> pd.DataFrame:
        docs = [list(t) for t in toks]
        ndocs = len(docs)
        if ndocs == 0:
            return pd.DataFrame({"wh1": [], "wh2": []})
        nw = np.array([len(d) for d in docs], dtype=np.int64)
        th = ph.char_fold_np([w for d in docs for w in d])
        th2 = (th * a2 + b2) % M
        # per-doc window starts, flattened: doc d owns nw[d]-k+1
        # windows beginning at its word offset
        doc_starts = np.cumsum(nw) - nw
        n_win = nw - k + 1  # callers guarantee nw >= k
        total = int(n_win.sum())
        flat_s = (np.repeat(doc_starts, n_win)
                  + np.arange(total)
                  - np.repeat(np.cumsum(n_win) - n_win, n_win))
        acc1 = np.zeros(total, dtype=np.int64)
        acc2 = np.zeros(total, dtype=np.int64)
        for j in range(k):
            acc1 = (acc1 * BM + th[flat_s + j]) % M
            acc2 = (acc2 * MULT + th2[flat_s + j]) % M
        bounds = np.cumsum(n_win)[:-1]
        return pd.DataFrame({
            "wh1": np.split(acc1, bounds),
            "wh2": np.split(acc2, bounds),
        })

    _DUP_WIN_UDFS[k] = win_hashes.asNondeterministic()
    return _DUP_WIN_UDFS[k]


def dup_token_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = DUP_WIN) -> DataFrame:
    """Token-granular duplicated-span detection — the distributed
    shape of ExactSubstr dedup (Lee et al. 2022 §4.1: remove every
    repeated substring of >= k tokens, keeping the first occurrence).

    Every k-token window gets a double rolling fingerprint (two
    independent fold hashes over the per-token portable hashes — the
    pair collides at ~1/MOD^2, and the oracle replays any collision
    identically); a window occurrence is removable iff its
    fingerprint occurs more than once corpus-wide AND it is not the
    globally first occurrence (min struct(doc, off) — map-side
    combinable, the span_dedup discipline). Removable windows merge
    into maximal per-document intervals (gaps-and-islands over the
    window offsets), i.e. exactly the byte ranges an ExactSubstr pass
    would cut.

    Output, one row per document owning >= 1 removable window:
      (doc_id, n_tok:long, n_dup_windows:long, n_intervals:long,
       dup_tok:long, dup_bp:long = floor(10000 * dup_tok / n_tok))

    Scale shape (10^12 tokens): fingerprints are ONE scan-stage Arrow
    batch kernel (_dup_win_hashes — numpy-vectorized O(n*k) per doc, k
    constant, bit-identical to the Catalyst HOF recurrence it
    replaced); the first-occurrence
    side is a map-side-combinable count+min-struct aggregation (the
    universal boilerplate window combines inside each task — a
    row_number window over the fingerprint would sort every copy of
    the hottest span on one reducer, rejected exactly as in
    span_dedup); the join back is equi-join (broadcast when the dup
    fingerprint set is dim-sized, AQE-skew-eligible SMJ otherwise);
    island merging is a per-document window — bounded by document
    length, never by corpus size. No global sort, no SinglePartition
    exchange. Accepted trade: the self-derived join re-computes the
    scan+fingerprint subtree on the aggregate side (2x a cheap
    embarrassingly-parallel stage) rather than paying a
    materialization barrier (localCheckpoint) or the hot-reducer
    window — same decision as span_dedup. Reference anchor: the
    debounce filter ships each repeated work item once
    (log_watcher.go:97-126); here the item is a k-token span.
    """
    toks = df.select(
        F.col(id_col),
        tokenize(text_col).alias("t"),
        # NULL ids out of scope: first-occurrence = min(id, off) and
        # the engines disagree on NULL ordering
    ).where((F.size("t") >= k) & F.col(id_col).isNotNull())
    # round 6: the char folds + O(n*k) window folds ran as interpreted
    # Catalyst HOF lambdas — the query's dominant cost (scan stage
    # 2.46 s of a 3.0 s query at sf0.1). One Arrow UDF replays the
    # identical integer recurrences vectorized in numpy (every
    # intermediate < 2^43, nonnegative — int64-exact in both engines;
    # verified array-identical on all sf0.1 docs). Tokenization stays
    # in Catalyst so split/lower semantics are untouched. Same-window
    # A/B: win subtree 2.46 s -> 0.77 s.
    win = toks.select(
        id_col,
        F.size("t").cast("long").alias("n_tok"),
        _dup_win_hashes(k)(F.col("t")).alias("_w"),
    ).select(
        id_col, "n_tok",
        F.col("_w.wh1").alias("wh1"), F.col("_w.wh2").alias("wh2"),
    )
    occ = win.select(
        id_col, "n_tok",
        F.posexplode(F.arrays_zip("wh1", "wh2")).alias("off", "z"),
    ).select(
        id_col, "n_tok", F.col("off").cast("long").alias("off"),
        F.col("z.wh1").alias("wh1"), F.col("z.wh2").alias("wh2"),
    )
    # round 6: the occurrence table feeds BOTH the first-occurrence
    # aggregation and the join probe; the r04 'accepted trade' re-ran
    # the scan+fingerprint subtree (the O(n*k) per-doc HOF folds — by
    # far the heaviest part of the query) once per consumer. A LAZY
    # lineage cut materializes it once per invocation instead
    # (same-window A/B at sf0.1/local[32]: 3.49 s -> 2.39 s; nothing
    # survives across runs — fresh RDD lineage every call).
    from llogtail_spark.operators.ckpt import checkpoint

    occ = checkpoint(occ, eager=False)
    firsts = occ.groupBy("wh1", "wh2").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("off").alias("p"))).alias("_first"),
    )
    rm = occ.join(firsts, ["wh1", "wh2"]).where(
        (F.col("cnt") > 1)
        & ~((F.col(id_col) == F.col("_first.i"))
            & (F.col("off") == F.col("_first.p")))
    ).select(id_col, "n_tok", "off", (F.col("off") + k).alias("end"))
    w_prev = (
        Window.partitionBy(id_col).orderBy("off")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col).orderBy("off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = rm.withColumn("prev_end", F.max("end").over(w_prev)).withColumn(
        "new_isl",
        F.when(
            F.col("prev_end").isNull() | (F.col("off") > F.col("prev_end")), 1
        ).otherwise(0),
    ).withColumn("isl", F.sum("new_isl").over(w_run))
    islands = flagged.groupBy(id_col, "isl").agg(
        F.first("n_tok").alias("n_tok"),
        F.min("off").alias("s"),
        F.max("end").alias("e"),
        F.count(F.lit(1)).alias("n_win"),
    )
    return islands.groupBy(id_col).agg(
        F.first("n_tok").cast("long").alias("n_tok"),
        F.sum("n_win").cast("long").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("dup_tok"),
    ).withColumn(
        "dup_bp",
        F.floor(F.col("dup_tok") * 10000 / F.col("n_tok")).cast("long"),
    )


def dup_token_spans_sql(k: int = DUP_WIN) -> str:
    """DuckDB twin of dup_token_spans: identical double fingerprint,
    first-occurrence exclusion, gaps-and-islands merge."""
    from llogtail_spark.functions.portable_hash import (
        BAND_MULT, MOD, MULT, char_fold_hash_sql, seed_mults,
    )

    a2, b2 = seed_mults(3)
    cf = char_fold_hash_sql("x")
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents WHERE doc_id IS NOT NULL),
        th AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
                   list_transform(t, x -> {cf}) AS th
            FROM toks WHERE len(t) >= {k}),
        th2 AS (
            SELECT doc_id, n_tok, th,
                   list_transform(th, x -> (x * {a2} + {b2}) % {MOD}) AS th2
            FROM th),
        occ AS (
            SELECT doc_id, n_tok,
                   CAST(i AS BIGINT) AS off,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                                            th[(i+1):(i+{k})]),
                               (a, x) -> (a * {BAND_MULT} + x) % {MOD}) AS wh1,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                                            th2[(i+1):(i+{k})]),
                               (a, x) -> (a * {MULT} + x) % {MOD}) AS wh2
            FROM th2, LATERAL (SELECT unnest(range(0, len(th) - {k} + 1)) AS i)),
        ranked AS (
            SELECT doc_id, n_tok, off,
                   count(*) OVER (PARTITION BY wh1, wh2) AS cnt,
                   row_number() OVER (PARTITION BY wh1, wh2
                                      ORDER BY doc_id, off) AS rn
            FROM occ),
        rm AS (
            SELECT doc_id, n_tok, off, off + {k} AS e
            FROM ranked WHERE cnt > 1 AND rn > 1),
        flagged AS (
            SELECT doc_id, n_tok, off, e,
                   CASE WHEN max(e) OVER (
                            PARTITION BY doc_id ORDER BY off
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                          OR off > max(e) OVER (
                            PARTITION BY doc_id ORDER BY off
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_isl
            FROM rm),
        isl AS (
            SELECT doc_id, n_tok, off, e,
                   sum(new_isl) OVER (
                       PARTITION BY doc_id ORDER BY off
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS isl
            FROM flagged),
        islands AS (
            SELECT doc_id, any_value(n_tok) AS n_tok,
                   min(off) AS s, max(e) AS e, count(*) AS n_win
            FROM isl GROUP BY doc_id, isl)
        SELECT doc_id,
               CAST(any_value(n_tok) AS BIGINT) AS n_tok,
               CAST(sum(n_win) AS BIGINT) AS n_dup_windows,
               CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(e - s) AS BIGINT) AS dup_tok,
               CAST(floor(sum(e - s) * 10000 / any_value(n_tok)) AS BIGINT)
                   AS dup_bp
        FROM islands GROUP BY doc_id
    """


DSIR_B = 1024        # hashed feature buckets
DSIR_SEED = 11       # hash family member for feature bucketing


def dsir_weights(df: DataFrame, target_pred, text_col: str = "text",
                 id_col: str = "doc_id", b: int = DSIR_B) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much its hashed-n-gram profile looks like a TARGET domain
    versus the raw corpus, so a pretraining mix can resample toward
    the domain without training a classifier.

    Features are unigrams + bigrams hashed into `b` buckets (the
    paper's hashed n-gram representation) on the portable family;
    the target (rows matching `target_pred`, a boolean Column) and
    the full corpus each yield a b-bucket count distribution with
    add-one smoothing, and

        dsir_x8(doc) = sum over the doc's feature occurrences of
            [elog8(c_target_bucket + 1) - elog8(c_corpus_bucket + 1)]
            - n_feats(doc) * [elog8(N_t + b) - elog8(N_q + b)]

    — the log-likelihood ratio log p_target/p_corpus in the exact-
    portable eighth-bit integer domain (the unigram_surprisal
    discipline: no libm anywhere, DuckDB reproduces every bit; the
    normalizer difference is a per-corpus CONSTANT folded in exactly
    rather than per-bucket, which keeps the big per-doc sum to one
    integer subtraction per feature).

    Output, one row per non-empty document:
      (id_col, n_feats:long, dsir_x8:long) — higher = more
    target-like; resampling = keep top-k by (dsir_x8, id), the
    priority_sample / token_budget machinery downstream.

    Scale shape (10^12 docs): BOTH bucket distributions are b-row
    combinable aggs off one feature explode (the corpus count agg and
    its target-filtered twin); the per-doc pass broadcast-joins the
    b-row table (b = 1024 rows, trivially broadcastable at any corpus
    size — the POINT of hashing the features) and collapses map-side
    on the id, exactly the surprisal shape: zero corpus-sized
    shuffles beyond the one per-doc result exchange.
    """
    from llogtail_spark.functions.portable_hash import (
        MOD, char_fold_hash, seeded_hash,
    )

    toks = df.select(
        F.col(id_col),
        target_pred.cast("boolean").alias("_is_t"),
        tokenize(text_col).alias("t"),
    ).where(F.size("t") > 0)
    th = toks.select(
        id_col, "_is_t",
        F.transform(F.col("t"), lambda x: char_fold_hash(x)).alias("th"),
    )
    # feature buckets: unigram hashes ++ bigram fold hashes
    uni = F.transform(F.col("th"), lambda h: F.pmod(seeded_hash(h, DSIR_SEED), F.lit(b)))
    big = F.when(
        F.size("th") >= 2,
        F.transform(
            F.slice(F.col("th"), 1, F.size("th") - 1),
            lambda h, i: F.pmod(
                seeded_hash(
                    (h * F.lit(8191)
                     + F.element_at(F.col("th"), i + 2)) % F.lit(MOD),
                    DSIR_SEED + 1,
                ),
                F.lit(b),
            ),
        ),
    ).otherwise(F.array())
    feats = th.select(
        id_col, "_is_t", F.explode(F.concat(uni, big)).alias("bkt")
    )
    # round 6: feats feeds BOTH the bucket-distribution agg and the
    # per-doc scoring join — without a cut the tokenize + char-fold +
    # feature-hash + explode subtree runs once per consumer. Lazy
    # lineage cut (ckpt.py): materialized once per invocation by the
    # first action, nothing survives across runs.
    from llogtail_spark.operators.ckpt import checkpoint

    feats = checkpoint(feats, eager=False)
    dist = feats.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("c_q"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("c_t"),
    )
    # the per-corpus normalizer constant rides a broadcast 1-row
    # aggregate (the repo's only sanctioned crossJoin shape) — no
    # driver collect, nothing eager at construction
    konst = dist.agg(
        (_elog8(F.sum("c_t") + b) - _elog8(F.sum("c_q") + b))
        .cast("long").alias("konst")
    )
    scored = (
        feats.join(F.broadcast(dist), "bkt")
        .crossJoin(F.broadcast(konst))
        .select(
            id_col,
            (_elog8(F.col("c_t") + 1) - _elog8(F.col("c_q") + 1))
            .alias("d"),
            "konst",
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_feats"),
        (F.sum("d") - F.count(F.lit(1)) * F.first("konst"))
        .cast("long").alias("dsir_x8"),
    )


def dsir_weights_sql(target_sql_pred: str, b: int = DSIR_B) -> str:
    """DuckDB twin of dsir_weights — identical feature hashing,
    smoothed bucket distributions, eighth-bit log-ratio."""
    from llogtail_spark.functions.portable_hash import (
        MOD, char_fold_hash_sql, seed_mults,
    )

    a1, b1 = seed_mults(DSIR_SEED)
    a2, b2 = seed_mults(DSIR_SEED + 1)
    cf = char_fold_hash_sql("x")
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(({target_sql_pred}) AS BOOLEAN) AS is_t,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        th AS (
            SELECT doc_id, is_t,
                   list_transform(t, x -> {cf}) AS th
            FROM toks WHERE len(t) > 0),
        feats AS (
            SELECT doc_id, is_t, unnest(
                list_concat(
                    list_transform(th, h -> (h * {a1} + {b1}) % {MOD} % {b}),
                    CASE WHEN len(th) >= 2 THEN
                        list_transform(range(1, len(th)),
                            i -> (((th[i] * 8191 + th[i + 1]) % {MOD})
                                  * {a2} + {b2}) % {MOD} % {b})
                    ELSE [] END)) AS bkt
            FROM th),
        dist AS (
            SELECT bkt, count(*) AS c_q,
                   sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
            FROM feats GROUP BY bkt),
        tot AS (
            SELECT sum(c_q) + {b} AS nqb, sum(c_t) + {b} AS ntb FROM dist),
        konst AS (
            SELECT CAST({_elog8_sql('ntb')} - {_elog8_sql('nqb')} AS BIGINT)
                       AS c
            FROM tot)
        SELECT f.doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum({_elog8_sql('d.c_t + 1')}
                        - {_elog8_sql('d.c_q + 1')})
                    - count(*) * any_value(k.c) AS BIGINT) AS dsir_x8
        FROM feats f JOIN dist d USING (bkt) CROSS JOIN konst k
        GROUP BY f.doc_id
    """


# ---------------------------------------------------------------------------
# Kneser-Ney bigram language model (integer absolute discounting)
# ---------------------------------------------------------------------------

KN_TOP = 50          # bigrams reported (by raw count)
KN_SCALE = 1_000_000  # x6 fixed point; pkn is x12 (term1 and lam*pc)


def kn_bigram_lm(df: DataFrame, text_col: str = "text",
                 top: int = KN_TOP) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1999) with ABSOLUTE DISCOUNT D = 1, in pure
    integer fixed point — the n-gram LM estimation step of a
    pretraining pipeline (perplexity filters, fuzzy decontamination,
    surprisal scoring all start from these counts).

        P_KN(w2 | w1) = max(c(w1 w2) - D, 0) / c(w1 .)
                        + [D * N1+(w1 .) / c(w1 .)] * P_cont(w2)
        P_cont(w2)    = N1+(. w2) / |distinct bigram types|

    Fixed point (deterministic in both engines, no libm):
        term1_x12 = floor((c2 - 1) * 10^12 / c1)
        lam_x6    = floor(nf1 * 10^6 / c1)
        pc_x6     = floor(ncont2 * 10^6 / nbig)
        pkn_x12   = term1_x12 + lam_x6 * pc_x6
    Headroom: (c2-1)*10^12 stays under 2^63 for c2 < 9.2e6; corpora
    with hotter bigrams drop to x9 scaling (three fewer digits).

    All four statistics (c2, c1 = sum_w2 c2, N1+(w1 .) = distinct
    followers, N1+(. w2) = distinct predecessors, nbig) derive from
    the ONE bigram-type table, which is lineage-cut (ckpt.checkpoint)
    — otherwise each derived agg would re-derive the tokenize+explode
    subtree (the fuzzy_join lesson). Every agg
    is map-side combinable; the final joins broadcast the `top`-row
    candidate set against the token-keyed aggregates, so nothing
    vocab-sized shuffles after the count stage. Output:
    (w1, w2, c2:long, pkn_x12:long), top rows by (c2 DESC, w1, w2).
    """
    from llogtail_spark.operators.ckpt import checkpoint

    toks = df.select(
        tokenize(text_col).alias("t"),
    ).where(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                lambda x, i: F.struct(
                    x.alias("w1"),
                    F.element_at(F.col("t"), i + 2).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c2 = checkpoint(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")),
        eager=False,
    )
    cand = (
        c2.orderBy(F.desc("c2"), F.asc("w1"), F.asc("w2"))
        .limit(top)
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("nf1")
    )
    ncont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    nbig = c2.agg(F.count(F.lit(1)).alias("nbig"))
    j = (
        F.broadcast(cand)
        .join(c1, "w1")
        .join(ncont, "w2")
        .crossJoin(F.broadcast(nbig))
    )
    term1 = F.floor((F.col("c2") - 1) * F.lit(KN_SCALE) * F.lit(KN_SCALE)
                    / F.col("c1"))
    lam = F.floor(F.col("nf1") * F.lit(KN_SCALE) / F.col("c1"))
    pc = F.floor(F.col("ncont") * F.lit(KN_SCALE) / F.col("nbig"))
    return (
        j.select(
            "w1", "w2", F.col("c2").cast("long").alias("c2"),
            (term1 + lam * pc).cast("long").alias("pkn_x12"),
        )
        .orderBy(F.desc("c2"), F.asc("w1"), F.asc("w2"))
    )


def kn_bigram_lm_sql(top: int = KN_TOP) -> str:
    """DuckDB twin of kn_bigram_lm — identical counts and fixed-point
    discount arithmetic."""
    s = KN_SCALE
    return f"""
        WITH toks AS (
            SELECT list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        pairs AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
            FROM toks WHERE len(t) >= 2),
        c2 AS (
            SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c2
            FROM pairs GROUP BY w1, w2),
        cand AS (
            SELECT * FROM c2 ORDER BY c2 DESC, w1, w2 LIMIT {top}),
        c1 AS (
            SELECT w1, sum(c2) AS c1, count(*) AS nf1 FROM c2 GROUP BY w1),
        ncont AS (
            SELECT w2, count(*) AS ncont FROM c2 GROUP BY w2),
        nbig AS (SELECT count(*) AS nbig FROM c2)
        SELECT cand.w1, cand.w2, CAST(cand.c2 AS BIGINT) AS c2,
               CAST(floor((cand.c2 - 1) * {s}::BIGINT * {s} / c1.c1)
                    + floor(nf1 * {s} / c1.c1)
                      * floor(ncont * {s} / nbig) AS BIGINT) AS pkn_x12
        FROM cand
        JOIN c1 USING (w1) JOIN ncont USING (w2) CROSS JOIN nbig
        ORDER BY c2 DESC, w1, w2
    """


# ---------------------------------------------------------------------------
# Bigram-LM document perplexity (the perplexity filter)
# ---------------------------------------------------------------------------

# _elog8 of the x12 fixed-point unit — the constant that converts
# elog8(pkn_x12) into elog8 of the actual probability (always <= 0).
ELOG8_X12 = 318  # _elog8(10^12): bits=40 -> 312 + floor(8e12/2^39) - 8


def doc_perplexity(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document negative log-likelihood under the corpus's OWN
    Kneser-Ney bigram LM — the classic perplexity quality filter
    (CCNet, Wenzek et al. 2020, scores documents with a small LM and
    drops the high-perplexity tail; the LM here is kn_bigram_lm's
    D=1 estimate trained on the corpus itself, so every document
    bigram exists in the model by construction and no backoff path
    is needed).

    nll of one bigram = elog8(10^12) - elog8(max(pkn_x12, 1)) —
    eighth-bits of -log2 P, >= 0, integer-exact in both engines (the
    max guards lam/pc fixed-point underflow to 0 at extreme counts).

    Output: (id_col, n_bi:long bigram instances, nll_e8:long total,
    avg_nll_e8:long = floor(nll/n_bi) — the perplexity score; filter
    = drop docs above a threshold).

    Shape: the bigram-type table (lineage-cut, ckpt.checkpoint)
    feeds both the LM statistics and the per-doc join; all joins are
    token-keyed and combinable; per-doc bigram multiplicities
    collapse BEFORE the LM join so the join carries bigram TYPES per
    doc, not instances. One per-doc result exchange at the end.
    """
    from llogtail_spark.operators.ckpt import checkpoint

    toks = df.select(
        F.col(id_col).alias("_id"),
        tokenize(text_col).alias("t"),
    ).where(F.size("t") >= 2)
    dpairs = toks.select(
        "_id",
        F.explode(
            F.transform(
                F.slice(F.col("t"), 1, F.size("t") - 1),
                lambda x, i: F.struct(
                    x.alias("w1"),
                    F.element_at(F.col("t"), i + 2).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("_id", "p.w1", "p.w2")
    # per-doc bigram-type multiplicities (collapse instances early).
    # round 6: dm feeds BOTH the LM-statistics branch (via c2) and
    # the per-doc scoring join — cut it like c2 so the tokenize +
    # bigram-explode + (_id, w1, w2) shuffle runs once, not once per
    # branch.
    dm = checkpoint(
        dpairs.groupBy("_id", "w1", "w2").agg(F.count(F.lit(1)).alias("m")),
        eager=False,
    )
    c2 = checkpoint(
        dm.groupBy("w1", "w2").agg(F.sum("m").alias("c2")), eager=False
    )
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("nf1")
    )
    ncont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("ncont"))
    nbig = c2.agg(F.count(F.lit(1)).alias("nbig"))
    lm = (
        c2.join(c1, "w1").join(ncont, "w2").crossJoin(F.broadcast(nbig))
        .select(
            "w1", "w2",
            F.greatest(
                F.floor((F.col("c2") - 1) * F.lit(KN_SCALE) * F.lit(KN_SCALE)
                        / F.col("c1"))
                + F.floor(F.col("nf1") * F.lit(KN_SCALE) / F.col("c1"))
                * F.floor(F.col("ncont") * F.lit(KN_SCALE) / F.col("nbig")),
                F.lit(1),
            ).alias("pkn"),
        )
    )
    nll1 = F.lit(ELOG8_X12) - _elog8(F.col("pkn"))
    scored = dm.join(lm, ["w1", "w2"]).groupBy("_id").agg(
        F.sum("m").cast("long").alias("n_bi"),
        F.sum(F.col("m") * nll1).cast("long").alias("nll_e8"),
    )
    return scored.select(
        F.col("_id").alias(id_col), "n_bi", "nll_e8",
        F.floor(F.col("nll_e8") / F.col("n_bi")).cast("long")
        .alias("avg_nll_e8"),
    )


def doc_perplexity_sql() -> str:
    """DuckDB twin of doc_perplexity — identical LM statistics,
    fixed-point floor order, and eighth-bit nll."""
    s = KN_SCALE
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        dpairs AS (
            SELECT doc_id, unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
            FROM toks WHERE len(t) >= 2),
        dm AS (
            SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS m
            FROM dpairs GROUP BY doc_id, w1, w2),
        c2 AS (
            SELECT w1, w2, sum(m) AS c2 FROM dm GROUP BY w1, w2),
        c1 AS (
            SELECT w1, sum(c2) AS c1, count(*) AS nf1 FROM c2 GROUP BY w1),
        ncont AS (SELECT w2, count(*) AS ncont FROM c2 GROUP BY w2),
        nbig AS (SELECT count(*) AS nbig FROM c2),
        lm AS (
            SELECT w1, w2,
                   greatest(
                       floor((c2.c2 - 1) * {s}::BIGINT * {s} / c1.c1)
                       + floor(nf1 * {s} / c1.c1)
                         * floor(ncont * {s} / nbig), 1) AS pkn
            FROM c2 JOIN c1 USING (w1) JOIN ncont USING (w2)
            CROSS JOIN nbig),
        scored AS (
            SELECT doc_id, sum(m) AS n_bi,
                   sum(m * ({ELOG8_X12} - ({_elog8_sql('pkn')}))) AS nll_e8
            FROM dm JOIN lm USING (w1, w2) GROUP BY doc_id)
        SELECT doc_id, CAST(n_bi AS BIGINT) AS n_bi,
               CAST(nll_e8 AS BIGINT) AS nll_e8,
               CAST(floor(nll_e8 / n_bi) AS BIGINT) AS avg_nll_e8
        FROM scored
    """


# ---------------------------------------------------------------------------
# Categorical mutual information (lang x source audit)
# ---------------------------------------------------------------------------


def categorical_mi(df: DataFrame, col_a: str = "lang",
                   col_b: str = "source") -> DataFrame:
    """Pointwise mutual information between two categorical columns
    in eighth-bits — the corpus-audit statistic that flags scrape
    artifacts (a language glued to one source, a source that is
    secretly one language): independent columns read pmi ~ 0
    everywhere; structure shows as large-|pmi| cells.

        pmi_e8(a, b) = elog8(n_ab) + elog8(N) - elog8(n_a) - elog8(n_b)
        contrib_e8   = n_ab * pmi_e8   (sums to N * MI over cells)

    Shape: ONE combinable (a, b) count; margins via dim-sized window
    sums over the cell table (cells = |A| x |B|, dim-sized by
    definition for categorical columns). All integer.

    Output: (col_a, col_b, n:long, pmi_e8:long, contrib_e8:long).
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    wa = W.partitionBy("a")
    wb = W.partitionBy("b")
    wall = W.partitionBy()
    m = cells.select(
        "a", "b", "n",
        F.sum("n").over(wa).alias("na"),
        F.sum("n").over(wb).alias("nb"),
        F.sum("n").over(wall).alias("nn"),
    )
    pmi = (_elog8(F.col("n")) + _elog8(F.col("nn"))
           - _elog8(F.col("na")) - _elog8(F.col("nb")))
    return m.select(
        F.col("a").alias(col_a), F.col("b").alias(col_b),
        F.col("n").cast("long").alias("n"),
        pmi.cast("long").alias("pmi_e8"),
        (F.col("n") * pmi).cast("long").alias("contrib_e8"),
    )


def categorical_mi_sql(col_a: str = "lang", col_b: str = "source",
                       table: str = "documents") -> str:
    """DuckDB twin of categorical_mi — identical counts and
    eighth-bit arithmetic."""
    pmi = (f"({_elog8_sql('n')}) + ({_elog8_sql('nn')})"
           f" - ({_elog8_sql('na')}) - ({_elog8_sql('nb')})")
    return f"""
        WITH cells AS (
            SELECT {col_a} AS a, {col_b} AS b, count(*) AS n
            FROM {table}
            WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
            GROUP BY a, b),
        m AS (
            SELECT a, b, n,
                   sum(n) OVER (PARTITION BY a) AS na,
                   sum(n) OVER (PARTITION BY b) AS nb,
                   sum(n) OVER () AS nn
            FROM cells)
        SELECT a AS {col_a}, b AS {col_b}, CAST(n AS BIGINT) AS n,
               CAST({pmi} AS BIGINT) AS pmi_e8,
               CAST(n * ({pmi}) AS BIGINT) AS contrib_e8
        FROM m
    """


# ---------------------------------------------------------------------------
# Pairwise source KL-divergence matrix
# ---------------------------------------------------------------------------

KL_VOCAB = 200   # restricted support: top-V global tokens


def source_kl_matrix(df: DataFrame, text_col: str = "text",
                     group_col: str = "source",
                     top_v: int = KL_VOCAB) -> DataFrame:
    """Pairwise Kullback-Leibler divergence between source unigram
    distributions over the shared top-`top_v` global vocabulary,
    add-one smoothed — the directional corpus-drift matrix
    (KL(P||Q) large means P uses vocabulary Q rarely does; the
    asymmetry is the point: a template farm diverges FROM the web
    far more than the web diverges from it).

        contrib_i = (c_p + 1) * [elog8((c_p+1) * (n_q+V))
                                 - elog8((c_q+1) * (n_p+V))]
        kl_num_e8 = sum_i contrib_i      (exact integers; the true
    KL in eighth-bits is kl_num_e8 / (n_p + V) — numerator and
    denominator ship separately so no engine ever divides, and the
    slight negativity quantization can introduce on near-identical
    distributions survives exactly in both engines).

    Shape: ONE combinable (source, token) count over the corpus,
    vocabulary restricted by a broadcast top-V semi-join
    (TakeOrderedAndProject — the global vocab is never sorted); the
    dense S x V grid (dim-sized by construction) is lineage-cut
    (ckpt.checkpoint) because both sides of the pair join derive
    from it; the pair stage is V*S^2 grid rows — for web-scale S,
    prefilter pairs (e.g. same-language only) before calling.

    Output: (src_a, src_b, n_a:long, kl_num_e8:long), one row per
    ORDERED pair a != b.
    """
    from llogtail_spark.operators.ckpt import checkpoint

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokenize(text_col)).alias("tok"),
    ).where(F.col("grp").isNotNull())
    cnt = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.groupBy("tok").agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok")).limit(top_v)
        .select("tok")
    )
    grid = checkpoint(
        cnt.select("grp").distinct()
        .crossJoin(F.broadcast(vocab))
        .join(cnt, ["grp", "tok"], "left")
        .select("grp", "tok", F.coalesce(F.col("c"), F.lit(0)).alias("c")),
        eager=False,
    )
    tot = grid.groupBy("grp").agg(F.sum("c").alias("n"))
    p, q = grid.alias("p"), grid.alias("q")
    pairs = p.join(
        F.broadcast(q),
        (F.col("p.tok") == F.col("q.tok"))
        & (F.col("p.grp") != F.col("q.grp")),
    ).select(
        F.col("p.grp").alias("ga"), F.col("q.grp").alias("gb"),
        F.col("p.c").alias("cp"), F.col("q.c").alias("cq"),
    )
    tp = tot.select(F.col("grp").alias("ga"), F.col("n").alias("na"))
    tq = tot.select(F.col("grp").alias("gb"), F.col("n").alias("nb"))
    j = pairs.join(F.broadcast(tp), "ga").join(F.broadcast(tq), "gb")
    contrib = (F.col("cp") + 1) * (
        _elog8((F.col("cp") + 1) * (F.col("nb") + top_v))
        - _elog8((F.col("cq") + 1) * (F.col("na") + top_v))
    )
    return j.groupBy("ga", "gb").agg(
        F.first(F.col("na") + top_v).cast("long").alias("n_a"),
        F.sum(contrib).cast("long").alias("kl_num_e8"),
    ).select(
        F.col("ga").alias("src_a"), F.col("gb").alias("src_b"),
        "n_a", "kl_num_e8",
    )


def source_kl_matrix_sql(text_col: str = "text",
                         group_col: str = "source",
                         top_v: int = KL_VOCAB,
                         table: str = "documents") -> str:
    """DuckDB twin of source_kl_matrix — identical counts, smoothing
    and eighth-bit arithmetic."""
    e_num = _elog8_sql(f"(cp + 1) * (nb + {top_v})")
    e_den = _elog8_sql(f"(cq + 1) * (na + {top_v})")
    return f"""
        WITH toks AS (
            SELECT {group_col} AS grp,
                   unnest(list_filter(
                       string_split_regex(lower(coalesce({text_col}, '')),
                                          '{WS_CLASS}'),
                       x -> x <> '')) AS tok
            FROM {table} WHERE {group_col} IS NOT NULL),
        cnt AS (
            SELECT grp, tok, count(*) AS c FROM toks GROUP BY grp, tok),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, sum(c) AS n FROM cnt GROUP BY tok
                ORDER BY n DESC, tok LIMIT {top_v})),
        grid AS (
            SELECT g.grp, v.tok, coalesce(c.c, 0) AS c
            FROM (SELECT DISTINCT grp FROM cnt) g
            CROSS JOIN vocab v
            LEFT JOIN cnt c ON c.grp = g.grp AND c.tok = v.tok),
        tot AS (SELECT grp, sum(c) AS n FROM grid GROUP BY grp),
        pairs AS (
            SELECT p.grp AS ga, q.grp AS gb, p.c AS cp, q.c AS cq
            FROM grid p JOIN grid q
              ON p.tok = q.tok AND p.grp <> q.grp),
        j AS (
            SELECT ga, gb, cp, cq, tp.n AS na, tq.n AS nb
            FROM pairs
            JOIN tot tp ON tp.grp = ga
            JOIN tot tq ON tq.grp = gb)
        SELECT ga AS src_a, gb AS src_b,
               CAST(any_value(na) + {top_v} AS BIGINT) AS n_a,
               CAST(sum((cp + 1) * (({e_num}) - ({e_den}))) AS BIGINT)
                   AS kl_num_e8
        FROM j GROUP BY ga, gb
    """
