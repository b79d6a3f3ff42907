"""Corpus-prep operators: boilerplate chunk stripping, token-budget
selection (histogram decomposition == direct greedy), deterministic
shard shuffle."""

import pandas as pd
from pyspark.sql import functions as F

from llogtail_spark.operators.corpus import (
    boilerplate_strip,
    corpus_shuffle_shards,
    token_budget_select,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_strip_crafted(spark):
    # chunk width is 4 tokens; "the same old footer" appears in 3 docs
    # (>= min_docs=3 -> stripped), "a rare shared line" in only 2
    # (kept). Doc 4 is pure boilerplate and must survive with ''.
    bp = "the same old footer"
    rare = "a rare shared line"
    rows = [
        (1, f"alpha beta gamma delta {bp} keep one two three"),
        (2, f"{bp} {rare} epsilon zeta eta theta"),
        (3, f"unique text here now {rare}"),
        (4, bp),
        (5, "totally original words only"),
    ]
    out = {
        r["doc_id"]: r
        for r in boilerplate_strip(_docs(spark, rows)).collect()
    }
    assert len(out) == 5
    assert out[4]["n_kept"] == 0 and out[4]["text_clean"] == ""
    assert out[1]["text_clean"] == "alpha beta gamma delta keep one two three"
    assert out[2]["text_clean"] == f"{rare} epsilon zeta eta theta"
    assert out[3]["text_clean"] == f"unique text here now {rare}"
    assert out[5]["n_kept"] == out[5]["n_chunks"]


def test_boilerplate_strip_preserves_chunk_order(spark):
    # surviving chunks must reassemble in original position order even
    # when the stripped chunk sits in the middle
    bp = "x x x x"
    rows = [
        (1, f"a1 a2 a3 a4 {bp} b1 b2 b3 b4"),
        (2, f"c1 c2 c3 c4 {bp} d1 d2 d3 d4"),
        (3, f"e1 e2 e3 e4 {bp} f1 f2 f3 f4"),
    ]
    out = boilerplate_strip(_docs(spark, rows)).collect()
    for r in out:
        assert "x" not in r["text_clean"]
        parts = r["text_clean"].split(" ")
        assert parts == sorted(parts)  # a1..a4 b1..b4 stay ordered


def test_token_budget_histogram_matches_direct_greedy(spark):
    # the scalable histogram+boundary decomposition must reproduce the
    # direct global greedy exactly, including the boundary class split
    rows = [
        (i, " ".join(f"w{j % (1 + i % 7)}" for j in range(5 + 3 * (i % 11))))
        for i in range(120)
    ]
    df = _docs(spark, rows)
    got = token_budget_select(df).toPandas()

    # direct greedy recompute on the same signals
    from llogtail_spark.functions.text import dup_fraction_x10000
    from llogtail_spark.operators.dedup import tokenize

    toks = tokenize("text")
    sig = df.select(
        "doc_id",
        (F.lit(10000) - dup_fraction_x10000(toks)).cast("long").alias("qscore"),
        F.size(toks).cast("long").alias("n_toks"),
    ).toPandas().sort_values(["qscore", "doc_id"], ascending=[False, True])
    budget = int(0.4 * sig.n_toks.sum())
    sig["cum"] = sig.n_toks.cumsum()
    want = sig[sig.cum <= budget][["doc_id", "qscore", "n_toks"]]

    got_s = got.sort_values("doc_id").reset_index(drop=True)
    want_s = want.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_s, want_s[got_s.columns], check_dtype=False
    )
    # the boundary class must actually split (some docs of the
    # boundary qscore kept, some dropped) or the test is vacuous
    boundary_scores = set(sig.qscore) - set(want.qscore)
    kept_scores = set(want.qscore)
    assert kept_scores, "budget kept nothing — fixture too small"
    assert len(want) < len(sig), "budget kept everything — fixture too big"


def test_corpus_shuffle_shards_deterministic_and_dense(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = corpus_shuffle_shards(df).toPandas()
    b = corpus_shuffle_shards(df.repartition(7)).toPandas()
    key = lambda p: p.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(key(a), key(b))  # layout-invariant
    assert set(a.shard.unique()) <= set(range(8))
    for s, grp in a.groupby("shard"):
        # positions are a dense 1..n ranking within each shard
        assert sorted(grp.pos) == list(range(1, len(grp) + 1))


def test_corpus_plans_stay_jvm_side(spark):
    docs = _docs(spark, [(i, f"t{i} u v w x y z a b c") for i in range(50)])
    for op in (boilerplate_strip, token_budget_select, corpus_shuffle_shards):
        plan = op(docs)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, op.__name__
        assert "ArrowEvalPython" not in plan, op.__name__
        assert "BatchEvalPython" not in plan, op.__name__


def test_token_budget_edge_fractions(spark):
    from llogtail_spark.operators import corpus

    rows = [(i, " ".join(f"v{j}" for j in range(10))) for i in range(20)]
    df = _docs(spark, rows)
    # fraction=1.0: budget == total -> every doc kept, no boundary
    assert corpus.token_budget_select(df, fraction=1.0).count() == 20
    # fraction=0: budget 0 -> nothing kept (every doc has 10 tokens)
    assert corpus.token_budget_select(df, fraction=0.0).count() == 0
    # all docs in ONE score class: boundary split inside it is exact
    # greedy by doc_id (budget = 0.35 * 200 = 70 tokens -> 7 docs)
    got = sorted(
        r["doc_id"]
        for r in corpus.token_budget_select(df, fraction=0.35).collect()
    )
    assert got == list(range(7))


def test_token_budget_zero_token_docs_sort_first(spark):
    from llogtail_spark.operators import corpus

    # empty docs score 10000 (no duplicate tokens) and cost nothing:
    # they must always be kept, matching the oracle's ORDER BY
    rows = [(1, ""), (2, "a a a a a a a a"), (3, "b c d e f g h i")]
    got = {
        r["doc_id"]: r
        for r in corpus.token_budget_select(
            _docs(spark, rows), fraction=0.5
        ).collect()
    }
    assert 1 in got and got[1]["n_toks"] == 0
    assert 3 in got  # unique tokens -> qscore 10000, 8 toks fit 8-budget
    assert 2 not in got  # heavily duplicated -> low score, over budget


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_vocab_coverage_crafted(spark):
    from llogtail_spark.operators.corpus import vocab_coverage

    # 10 tokens total: a x4, b x3, c x2, d x1
    rows = [(1, "a a b"), (2, "a b C"), (3, "A b c d"), (4, None), (5, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = vocab_coverage(docs, top_v=3).collect()
    assert [(r.rank, r.token, r.n, r.cum_n, r.cov_bp) for r in out] == [
        (1, "a", 4, 4, 4000),
        (2, "b", 3, 7, 7000),
        (3, "c", 2, 9, 9000),
    ]


def test_vocab_coverage_tiebreak_and_empty(spark):
    from llogtail_spark.operators.corpus import vocab_coverage

    # equal counts break ties by token asc; limit cuts inside the tie
    docs = spark.createDataFrame(
        [(1, "z y x w")], "doc_id long, text string"
    )
    out = vocab_coverage(docs, top_v=2).collect()
    assert [(r.rank, r.token) for r in out] == [(1, "w"), (2, "x")]
    # all-empty corpus: no rows, no divide-by-zero
    empty = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    assert vocab_coverage(empty).count() == 0


def test_vocab_coverage_plan_topk_then_tiny_window(spark):
    from llogtail_spark.operators.corpus import vocab_coverage

    docs = _src_docs(
        spark, [(i, f"s{i % 3}", "a b c d e f g h") for i in range(60)]
    ).drop("source")
    plan = vocab_coverage(docs)._jdf.queryExecution().executedPlan().toString()
    # distributed top-k, never a global sort of the vocabulary
    assert "TakeOrderedAndProject" in plan
    # rank + cumsum fuse into ONE window, fed by the post-limit
    # single partition (V rows), not a corpus-wide window
    assert plan.count("Window") == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_source_overlap_crafted(spark):
    from llogtail_spark.operators.corpus import source_overlap

    # chunk width 4: "common footer line here" shared by s1/s2/s3;
    # "pair only chunk text" shared by s1/s2 only; unique tails never
    # pair. Duplicate chunk within one source counts once.
    bp = "common footer line here"
    pr = "pair only chunk text"
    rows = [
        (1, "s1", f"{bp} {pr}"),
        (2, "s2", f"{bp} {pr}"),
        (3, "s3", f"{bp} solo tail words xx"),
        (4, "s1", bp),  # repeat within s1 — still one distinct chunk
        (5, "s4", "entirely unshared text body"),
    ]
    out = {
        (r.src_a, r.src_b): r.n_shared
        for r in source_overlap(_src_docs(spark, rows)).collect()
    }
    assert out == {
        ("s1", "s2"): 2,
        ("s1", "s3"): 1,
        ("s2", "s3"): 1,
    }


def test_source_overlap_plan_zero_joins(spark):
    from llogtail_spark.operators.corpus import source_overlap

    docs = _src_docs(
        spark,
        [(i, f"s{i % 4}", f"shared head chunk body tail{i} x y z") for i in range(80)],
    )
    plan = source_overlap(docs)._jdf.queryExecution().executedPlan().toString()
    # the contamination matrix is join-free: set fan-out, not self-join
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_context_chunks_windows_and_overlap(spark):
    """Hand-computed chunk grid: 80 tokens at window 32 / stride 24
    -> starts 0,24,48,72 with sizes 32,32,32,8; overlapping spans
    share tokens; empty docs vanish; chunk_fp keys identical content
    to identical fingerprints across docs."""
    from llogtail_spark.operators.corpus import context_chunks

    toks80 = " ".join("t%d" % i for i in range(80))
    df = spark.createDataFrame(
        [(1, toks80), (2, ""), (3, None), (4, "a b c"), (5, "a b c")],
        "doc_id long, text string",
    )
    out = context_chunks(df).collect()
    d1 = sorted([(r["tok_start"], r["n_tok"]) for r in out
                 if r["doc_id"] == 1])
    assert d1 == [(0, 32), (24, 32), (48, 32), (72, 8)]
    assert {r["doc_id"] for r in out} == {1, 4, 5}
    fp4 = [r["chunk_fp"] for r in out if r["doc_id"] == 4]
    fp5 = [r["chunk_fp"] for r in out if r["doc_id"] == 5]
    assert fp4 == fp5 and len(fp4) == 1


def test_context_chunks_plan_scan_only(spark):
    """The sample cutter must stay in the scan stage: no Exchange, no
    join, no Python eval anywhere in the executed plan."""
    from llogtail_spark.operators.corpus import context_chunks

    df = spark.range(0, 500).selectExpr(
        "id AS doc_id", "repeat('tok ', 100) AS text")
    plan = context_chunks(df)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_token_fertility_arithmetic(spark):
    """fert_x100 = floor(chars*100/tokens) on exact BIGINTs; zero-token
    languages yield NULL, never a division error (ANSI mode)."""
    from llogtail_spark.operators.corpus import token_fertility

    df = spark.createDataFrame(
        [(1, "abcd efgh", "en"), (2, "xy", "en"), (3, "   ", "zz")],
        "doc_id long, text string, lang string",
    )
    out = {r["lang"]: r.asDict() for r in token_fertility(df).collect()}
    # en: chars 9+2=11, tokens 2+1=3 -> floor(1100/3)=366
    assert out["en"]["char_total"] == 11
    assert out["en"]["tok_total"] == 3
    assert out["en"]["fert_x100"] == 366
    assert out["zz"]["tok_total"] == 0 and out["zz"]["fert_x100"] is None


def test_span_dedup_first_occurrence(spark):
    """Global first-occurrence semantics: a chunk repeated across
    docs survives only in the lowest (doc_id, pos); within-doc
    repeats collapse to the first pos; unique text is untouched."""
    from llogtail_spark.operators.corpus import span_dedup

    # CHUNK_TOKENS=4: each doc below is exactly whole chunks.
    dup = "w x y z"
    df = spark.createDataFrame(
        [
            (1, f"a b c d {dup}"),           # first owner of dup
            (2, f"{dup} e f g h"),           # cross-doc repeat -> drop
            (3, f"{dup} {dup}"),             # both repeats drop
            (4, "p q r s"),                  # untouched
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in span_dedup(df).collect()}
    assert out[1]["text_clean"] == f"a b c d {dup}"
    assert out[2]["text_clean"] == "e f g h"
    assert out[3]["text_clean"] == "" and out[3]["n_kept"] == 0
    assert out[4]["text_clean"] == "p q r s"
    assert out[3]["n_chunks"] == 2


def test_span_dedup_within_doc_repeat(spark):
    """A doc that repeats its own span keeps only the first copy —
    the Lee et al. memorization case."""
    from llogtail_spark.operators.corpus import span_dedup

    df = spark.createDataFrame(
        [(7, "m n o p m n o p m n o p")], "doc_id long, text string")
    out = span_dedup(df).collect()[0]
    assert out["text_clean"] == "m n o p"
    assert (out["n_chunks"], out["n_kept"]) == (3, 1)


def test_span_dedup_plan_shape(spark):
    """Combinable first-occurrence agg + equi-join only: no window
    over the chunk key, no nested-loop join, no Python eval."""
    from llogtail_spark.operators.corpus import span_dedup

    df = spark.range(0, 300).selectExpr(
        "id AS doc_id", "concat('a b c d tok', id) AS text")
    plan = span_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # min(struct) agg, not row_number
    assert "Python" not in plan


def test_length_quantiles_hand_values(spark):
    """Explicit quantile_disc semantics: for n=4 lengths {10,20,30,40},
    p25=10 (cum 1 >= ceil(1)), p50=20, p75=30, p95=p99=40; NULL
    lengths are excluded from both count and quantiles."""
    from llogtail_spark.operators.corpus import length_quantiles

    rows = [(i, "s1", L) for i, L in enumerate([10, 20, 30, 40])]
    rows += [(99, "s1", None), (100, "s2", 7)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r["source"]: r.asDict() for r in length_quantiles(df).collect()}
    assert out["s1"]["n_docs"] == 4
    assert (out["s1"]["p25"], out["s1"]["p50"], out["s1"]["p75"],
            out["s1"]["p95"], out["s1"]["p99"]) == (10, 20, 30, 40, 40)
    assert out["s2"]["n_docs"] == 1 and out["s2"]["p50"] == 7


def test_length_quantiles_plan_histogram_only(spark):
    """The cumulative window must run over the histogram, not per-doc
    rows: exactly two hash exchanges (histogram key, source), the
    final agg reuses the window partitioning; no Python, no sort of
    the raw docs (the only Sort is inside the source-partitioned
    window)."""
    from llogtail_spark.operators.corpus import length_quantiles

    df = spark.range(0, 5000).selectExpr(
        "id AS doc_id", "concat('s', id % 3) AS source",
        "(id % 17) * 10 AS n_chars")
    plan = length_quantiles(df)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Python" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_dedup_novelty_curve(spark):
    """Hand-built curve: batch 0 introduces chunks {A,B}, batch 1
    repeats A and adds C -> totals (2,2), news (2,1), novelty
    (10000, 5000), cum_distinct (2,3)."""
    from llogtail_spark.operators.corpus import dedup_novelty

    A, B, C = "a1 a2 a3 a4", "b1 b2 b3 b4", "c1 c2 c3 c4"
    df = spark.createDataFrame(
        [(0, f"{A} {B}"), (1, A), (50, f"{A} {C}"), (51, C)],
        "doc_id long, text string",
    )
    out = {r["batch"]: r.asDict()
           for r in dedup_novelty(df, batch_docs=50).collect()}
    assert out[0]["total_chunks"] == 2 and out[0]["new_chunks"] == 2
    assert out[0]["novelty_bp"] == 10000 and out[0]["cum_distinct"] == 2
    assert out[1]["total_chunks"] == 2 and out[1]["new_chunks"] == 1
    assert out[1]["novelty_bp"] == 5000 and out[1]["cum_distinct"] == 3


def test_dedup_novelty_plan_no_per_doc_window(spark):
    """The only single-partition window runs over the batch histogram
    (dim-sized); the heavy stages are combinable aggs — no Python, no
    nested-loop join."""
    from llogtail_spark.operators.corpus import dedup_novelty

    df = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "concat('t u v w x', id % 40) AS text")
    plan = dedup_novelty(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_oov_rate_hand_values(spark):
    """With top_v=2 the vocab is the two most frequent tokens
    (tiebreak: token ASC); rarer tokens count as OOV occurrences."""
    from llogtail_spark.operators.corpus import oov_rate

    df = spark.createDataFrame(
        [
            (1, "s1", "aa aa aa bb bb cc"),   # vocab {aa,bb}; cc OOV
            (2, "s2", "aa dd dd"),            # dd OOV x2
            (3, "s3", "aa bb"),               # fully covered
        ],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r.asDict()
           for r in oov_rate(df, top_v=2).collect()}
    assert out["s1"]["total_tokens"] == 6 and out["s1"]["oov_tokens"] == 1
    assert out["s1"]["oov_bp"] == 1666
    assert out["s2"]["oov_tokens"] == 2 and out["s2"]["oov_bp"] == 6666
    assert out["s3"]["oov_tokens"] == 0 and out["s3"]["oov_bp"] == 0


def test_oov_rate_plan_broadcast_vocab(spark):
    """The vocab side must be a TakeOrdered top-k feeding a broadcast
    join — no sort-merge shuffle of the histogram against the vocab,
    no Python."""
    from llogtail_spark.operators.corpus import oov_rate

    df = spark.range(0, 3000).selectExpr(
        "id AS doc_id", "concat('s', id % 4) AS source",
        "concat('tok', id % 50, ' tok', id % 7) AS text")
    plan = oov_rate(df)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan


def test_unigram_surprisal_hand_values(spark):
    """Crafted corpus: 'aa' x8, 'bb' x4, 'zz' x1 (OOV with top_v=2).
    T=13 -> elog8(13)=29; elog8(8)=24, elog8(4)=16, OOV=0. Per-token
    surprisal: aa=5/8 bit, bb=13/8 bit, zz=29/8 bit. Terciles over
    the 3-doc cb histogram split head/middle/tail one doc each."""
    from llogtail_spark.operators.corpus import unigram_surprisal

    df = spark.createDataFrame(
        [
            (1, "s", "aa aa aa aa aa aa aa aa"),  # 8 aa
            (2, "s", "bb bb bb bb"),              # 4 bb
            (3, "s", "zz"),                       # 1 zz (OOV)
        ],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in unigram_surprisal(df, top_v=2).collect()}
    # doc1: floor(100*8*5 / (8*8)) = 62 cb
    assert out[1]["surprisal_cb"] == 62 and out[1]["band"] == "head"
    # doc2: floor(100*4*13 / (8*4)) = 162 cb
    assert out[2]["surprisal_cb"] == 162 and out[2]["band"] == "middle"
    # doc3 (OOV): floor(100*1*29 / (8*1)) = 362 cb
    assert out[3]["surprisal_cb"] == 362 and out[3]["band"] == "tail"
    assert out[1]["n_tokens"] == 8


def test_unigram_surprisal_plan(spark):
    """Vocab is TakeOrdered top-V feeding broadcast joins; the corpus
    side never sort-merge shuffles on the token key; no Python; and
    the token histogram exchange is planned once for vocab + T
    (ReusedExchange) rather than re-aggregating the corpus."""
    from llogtail_spark.operators.corpus import unigram_surprisal

    df = spark.range(0, 3000).selectExpr(
        "id AS doc_id", "concat('s', id % 4) AS source",
        "concat('tok', id % 50, ' tok', id % 7, ' tok', id % 3) AS text")
    out = unigram_surprisal(df)
    out.collect()  # AQE: exchange reuse appears in the FINAL plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("ReusedExchange") >= 1, \
        "vocab and T must share the token-histogram exchange"


def test_oov_rate_plan_single_corpus_pass(spark):
    """The corpus is exploded into the (source, token) histogram ONCE:
    the top-V vocab branch must consume a ReusedExchange of that
    histogram (it is derived from hist, not from a second corpus
    explode), feed a TakeOrdered (never a global vocab sort), and join
    broadcast. Pins the fix for the double-corpus-pass defect."""
    from llogtail_spark.operators.corpus import oov_rate

    df = spark.range(0, 3000).selectExpr(
        "id AS doc_id", "concat('s', id % 4) AS source",
        "concat('tok', id % 50, ' tok', id % 7, ' tok', id % 3) AS text")
    out = oov_rate(df)
    out.collect()  # AQE: exchange reuse appears in the FINAL plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    assert plan.count("ReusedExchange") >= 1, \
        "vocab must reuse the (source, token) histogram exchange"


def test_bpe_merges_hand_values(spark):
    """Classic BPE pair statistic: every occurrence counts ("aaa"
    contributes "aa" twice), weighted by word frequency; 1-char words
    contribute nothing; ties break pair-ascending."""
    from llogtail_spark.operators.corpus import bpe_merges

    df = spark.createDataFrame(
        [(1, "aaa bb x"), (2, "aaa"), (3, None), (4, "")],
        "doc_id long, text string")
    out = {r["pair"]: r["n_pair"] for r in bpe_merges(df).collect()}
    # hist: aaa->2, bb->1, x->1; aaa yields aa twice per occurrence
    assert out == {"aa": 4, "bb": 1}


def test_bpe_merges_topk_tiebreak(spark):
    """Boundary ties resolve by pair ASC in both engines."""
    from llogtail_spark.operators.corpus import bpe_merges

    df = spark.createDataFrame(
        [(1, "zz yy xx ww")], "doc_id long, text string")
    got = [r["pair"] for r in bpe_merges(df, top_k=2).collect()]
    assert got == ["ww", "xx"]


def test_bpe_merges_plan_histogram_first(spark):
    """The pair explode runs over the word HISTOGRAM (post-agg,
    dim-sized), never over corpus rows: exactly two Generates (token
    explode feeding the hist agg, pair explode above it), a
    TakeOrdered top-k, no global Sort, no Python, no join."""
    from llogtail_spark.operators.corpus import bpe_merges

    df = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "concat('tok', id % 40, ' tok', id % 7) AS text")
    out = bpe_merges(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan
    assert "Join" not in plan
    # AQE's toString appends the initial plan below the final one —
    # count Generates in the executed (final) section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate explode") == 2, plan


def test_corpus_profile_hand_values(spark):
    """Rollup levels (leaf, per-source subtotal, grand total) with
    exact integer x100/bp arithmetic; NULL text counts 0 tokens."""
    from llogtail_spark.operators.corpus import corpus_profile

    df = spark.createDataFrame(
        [(1, "a b c", "s1", "en"),
         (2, "w x y z w x y z w x", "s1", "de"),
         (3, None, "s2", "en")],
        "doc_id long, text string, source string, lang string")
    got = {(r["source"], r["lang"]): (r["n_docs"], r["n_tokens"],
                                      r["avg_tok_x100"], r["short_bp"])
           for r in corpus_profile(df).collect()}
    assert got[("s1", "en")] == (1, 3, 300, 10000)
    assert got[("s1", "de")] == (1, 10, 1000, 0)
    assert got[("s1", "ALL")] == (2, 13, 650, 5000)
    assert got[("s2", "ALL")] == (1, 0, 0, 10000)
    assert got[("ALL", "ALL")] == (3, 13, 433, 6666)
    assert len(got) == 6  # 3 leaves + 2 source subtotals + grand total


def test_corpus_profile_plan_one_pass(spark):
    """One corpus scan, no explode (token counts are per-row size()),
    one shuffle: the rollup Expand runs before the partial agg so only
    partial rows reach the exchange. No Python."""
    from llogtail_spark.operators.corpus import corpus_profile

    df = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "concat('s', id % 3) AS source",
        "concat('l', id % 2) AS lang",
        "concat('tok', id % 40, ' tok', id % 7) AS text")
    out = corpus_profile(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Generate" not in final
    assert "Python" not in final
    assert "Expand" in final
    assert final.count("Exchange hashpartitioning") == 1, plan


def test_bm25_topk_hand_values(spark):
    """N=2, T=5, df=1 worked by hand: idf8 = elog8(3) - elog8(1)
    = 12; doc 1 (tf=1, dl=3): floor(100*12*22*5*1 /
    (8*(10*5*1 + 3*5 + 9*3*2))) = 132000 // 952 = 138; doc 2 scores
    0 (no phrase hit)."""
    from llogtail_spark.operators.corpus import bm25_topk

    df = spark.createDataFrame(
        [(1, "a b x"), (2, "x y")], "doc_id long, text string")
    got = [(r["doc_id"], r["score_x100"])
           for r in bm25_topk(df, phrases=("a b",), k=5).collect()]
    assert got == [(1, 138), (2, 0)]


def test_bm25_topk_empty_corpus_guard(spark):
    """All-empty text: T=0 must not divide by zero (ANSI) — every
    score is 0."""
    from llogtail_spark.operators.corpus import bm25_topk

    df = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string")
    got = [(r["doc_id"], r["score_x100"])
           for r in bm25_topk(df, phrases=("a b",), k=5).collect()]
    assert got == [(1, 0), (2, 0)]


def test_bm25_topk_plan_single_fold(spark):
    """The score pass evaluates the token fold exactly once per row
    (finish computes the whole scalar — the char_diversity single-fold
    discipline); stats attach as a 1-row broadcast; top-k is a
    TakeOrdered; no Python anywhere."""
    from llogtail_spark.operators.corpus import bm25_topk

    df = spark.range(0, 500).selectExpr(
        "id AS doc_id",
        "concat('tok', id % 9, ' tok', id % 4, ' tok', id % 3) AS text")
    out = bm25_topk(df, phrases=("tok1 tok1", "tok2 tok2"), k=10)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("aggregate(filter(split") == 1, plan
    assert "TakeOrderedAndProject" in final
    assert "Python" not in final
    assert "SortMergeJoin" not in final


def test_corpus_diff_hand_values(spark):
    """Four-way classification: present-only-in-new = added,
    only-in-old = removed, fingerprint equal = unchanged, else
    changed. NULL text hashes as ''."""
    from llogtail_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "s", "same"), (2, "s", "before"), (3, "s", "gone"),
         (5, "s", None)],
        "doc_id long, source string, text string")
    new = spark.createDataFrame(
        [(1, "s", "same"), (2, "s", "after"), (4, "s", "fresh"),
         (5, "s", None)],
        "doc_id long, source string, text string")
    out = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "unchanged"}


def test_corpus_diff_plan_digest_only_exchange(spark):
    """The FULL OUTER join must be a sort-merge on the id with only
    (id, source, fingerprint) crossing the exchanges — no document
    body column in the exchange output, no Python, no nested loop."""
    from llogtail_spark.operators.corpus import corpus_diff

    df = spark.range(0, 5000).selectExpr(
        "id AS doc_id", "'s' AS source",
        "repeat('body ', 20) AS text")
    out = corpus_diff(df.filter("doc_id % 2 = 0"),
                      df.filter("doc_id % 3 = 0"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # the join keys/buffers must be digests, not text: no reference
    # to the text column survives above the scan's md5 projection
    import re
    exchanges = re.findall(r"Exchange hashpartitioning\([^\n]*", plan)
    assert exchanges and all("text" not in e for e in exchanges)


def test_corpus_diff_bucketed_is_exchange_free(spark, tmp_path):
    """The production claim in corpus_diff's docstring: two snapshots
    bucketed by doc_id at write time make the FULL OUTER diff a
    zero-Exchange co-located sort-merge."""
    from llogtail_spark.operators.corpus import corpus_diff
    from llogtail_spark.sources.reader import write_bucketed

    docs = spark.range(0, 4000).selectExpr(
        "id AS doc_id", "'s' AS source", "concat('body ', id) AS text")
    write_bucketed(docs.filter("doc_id % 2 = 0"), "t_snap_old",
                   "doc_id", 4, path=str(tmp_path / "o"))
    write_bucketed(docs.filter("doc_id % 3 = 0"), "t_snap_new",
                   "doc_id", 4, path=str(tmp_path / "n"))
    try:
        out = corpus_diff(spark.table("t_snap_old").hint("merge"),
                          spark.table("t_snap_new"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "FullOuter" in plan
        assert "Exchange" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_snap_old")
        spark.sql("DROP TABLE IF EXISTS t_snap_new")


def test_source_entropy_hand_values(spark):
    """Uniform 4-token source: H = 2 bits exactly (all logs hit
    powers of two -> the eighth-bit approximation is exact = 16).
    Constant source: H = 0. Skewed source is strictly between."""
    from llogtail_spark.operators.corpus import source_entropy

    rows = [
        (1, "a b c d a b c d", "uniform"),
        (2, "x x x x x x x x", "constant"),
        (3, "p p p p p p q r", "skewed"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in source_entropy(df).collect()}
    assert out["uniform"]["entropy_x8"] == 16  # 2.0 bits exact
    assert out["uniform"]["n_tokens"] == 8
    assert out["uniform"]["n_distinct"] == 4
    assert out["constant"]["entropy_x8"] == 0
    assert 0 < out["skewed"]["entropy_x8"] < 16


def test_source_entropy_no_window_no_python(spark):
    from llogtail_spark.operators.corpus import source_entropy

    rows = [(i, "w%d tok" % (i % 5), "s") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    plan = source_entropy(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan


def test_token_pmi_ranks_collocations(spark):
    """'new york' always co-occurs (perfect association) and must
    out-rank 'the of', which co-occurs only as often as independence
    predicts; a pair below min_count never appears."""
    from llogtail_spark.operators.corpus import token_pmi

    rows = []
    for i in range(10):
        rows.append((i, "new york " + "the of the of the the of of", "s"))
    rows.append((100, "rare pair", "s"))  # n_ab=1 < min_count=5
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = token_pmi(df).collect()
    ranked = [(r["tok_a"], r["tok_b"]) for r in out]
    assert ("new", "york") in ranked
    assert ("rare", "pair") not in ranked
    pmi = {(r["tok_a"], r["tok_b"]): r["pmi_x8"] for r in out}
    assert pmi[("new", "york")] > pmi.get(("the", "of"), -10**9)
    ny = [r for r in out if (r["tok_a"], r["tok_b"]) == ("new", "york")][0]
    assert ny["n_ab"] == 10


def test_token_pmi_takeordered_no_global_sort(spark):
    from llogtail_spark.operators.corpus import token_pmi

    rows = [(i, "a b c d e f g h", "s") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    plan = token_pmi(df)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_tfidf_topterms_downweights_ubiquitous(spark):
    """'common' appears in every doc (idf ~0 -> drops out of the
    top); each source's marker token dominates its top terms."""
    from llogtail_spark.operators.corpus import tfidf_topterms

    rows = []
    for i in range(8):
        rows.append((i, "common alpha alpha alpha filler%d" % i, "A"))
    for i in range(8, 16):
        rows.append((i, "common beta beta beta filler%d" % i, "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {}
    for r in tfidf_topterms(df).collect():
        out.setdefault(r["source"], []).append(r)
    assert out["A"][0]["term"] == "alpha" and out["A"][0]["n"] == 24
    assert out["B"][0]["term"] == "beta"
    for src in out:
        terms = [r["term"] for r in out[src]]
        # 'common' has df = N_docs -> idf_x8 = 0 -> score 0; the
        # per-doc unique fillers (score > 0) outrank it
        assert "common" not in terms[:4], terms


def test_tfidf_rank_limit_below_exchange(spark):
    from llogtail_spark.operators.corpus import tfidf_topterms

    rows = [(i, "w%d x y z" % (i % 7), "s%d" % (i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    plan = tfidf_topterms(df)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Python" not in plan


def test_log_templates_hand_values(spark):
    """5 lines of 'error at <ip> code <n>' shape: constant positions
    survive, variable positions become <*>; a 2-line group is below
    min_lines and emits nothing."""
    from llogtail_spark.operators.corpus import log_templates

    rows = []
    for i in range(5):
        rows.append((i, f"error at host{i} code {i * 7}", "app"))
    rows += [(10, "tiny group", "app"), (11, "tiny group", "app")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = log_templates(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["template"] == "error at <*> code <*>"
    assert r["n_lines"] == 5 and r["n_tok"] == 5


def test_log_templates_majority_and_ties(spark):
    """9 of 10 lines agree on position 2 -> constant (>= 90%); a
    50/50 position wildcards; modal ties break lexicographically
    (both engines)."""
    from llogtail_spark.operators.corpus import log_templates

    rows = []
    for i in range(10):
        third = "ok" if i < 9 else "fail"
        half = "left" if i % 2 == 0 else "right"
        rows.append((i, f"status {third} {half}", "s"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = log_templates(df).collect()[0]
    assert r["template"] == "status ok <*>"


# ------------------------------------------------------ seq_packing


def _py_packing(rows, seq_len, nshards):
    """Pure-Python replication of concat-and-chunk packing."""
    import hashlib

    placed = []
    for doc_id, _, text in rows:
        n_tok = len([t for t in (text or "").lower().split() if t])
        if n_tok == 0:
            continue
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        placed.append((h % nshards, h, doc_id, n_tok))
    out = {}
    for shard in sorted({p[0] for p in placed}):
        off = 0
        for _, h, doc_id, n_tok in sorted(
            [p for p in placed if p[0] == shard], key=lambda p: (p[1], p[2])
        ):
            bf, bl = off // seq_len, (off + n_tok - 1) // seq_len
            out[doc_id] = (shard, n_tok, off, bf, bl, int(bl > bf))
            off += n_tok
    return out


def test_seq_packing_matches_python_reference(spark):
    from llogtail_spark.operators.corpus import seq_packing

    rows = [(i, "s", " ".join(f"w{j}" for j in range(5 + 7 * (i % 9))))
            for i in range(40)] + [(99, "s", "")]  # empty doc drops
    got = {
        r["doc_id"]: (r["shard"], r["n_tok"], r["tok_start"],
                      r["bin_first"], r["bin_last"], r["crosses"])
        for r in seq_packing(_src_docs(spark, rows),
                             seq_len=16, nshards=4).collect()
    }
    assert got == _py_packing(rows, 16, 4)
    assert 99 not in got


def test_seq_packing_offsets_are_contiguous(spark):
    # within every shard the token stream has no gaps or overlaps -
    # the exact property a packed-file writer needs.
    from llogtail_spark.operators.corpus import seq_packing

    rows = [(i, "s", " ".join(["x"] * (1 + i % 30))) for i in range(200)]
    out = seq_packing(_src_docs(spark, rows), seq_len=32).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for docs in by_shard.values():
        docs.sort(key=lambda r: r["tok_start"])
        off = 0
        for r in docs:
            assert r["tok_start"] == off
            assert r["bin_first"] == off // 32
            assert r["bin_last"] == (off + r["n_tok"] - 1) // 32
            assert r["crosses"] == int(r["bin_last"] > r["bin_first"])
            off += r["n_tok"]


def test_seq_packing_layout_invariance_and_plan(spark):
    from llogtail_spark.operators.corpus import seq_packing

    rows = [(i, "s", " ".join(["x"] * (1 + i % 30))) for i in range(120)]
    df = _src_docs(spark, rows)
    a = sorted(map(tuple, seq_packing(df.repartition(1)).collect()))
    b = sorted(map(tuple, seq_packing(df.repartition(16, "text")).collect()))
    assert a == b
    plan = seq_packing(df)._jdf.queryExecution().executedPlan().toString()
    # per-shard cumsum window, never a global one
    assert "Exchange SinglePartition" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# -------------------------------------------------- dup_token_spans


def _py_dup_spans(rows, k):
    """Semantic reference for ExactSubstr spans: REAL token-tuple
    windows (no hashing), first occurrence by (doc_id, off), merged
    removable intervals."""
    toks = {d: [t for t in (tx or "").lower().split() if t]
            for d, _, tx in rows}
    occ = []
    for d in sorted(toks):
        t = toks[d]
        for off in range(len(t) - k + 1):
            occ.append((tuple(t[off:off + k]), d, off))
    from collections import Counter
    cnt = Counter(w for w, _, _ in occ)
    first = {}
    for w, d, off in sorted(occ, key=lambda o: (o[1], o[2])):
        first.setdefault(w, (d, off))
    out = {}
    for d in sorted(toks):
        ivs = [(off, off + k) for w, dd, off in occ
               if dd == d and cnt[w] > 1 and first[w] != (d, off)]
        if not ivs:
            continue
        ivs.sort()
        merged = [list(ivs[0])]
        for s, e in ivs[1:]:
            if s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        out[d] = (len(toks[d]), len(ivs), len(merged),
                  sum(e - s for s, e in merged),
                  sum(e - s for s, e in merged) * 10000 // len(toks[d]))
    return out


def test_dup_token_spans_matches_semantic_reference(spark):
    from llogtail_spark.operators.corpus import dup_token_spans

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "s", base + " unique tail one two three"),
        (2, "s", "prefix words here " + base),          # shares a long span
        (3, "s", "completely different tokens q w e r t y u i o p"),
        (4, "s", base),                                  # full duplicate
        (5, "s", "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),  # self-rep
        (6, "s", "short doc"),                           # < k tokens: skipped
    ]
    got = {
        r["doc_id"]: (r["n_tok"], r["n_dup_windows"], r["n_intervals"],
                      r["dup_tok"], r["dup_bp"])
        for r in dup_token_spans(_src_docs(spark, rows), k=8).collect()
    }
    assert got == _py_dup_spans(rows, 8)
    assert 1 not in got          # doc 1 owns every first occurrence
    assert 4 in got and got[4][3] == got[4][0]  # fully covered


def test_dup_token_spans_interval_merge_overlap(spark):
    # two removable windows overlapping by k-1 tokens must merge into
    # ONE interval covering their union.
    from llogtail_spark.operators.corpus import dup_token_spans

    span = "a b c d e f g h i"           # 9 tokens -> two 8-windows
    rows = [(1, "s", span + " z1 z2"), (2, "s", "y1 y2 " + span)]
    got = {r["doc_id"]: r for r in
           dup_token_spans(_src_docs(spark, rows), k=8).collect()}
    assert list(got) == [2]
    assert got[2]["n_dup_windows"] == 2
    assert got[2]["n_intervals"] == 1
    assert got[2]["dup_tok"] == 9


def test_dup_token_spans_clean_corpus_and_layout(spark):
    from llogtail_spark.operators.corpus import dup_token_spans

    clean = [(i, "s", " ".join(f"d{i}_{j}" for j in range(12)))
             for i in range(20)]
    df = _src_docs(spark, clean)
    assert dup_token_spans(df, k=8).count() == 0
    dup = clean + [(100, "s", clean[0][2] + " extra tokens here")]
    df2 = _src_docs(spark, dup)
    a = sorted(map(tuple, dup_token_spans(df2.repartition(1), k=8).collect()))
    b = sorted(map(tuple,
                   dup_token_spans(df2.repartition(16, "text"), k=8).collect()))
    assert a == b and len(a) == 1


def test_dup_token_spans_plan_shape(spark):
    # fingerprints in the scan stage (no Python), combinable firsts
    # agg (partial_count + partial_min visible), per-doc windows only.
    from llogtail_spark.operators.corpus import dup_token_spans

    rows = [(i, "s", " ".join(f"w{j}" for j in range(20))) for i in range(10)]
    plan = dup_token_spans(_src_docs(spark, rows))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


# --------------------------------------------------- dsir_weights


def _py_dsir(rows, target_srcs, b=1024):
    """Pure-Python replication of dsir_weights (hash family, hashed
    uni+bigram features, smoothed eighth-bit log-ratio)."""
    from llogtail_spark.functions.portable_hash import MOD, MULT, seed_mults
    from llogtail_spark.operators.corpus import DSIR_SEED

    def elog8(x):
        bits = x.bit_length()
        return (bits - 1) * 8 + (x * 8) // (1 << (bits - 1)) - 8

    def cf(tok):
        h = 0
        for c in tok:
            h = (h * MULT + ord(c)) % MOD
        return h

    a1, b1 = seed_mults(DSIR_SEED)
    a2, b2 = seed_mults(DSIR_SEED + 1)
    per_doc, dist = {}, {}
    for did, src, text in rows:
        toks = [t for t in (text or "").lower().split() if t]
        if not toks:
            continue
        th = [cf(t) for t in toks]
        feats = [(h * a1 + b1) % MOD % b for h in th]
        feats += [(((th[i] * 8191 + th[i + 1]) % MOD) * a2 + b2) % MOD % b
                  for i in range(len(th) - 1)]
        per_doc[did] = feats
        for f in feats:
            cq, ct = dist.get(f, (0, 0))
            dist[f] = (cq + 1, ct + (1 if src in target_srcs else 0))
    n_q = sum(c for c, _ in dist.values())
    n_t = sum(t for _, t in dist.values())
    konst = elog8(n_t + b) - elog8(n_q + b)
    out = {}
    for did, feats in per_doc.items():
        s = sum(elog8(dist[f][1] + 1) - elog8(dist[f][0] + 1)
                for f in feats)
        out[did] = (len(feats), s - len(feats) * konst)
    return out


def test_dsir_matches_python_reference(spark):
    from llogtail_spark.operators.corpus import dsir_weights

    rows = [
        (1, "med", "patient dosage clinical trial outcome measure"),
        (2, "med", "clinical patient symptom dosage protocol"),
        (3, "web", "click here buy now free shipping deal"),
        (4, "web", "subscribe newsletter unsubscribe link footer"),
        (5, "web", "patient clinical mixed with free shipping"),
        (6, "web", ""),
    ]
    got = {
        r["doc_id"]: (r["n_feats"], r["dsir_x8"])
        for r in dsir_weights(
            _src_docs(spark, rows), F.col("source") == "med"
        ).collect()
    }
    assert got == _py_dsir(rows, {"med"})
    assert 6 not in got


def test_dsir_separates_domains(spark):
    # every pure-target-vocabulary doc must outscore every off-domain
    # doc; a half-mixed doc lands strictly between.
    from llogtail_spark.operators.corpus import dsir_weights

    med = "dose trial organ tissue enzyme receptor antibody protein"
    web = "click banner advert popup tracker cookie paywall spam"
    rows = (
        [(i, "med", med) for i in range(4)]
        + [(10 + i, "web", web) for i in range(4)]
        + [(20, "web", "dose trial organ tissue tracker cookie paywall spam")]
    )
    got = {r["doc_id"]: r["dsir_x8"]
           for r in dsir_weights(
               _src_docs(spark, rows), F.col("source") == "med"
           ).collect()}
    worst_med = min(got[i] for i in range(4))
    best_web = max(got[10 + i] for i in range(4))
    assert worst_med > got[20] > best_web


def test_dsir_plan_broadcast_only_no_python(spark):
    from llogtail_spark.operators.corpus import dsir_weights

    rows = [(i, f"s{i % 2}", "alpha beta gamma delta") for i in range(10)]
    plan = dsir_weights(
        _src_docs(spark, rows), F.col("source") == "s0"
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the b-row distribution joins by broadcast; the only nested-loop
    # is the 1-row normalizer constant
    assert plan.count("BroadcastHashJoin") == 1
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# kn_bigram_lm
# ---------------------------------------------------------------------------


def test_kn_bigram_lm_matches_bruteforce(spark):
    """The operator's fixed-point KN probabilities must equal a pure-
    Python recompute (same D=1 discount, same floor order) on a
    random corpus."""
    import random

    from llogtail_spark.operators.corpus import KN_SCALE, kn_bigram_lm

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, "s", " ".join(rng.choice(vocab) for _ in range(30)))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    got = {(r["w1"], r["w2"]): (r["c2"], r["pkn_x12"])
           for r in kn_bigram_lm(df, top=1000).collect()}

    c2, c1, nf, nc = {}, {}, {}, {}
    for _, _, text in docs:
        t = text.split()
        for a, b in zip(t, t[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    for (a, b), c in c2.items():
        c1[a] = c1.get(a, 0) + c
    for (a, b) in c2:
        nf[a] = nf.get(a, 0) + 1
        nc[b] = nc.get(b, 0) + 1
    nbig = len(c2)
    for (a, b), c in c2.items():
        want = ((c - 1) * KN_SCALE * KN_SCALE // c1[a]
                + (nf[a] * KN_SCALE // c1[a]) * (nc[b] * KN_SCALE // nbig))
        assert got[(a, b)] == (c, want), (a, b)
    assert len(got) == len(c2)


def test_kn_bigram_lm_probabilities_sum_below_one(spark):
    """For every context w1 the discounted mass plus the full
    continuation share must keep sum_w2 P(w2|w1) <= 1 (+ rounding):
    checked by summing the x12 fixed-point values per context."""
    from llogtail_spark.operators.corpus import KN_SCALE, kn_bigram_lm

    docs = [(1, "s", "a b a c a b b c a a"),
            (2, "s", "b a c c b a b a c b")]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    rows = kn_bigram_lm(df, top=1000).collect()
    per_ctx = {}
    for r in rows:
        per_ctx[r["w1"]] = per_ctx.get(r["w1"], 0) + r["pkn_x12"]
    for w1, s in per_ctx.items():
        # observed bigrams only; lambda mass spread over unseen
        # followers is excluded, so the sum must be strictly <= 1
        assert s <= KN_SCALE * KN_SCALE, (w1, s)
        assert s > 0


# ---------------------------------------------------------------------------
# doc_perplexity / categorical_mi
# ---------------------------------------------------------------------------


def test_doc_perplexity_template_scores_lower(spark):
    """A document made of the corpus's dominant repeated bigram must
    score LOWER avg nll (more predictable) than a document of rare
    bigrams; identical documents score identically."""
    from llogtail_spark.operators.corpus import doc_perplexity

    common = "a b " * 30                       # bigram (a,b) dominates
    rare = " ".join(f"r{i}" for i in range(40))
    docs = [(1, "s", common), (2, "s", common), (3, "s", rare)]
    # pad the corpus so the LM has mass beyond the probe docs
    docs += [(10 + i, "s", "a b c d e f g h") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in doc_perplexity(df).collect()}
    assert out[1]["avg_nll_e8"] == out[2]["avg_nll_e8"]
    assert out[1]["avg_nll_e8"] < out[3]["avg_nll_e8"]
    # n_bi = token count - 1 per doc
    assert out[3]["n_bi"] == 39
    assert out[1]["nll_e8"] >= 0


def test_doc_perplexity_every_doc_covered(spark):
    """Self-trained LM: every document with >= 2 tokens gets a row
    (no bigram can be missing from its own training set)."""
    from llogtail_spark.operators.corpus import doc_perplexity

    docs = [(i, "s", " ".join(f"w{(i * 3 + j) % 17}" for j in range(10)))
            for i in range(30)]
    docs.append((99, "s", "solo"))          # 1 token -> dropped
    docs.append((100, "s", None))           # NULL -> dropped
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    got = {r["doc_id"] for r in doc_perplexity(df).collect()}
    assert got == set(range(30))


def test_categorical_mi_independence_and_structure(spark):
    """Independent columns read pmi ~ 0 (within elog8 quantization);
    a perfectly coupled column pair reads strongly positive diagonal
    pmi and negative off-diagonal (none present here: coupled cells
    only exist on the diagonal)."""
    from llogtail_spark.operators.corpus import categorical_mi

    # independent: every (a, b) combination equally often
    ind = [(f"l{i % 4}", f"s{j % 5}") for i in range(4) for j in range(5)
           for _ in range(10)]
    df = spark.createDataFrame(ind, "lang string, source string")
    rows = categorical_mi(df).collect()
    assert len(rows) == 20
    for r in rows:
        assert abs(r["pmi_e8"]) <= 6, r    # quantization-only noise

    # coupled: lang == source
    cpl = [(f"x{i % 4}", f"x{i % 4}") for i in range(400)]
    df2 = spark.createDataFrame(cpl, "lang string, source string")
    rows2 = categorical_mi(df2).collect()
    assert len(rows2) == 4
    for r in rows2:
        # pmi = log2(4) = 2 bits = 16 eighth-bits per cell
        assert 14 <= r["pmi_e8"] <= 18, r


def test_source_kl_matrix_identical_and_divergent(spark):
    """Identical distributions read ~0 (quantization only, bounded by
    ~1 eighth-bit per normalized unit); a source with disjoint
    vocabulary reads strongly positive KL in both directions, and
    KL is asymmetric between a narrow and a broad source."""
    from llogtail_spark.operators.corpus import source_kl_matrix

    same = "alpha beta gamma delta " * 20
    rows = [(1, "a", same), (2, "b", same),
            (3, "c", "zeta eta theta iota " * 20),
            (4, "d", "alpha " * 75 + "beta gamma delta " * 2)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r["src_a"], r["src_b"]): r
           for r in source_kl_matrix(df).collect()}
    ab = out[("a", "b")]
    # identical: |kl| <= ~2 eighth-bits per unit mass
    assert abs(ab["kl_num_e8"]) <= 2 * ab["n_a"], ab
    # disjoint vocab: strongly positive both ways (>= 1 bit = 8 e8/unit)
    assert out[("a", "c")]["kl_num_e8"] > 8 * out[("a", "c")]["n_a"]
    assert out[("c", "a")]["kl_num_e8"] > 8 * out[("c", "a")]["n_a"]
    # asymmetry: narrow d diverges from a differently than a from d
    assert out[("d", "a")]["kl_num_e8"] != out[("a", "d")]["kl_num_e8"]


def test_dup_win_hashes_matches_hof_fold(spark):
    """r06: the Arrow fingerprint kernel must reproduce the Catalyst
    char-fold + k-window rolling-fold recurrences EXACTLY (integer
    arithmetic, so equality is bitwise). Random token arrays over a
    mixed vocabulary (ascii, punctuation, accented BMP chars, long
    words), lengths from the k boundary up."""
    import numpy as np

    from pyspark.sql import functions as F
    from llogtail_spark.functions.portable_hash import (
        BAND_MULT, MOD, MULT, char_fold_hash, seed_mults,
    )
    from llogtail_spark.operators.corpus import _dup_win_hashes

    k = 8
    a2, b2 = seed_mults(3)
    rng = np.random.default_rng(23)
    vocab = ["foo", "BAR", "baz,", "q-x", "the", "a!", "zz9", "..",
             "&", "café", "naïve", "x" * 40, "0"]
    rows = [
        (i, [vocab[j] for j in rng.integers(0, len(vocab),
                                            int(rng.integers(k, 40)))])
        for i in range(60)
    ] + [(900, [vocab[0]] * k)]  # exactly one window
    df = spark.createDataFrame(rows, "doc_id int, t array<string>")

    th = F.transform(F.col("t"), lambda x: char_fold_hash(x))
    th2 = F.transform(th, lambda x: (x * a2 + b2) % MOD)

    def fold(arr, mult):
        return F.transform(
            F.sequence(F.lit(0), F.size(arr) - k),
            lambda i: F.aggregate(
                F.slice(arr, i + 1, k), F.lit(0).cast("long"),
                lambda acc, x: (acc * mult + x) % MOD,
            ),
        )

    got = df.select(
        "doc_id",
        _dup_win_hashes(k)(F.col("t")).alias("w"),
        fold(th, BAND_MULT).alias("e1"),
        fold(th2, MULT).alias("e2"),
    ).collect()
    assert len(got) == 61
    for r in got:
        assert list(r["w"]["wh1"]) == list(r["e1"]), r["doc_id"]
        assert list(r["w"]["wh2"]) == list(r["e2"]), r["doc_id"]


def test_char_fold_with_a_base64_token_matches_per_word_fold():
    """One base64-sized token among short words: the vectorized char
    fold is bit-identical to folding each word on its own."""
    import base64

    import numpy as np

    from llogtail_spark.functions.portable_hash import MOD, MULT
    from llogtail_spark.functions.portable_hash import char_fold_np

    def fold(w):
        h = 0
        for c in w:
            h = (h * MULT + ord(c)) % MOD
        return h

    blob = base64.b64encode(np.random.default_rng(3).bytes(48_000)).decode()
    words = ["foo", "", "café", blob, "naïve", "x" * 40, "0", blob[:7]]
    got = char_fold_np(words)
    assert got.dtype == np.int64
    assert got.tolist() == [fold(w) for w in words]
    assert char_fold_np([]).tolist() == []
