"""Vectorized grok parse of token-id rows, in one Arrow UDF.

The reference ships opaque byte lines (buffer.go:13-16) and never
parses them; the north rule adds a parse stage. This is the one place
the engine leaves JVM expressions — and it does so via Arrow, with
pyarrow C-level kernels and numpy per batch, never per-row Python.
The parse has two kernels, and `make_parse_udf` picks one on the
driver, from the pattern and the vocab:
- the token kernel, for a token-aligned grok (`grok.token_layout`,
  e.g. the default `^%{LOGLEVEL:level} %{WORD:component}
  %{GREEDYDATA:msg}$`) over a vocab of non-empty words without spaces
  or newlines: per-vocab tables (`token_tables`) are applied to the
  ids with integer takes, and no text is decoded;
- the text kernel, for any other grok: decode
  (`pc.take` + `pc.binary_join`), then `pc.extract_regex` (RE2).
Both give the same struct for the same grok, and the same `tok_hash`.

Scale notes (100 TB):
- the vocabulary is a pure function of the token id (no driver-side
  broadcast, no shuffling a vocab table) — each executor builds it,
  and the token tables, once and caches them at module level;
- one Arrow UDF computes ALL parsed fields in a single pass, so token
  arrays cross the Arrow boundary exactly once;
- batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
  (the analog of the reference's 4 MB buffer cap, buffer.go:31-36),
  and the hash works in chunks of `_H_CHUNK` tokens within a batch.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from llogtail_spark.functions.grok import compile_grok, token_layout
from llogtail_spark.generate import LEVEL_NUMS, LEVELS, build_vocab

# "<LEVEL> <component> <msg>" — the shape generate.py emits
DEFAULT_GROK = r"^%{LOGLEVEL:level} %{WORD:component} %{GREEDYDATA:msg}$"
# the grok captures the parse kernel reads
GROK_GROUPS = ("level", "component", "msg")

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("level", T.StringType()),
        T.StructField("level_num", T.IntegerType()),
        T.StructField("component", T.StringType()),
        T.StructField("code", T.IntegerType()),
        T.StructField("msg_ntok", T.IntegerType()),
        # order-sensitive content hash of the token array, computed
        # vectorized in this same Arrow pass. Hashing array<int> with
        # JVM xxhash64 is ~30x slower (per-element, allocation-heavy)
        # than hashing this scalar — measured 6-13s vs 0.3s per 400k
        # rows — so the manifest/aggregate checksums key on tok_hash.
        T.StructField("tok_hash", T.LongType()),
    ]
)

_VOCAB_PA: pa.Array | None = None


def _vocab_pa() -> pa.Array:
    """Executor-local cached vocab as a pyarrow array (zero-copy takes)."""
    global _VOCAB_PA
    if _VOCAB_PA is None:
        _VOCAB_PA = pa.array(build_vocab(), type=pa.string())
    return _VOCAB_PA


CODE_RX = r"code=(?P<code>\d+)"
_LEVELS = pa.array(LEVELS, type=pa.string())
_LEVEL_NUMS = pa.array(LEVEL_NUMS + [None], type=pa.int32())

_H_OFF = np.uint64(0x9E3779B97F4A7C15)
_H_MUL = np.uint64(0xBF58476D1CE4E5B9)
# a NULL element hashes as INT64_MIN, the value an earlier float64
# round trip of the ids gave NaN on x86
_H_NULL = np.uint64(1 << 63)
# tokens per hash chunk: each temporary stays ~2 MB whatever the batch
_H_CHUNK = 1 << 18


def content_hash(ids: np.ndarray, valid: np.ndarray | None,
                 offsets: np.ndarray) -> np.ndarray:
    """Per-row order-sensitive token-content hash, fully vectorized.

    splitmix64-style mix of (token, 1-based position) summed per row
    (uint64 wraparound). Plays the cheap-identity role of llogtail's
    first-1KB MD5 (utils.go:36-46): O(tokens) numpy kernels, no Python
    loop per row, no JVM array hashing. `ids` are the flat token ids,
    `valid` their validity (None: no NULL element) and `offsets` the
    rows' int64 offsets into them, starting at 0. Rows are hashed in
    chunks of at most `_H_CHUNK` tokens (or one longer row), so no
    temporary grows with the batch. Returns int64 (Spark LongType).
    """
    n = len(offsets) - 1
    out = np.zeros(n, dtype=np.uint64)
    r0 = 0
    while r0 < n:
        r1 = max(int(np.searchsorted(offsets, offsets[r0] + _H_CHUNK, side="right")) - 1,
                 r0 + 1)
        lo, hi = offsets[r0], offsets[r1]
        starts = offsets[r0:r1] - lo
        lengths = np.diff(offsets[r0:r1 + 1])
        vals = ids[lo:hi].astype(np.uint64)
        if valid is not None:
            vals[~valid[lo:hi]] = _H_NULL
        k = np.arange(1, hi - lo + 1, dtype=np.uint64)
        k -= np.repeat(starts.astype(np.uint64), lengths)
        mixed = (vals + _H_OFF) * (k * _H_MUL | np.uint64(1))
        mixed ^= mixed >> np.uint64(29)
        nz = lengths > 0
        out[r0:r1][nz] = np.add.reduceat(mixed, starts[nz]) if nz.any() else 0
        r0 = r1
    return out.view(np.int64)


def _flat_ids(tokens: pa.Array) -> tuple[pa.Array, np.ndarray, np.ndarray, np.ndarray | None]:
    """ListArray of ids -> (flat values pa.Array, the ids as a numpy view
    of it with NULL elements read as 0, int64 offsets starting at 0,
    validity or None). No pandas, no Python objects, no per-row work;
    the ids are read in their own integer type, never through float64.
    Refuses an id outside the vocab: the lookups would fail with an
    error the job surfaces without the id."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    offs = tokens.offsets.to_numpy().astype(np.int64, copy=False)
    vals = tokens.values.slice(offs[0], offs[-1] - offs[0])
    offs = offs - offs[0]
    n_vocab = len(_vocab_pa())
    # min_max skips null elements
    mm = pc.min_max(vals)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if lo is not None and (lo < 0 or hi >= n_vocab):
        bad = lo if lo < 0 else hi
        raise ValueError(
            f"token id {bad} is outside the vocab of {n_vocab} ids "
            f"[0, {n_vocab})")
    valid = None
    if vals.null_count:
        valid = vals.is_valid().to_numpy(zero_copy_only=False)
    ids = pc.fill_null(vals, 0).to_numpy()
    return vals, ids, offs, valid


def _text_kernel(tokens: pa.Array, rx: str) -> pa.StructArray:
    """The parse over one Arrow batch for any grok: C++ kernels + numpy.

    take(vocab) -> binary_join -> extract_regex (RE2) -> index_in;
    tok_hash via the vectorized numpy segment hash. Zero Python-object
    boxing anywhere."""
    vals, ids, offsets, valid = _flat_ids(tokens)
    tok_hash = content_hash(ids, valid, offsets)
    words = pc.take(_vocab_pa(), vals)
    lists = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), words)
    text = pc.binary_join(lists, " ")
    # flatten() (not .field()) propagates the no-match struct null
    # into the child arrays
    st = pc.extract_regex(text, rx)
    fields = {st.type.field(i).name: child for i, child in enumerate(st.flatten())}
    level, component, msg = fields["level"], fields["component"], fields["msg"]
    msg_ntok = pc.fill_null(pc.add(pc.count_substring(msg, " "), 1), 0)
    return _parsed(level, _level_num(level), component, _code(text),
                   pc.cast(msg_ntok, pa.int32()), tok_hash)


def _level_num(words: pa.Array) -> pa.Array:
    """Level word -> numeric severity (int32; NULL for any other word)."""
    return pc.take(_LEVEL_NUMS, pc.fill_null(pc.index_in(words, value_set=_LEVELS),
                                             len(_LEVELS)))


def _code(text: pa.Array) -> pa.Array:
    """The first `code=<digits>` value in each string (int32; NULL if none)."""
    return pc.cast(pc.extract_regex(text, CODE_RX).flatten()[0], pa.int32())


def _parsed(level, level_num, component, code, msg_ntok, tok_hash) -> pa.StructArray:
    return pa.StructArray.from_arrays(
        [level, level_num, component, code, msg_ntok, pa.array(tok_hash, type=pa.int64())],
        names=["level", "level_num", "component", "code", "msg_ntok", "tok_hash"],
    )


@dataclass(frozen=True)
class TokenTables:
    """Per-vocab tables of a token-aligned grok (indexed by token id)."""
    tests: tuple[np.ndarray, ...]  # word i fully matches capture i
    tail: bool  # a GREEDYDATA tail follows the captures
    level_pos: int
    component_pos: int
    msg_is_tail: bool  # else msg is one word
    level_num: pa.Array  # int32, NULL for a word that is no level
    code: pa.Array  # int32 first `code=` value, NULL for a word without one
    has_code: np.ndarray


@functools.cache
def token_tables(grok_pattern: str) -> TokenTables | None:
    """The tables the token kernel runs `grok_pattern` with, or None
    when the pattern or the vocab needs the text kernel: the pattern is
    not token-aligned (`grok.token_layout`) or does not capture level
    and component as words, a vocab word is empty or holds a space or
    a newline (the text would not split back into the ids), or a
    word's `code=` value does not fit the int32 cast. Built once per
    process with the text kernel's RE2 kernels over the vocab array,
    so a word passes a table's test iff it passes the text regex."""
    layout = token_layout(grok_pattern)
    if layout is None:
        return None
    caps, tail = layout
    pos = {field: i for i, (field, _) in enumerate(caps)}
    if "level" not in pos or "component" not in pos or "msg" not in (*pos, tail):
        return None
    vocab = _vocab_pa()
    if pc.any(pc.or_(pc.equal(pc.binary_length(vocab), 0),
                     pc.match_substring_regex(vocab, "[ \n]"))).as_py():
        return None
    try:
        code = _code(vocab)
    except pa.ArrowInvalid:
        return None
    return TokenTables(
        tests=tuple(pc.match_substring_regex(vocab, f"^(?:{body})$").to_numpy(
            zero_copy_only=False) for _, body in caps),
        tail=tail is not None,
        level_pos=pos["level"], component_pos=pos["component"], msg_is_tail=tail == "msg",
        level_num=_level_num(vocab),
        code=code, has_code=code.is_valid().to_numpy(zero_copy_only=False),
    )


def _token_kernel(tokens: pa.Array, t: TokenTables) -> pa.StructArray:
    """The parse over one Arrow batch for a token-aligned grok, on the
    ids alone: a row matches iff it has no NULL element, its length
    fits the layout and word i passes test i; level and component are
    the words at their capture positions; code is the value of the
    first word (at any position) with one; msg_ntok counts the words
    msg spans on a match and is 0 otherwise. Equal to `_text_kernel`
    for the same grok, which `token_tables` guarantees."""
    _, ids, offsets, valid = _flat_ids(tokens)
    tok_hash = content_hash(ids, valid, offsets)
    starts, lengths = offsets[:-1], np.diff(offsets)
    k = len(t.tests)
    clean = np.ones(len(lengths), dtype=bool)
    if valid is not None:  # a NULL element makes the row's text NULL
        nulls = np.concatenate([[0], np.cumsum(~valid)])
        clean = nulls[offsets[1:]] == nulls[starts]
    ok = clean & ((lengths > k) if t.tail else (lengths == k))
    for i, test in enumerate(t.tests):
        rows = np.flatnonzero(ok)
        ok[rows] = test[ids[starts[rows] + i]]

    def ids_at(pos: np.ndarray, rows: np.ndarray) -> pa.Array:
        """ids[pos] for the rows in the mask `rows`, NULL elsewhere."""
        at = np.zeros(len(rows), dtype=ids.dtype)
        at[rows] = ids[pos[rows]]
        return pa.array(at, mask=~rows)

    level_ids = ids_at(starts + t.level_pos, ok)
    # the first word with a code: search each row's start among the
    # positions of all code words (a NULL slot reads as id 0, and its
    # row is not `clean`)
    code_at = np.flatnonzero(t.has_code[ids])
    nxt = np.searchsorted(code_at, starts)
    found = clean & (nxt < len(code_at))
    pos = np.zeros_like(starts)
    pos[found] = code_at[nxt[found]]
    found &= pos < offsets[1:]
    return _parsed(
        pc.take(_vocab_pa(), level_ids),
        pc.take(t.level_num, level_ids),
        pc.take(_vocab_pa(), ids_at(starts + t.component_pos, ok)),
        pc.take(t.code, ids_at(pos, found)),
        pa.array(np.where(ok, lengths - k if t.msg_is_tail else 1, 0).astype(np.int32)),
        tok_hash,
    )


def check_grok(pattern: str) -> None:
    """Refuse, on the driver, a grok the parse kernel cannot run: it
    must expand and compile, capture every `GROK_GROUPS` name, and
    compile under RE2 (`pc.extract_regex`, which has no lookaround,
    backreferences or unnamed groups). Without this the pattern fails
    inside the staged write, as a worker traceback."""
    try:
        rx = compile_grok(pattern)
        pc.extract_regex(pa.array([], pa.string()), rx.pattern)
    except (KeyError, re.error, pa.ArrowInvalid) as e:
        raise ValueError(f"grok {pattern!r} does not compile for the parse "
                         f"kernel: {e}") from None
    missing = [g for g in GROK_GROUPS if g not in rx.groupindex]
    if missing:
        raise ValueError(f"grok {pattern!r} lacks the named groups {missing}; "
                         f"the parse kernel reads {list(GROK_GROUPS)}")


def make_parse_udf(grok_pattern: str = DEFAULT_GROK):
    """Build the parse UDF for a grok pattern.

    The kernel is chosen here, on the driver: the token kernel when
    `token_tables(grok_pattern)` builds, the text kernel (over the grok
    compiled to RE2 syntax once) otherwise. The UDF is a native Arrow
    UDF: the tokens ListArray arrives as a pyarrow array — flat values
    and offsets are ZERO-COPY views, and the result StructArray goes
    straight back over Arrow, skipping the pandas materialization
    entirely (profiled: the pandas conversion built an object-dtype
    Series of numpy arrays per batch — pure overhead)."""
    rx = compile_grok(grok_pattern).pattern  # RE2-compatible source
    token = token_tables(grok_pattern) is not None

    @arrow_udf(PARSED_SCHEMA)
    def parse(tokens: pa.Array) -> pa.Array:
        if token:
            return _token_kernel(tokens, token_tables(grok_pattern))
        return _text_kernel(tokens, rx)

    return parse


def parse_stage(df: DataFrame, grok_pattern: str = DEFAULT_GROK) -> DataFrame:
    """Add parsed fields to a sequences DataFrame in ONE Arrow pass.

    Input:  (doc_id, tokens, n_tok, source, ...)
    Output: input columns + (level, level_num, component, code, msg_ntok,
            tok_hash)
    """
    parse = make_parse_udf(grok_pattern)
    return df.withColumn("_p", parse(F.col("tokens"))).select("*", "_p.*").drop("_p")
