"""Vectorized grok/regex parse over decoded token spans.

The reference ships opaque byte lines (buffer.go:13-16) and never
parses them; the north rule adds a parse stage. This is the one place
the engine leaves JVM expressions — and it does so via Arrow: the
whole decode+regex path is pyarrow C-level kernels per batch
(`pc.take` + `pc.binary_join` + `pc.extract_regex`), never per-row
Python.

Scale notes (100 TB):
- the vocabulary is a pure function of the token id (no driver-side
  broadcast, no shuffling a vocab table) — each executor builds it
  once and caches it at module level;
- one Arrow UDF computes ALL parsed fields in a single decode pass,
  so token arrays cross the Arrow boundary exactly once;
- batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
  (the analog of the reference's 4 MB buffer cap, buffer.go:31-36).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from llogtail_spark.functions.grok import compile_grok
from llogtail_spark.generate import LEVEL_NUMS, LEVELS, build_vocab

# "<LEVEL> <component> <msg>" — the shape generate.py emits
DEFAULT_GROK = r"^%{LOGLEVEL:level} %{WORD:component} %{GREEDYDATA:msg}$"
CODE_RX = r"code=(\d+)"

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

_LEVEL_NUM = dict(zip(LEVELS, LEVEL_NUMS))

_VOCAB_PA: pa.Array | None = None


def _vocab_pa() -> pa.Array:
    """Executor-local cached vocab as a pyarrow array (zero-copy takes)."""
    global _VOCAB_PA
    if _VOCAB_PA is None:
        _VOCAB_PA = pa.array(build_vocab(), type=pa.string())
    return _VOCAB_PA


_H_OFF = np.uint64(0x9E3779B97F4A7C15)
_H_MUL = np.uint64(0xBF58476D1CE4E5B9)


def content_hash_np(flat: np.ndarray, offsets: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Per-row order-sensitive token-content hash, fully vectorized.

    splitmix64-style mix of (token, 1-based position) summed per row
    (uint64 wraparound). Plays the cheap-identity role of llogtail's
    first-1KB MD5 (utils.go:36-46): O(tokens) numpy kernels, no Python
    loop, no JVM array hashing. Returns int64 view (Spark LongType).
    """
    out = np.zeros(len(lengths), dtype=np.uint64)
    if flat.size:
        vals = flat.view(np.uint64) if flat.dtype == np.int64 else flat.astype(np.uint64)
        pos = np.arange(flat.size, dtype=np.uint64)
        row_start = np.repeat(offsets[:-1].astype(np.uint64), lengths)
        k = pos - row_start + np.uint64(1)
        mixed = (vals + _H_OFF) * (k * _H_MUL | np.uint64(1))
        mixed ^= mixed >> np.uint64(29)
        nz = lengths > 0
        out[nz] = np.add.reduceat(mixed, offsets[:-1][nz])
    return out.view(np.int64)


@arrow_udf(T.LongType())
def token_hash(tokens: pa.Array) -> pa.Array:
    """Standalone tok_hash column (for frames that skip parse_stage).
    Identical definition to parse_stage's tok_hash."""
    vals, offs, lens = _list_parts_zero_copy(tokens)
    h = content_hash_np(
        vals.to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        offs, lens,
    )
    return pa.array(h, type=pa.int64())


@arrow_udf(T.StringType())
def detokenize(tokens: pa.Array) -> pa.Array:
    """tokens array<int> -> decoded text (vectorized, zero-copy in)."""
    vals, offs, _ = _list_parts_zero_copy(tokens)
    words = pc.take(_vocab_pa(), vals)
    lists = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), words)
    return pc.binary_join(lists, " ")


def _list_parts_zero_copy(tokens: pa.Array) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """ListArray<int32> -> (flat values pa.Array, int64 offsets starting
    at 0, int64 lengths) — all zero-copy views (no pandas, no Python
    objects, no per-row work)."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    offs = tokens.offsets.to_numpy().astype(np.int64, copy=False)
    vals = tokens.values.slice(offs[0], offs[-1] - offs[0])
    offs = offs - offs[0]
    return vals, offs, np.diff(offs)


def _parse_kernel(tokens: pa.Array, rx: str, code_rx: str,
                  levels: pa.Array, level_nums: pa.Array) -> pa.StructArray:
    """The whole parse over one Arrow batch: C++ kernels + numpy only.

    take(vocab) -> binary_join -> extract_regex (RE2) -> index_in;
    tok_hash via the vectorized numpy segment hash. Zero Python-object
    boxing anywhere."""
    vals, offsets, lengths = _list_parts_zero_copy(tokens)
    tok_hash = content_hash_np(
        vals.to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
        offsets, lengths,
    )
    words = pc.take(_vocab_pa(), vals)
    lists = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), words)
    text = pc.binary_join(lists, " ")
    # flatten() (not .field()) propagates the no-match struct null
    # into the child arrays
    st = pc.extract_regex(text, rx)
    fields = {st.type.field(i).name: child for i, child in enumerate(st.flatten())}
    level, component, msg = fields["level"], fields["component"], fields["msg"]
    # level -> numeric severity via dictionary lookup (C++ kernels)
    idx = pc.index_in(level, value_set=levels)
    lvl_num = pc.take(level_nums, pc.fill_null(idx, len(levels)))
    code = pc.cast(pc.extract_regex(text, code_rx).flatten()[0], pa.int32())
    msg_ntok = pc.fill_null(pc.add(pc.count_substring(msg, " "), 1), 0)
    return pa.StructArray.from_arrays(
        [
            level,
            pc.cast(lvl_num, pa.int32()),
            component,
            code,
            pc.cast(msg_ntok, pa.int32()),
            pa.array(tok_hash, type=pa.int64()),
        ],
        names=["level", "level_num", "component", "code", "msg_ntok", "tok_hash"],
    )


def make_parse_udf(grok_pattern: str = DEFAULT_GROK):
    """Build the parse UDF for a grok pattern.

    The grok regex is compiled to RE2 syntax once. The UDF is a native
    Arrow UDF: the tokens ListArray arrives as a pyarrow array — flat
    values and offsets are ZERO-COPY views, and the result StructArray
    goes straight back over Arrow, skipping the pandas materialization
    entirely (profiled: the pandas conversion built an object-dtype
    Series of numpy arrays per batch — pure overhead)."""
    rx = compile_grok(grok_pattern).pattern  # RE2-compatible source
    code_rx = r"code=(?P<code>\d+)"
    levels = pa.array(LEVELS, type=pa.string())
    level_nums = pa.array(LEVEL_NUMS + [None], type=pa.int32())

    @arrow_udf(PARSED_SCHEMA)
    def parse(tokens: pa.Array) -> pa.Array:
        return _parse_kernel(tokens, rx, code_rx, levels, level_nums)

    return parse


def parse_stage(df: DataFrame, grok_pattern: str = DEFAULT_GROK) -> DataFrame:
    """Add parsed fields to a sequences DataFrame in ONE Arrow pass.

    Input:  (doc_id, tokens, n_tok, source, ...)
    Output: input columns + (level, level_num, component, code, msg_ntok)
    """
    parse = make_parse_udf(grok_pattern)
    return df.withColumn("_p", parse(F.col("tokens"))).select("*", "_p.*").drop("_p")
