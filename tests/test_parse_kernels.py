"""The parse stage's two kernels without Spark: the token kernel (token
ids, per-vocab tables) equals the text kernel (decode + RE2) over
random batches, a grok that is not token-aligned takes the text kernel,
and the content hash gives its pinned values."""

import warnings

import numpy as np
import pyarrow as pa
import pytest

from llogtail_spark.functions.grok import compile_grok, token_layout
from llogtail_spark.generate import VOCAB_SIZE
from llogtail_spark.operators import parse

ALIGNED = [
    parse.DEFAULT_GROK,
    r"^%{LOGLEVEL:level} %{WORD:component} %{WORD:msg}$",
    r"^%{WORD:component} %{LOGLEVEL:level} %{GREEDYDATA:msg}$",
    r"^%{NOTSPACE:level} %{WORD:component} %{INT:x} %{GREEDYDATA:msg}$",
]
NOT_ALIGNED = [
    r"^%{LOGLEVEL:level}: %{WORD:component} %{GREEDYDATA:msg}$",
    r"^%{LOGLEVEL:level} %{WORD:component} %{GREEDYDATA:msg}",
    r"%{LOGLEVEL:level} %{WORD:component} %{GREEDYDATA:msg}$",
    r"^%{LOGLEVEL:level} %{DATA:component} %{GREEDYDATA:msg}$",
    r"^%{LOGLEVEL:level}  %{WORD:component} %{GREEDYDATA:msg}$",
]
# levels (0-5), components (6-21), common words, the first and last
# code words (1000, 1999) and their neighbours, fillers, the vocab edges
EDGE_IDS = np.array([0, 1, 4, 5, 6, 21, 22, 99, 100, 999, 1000, 1007, 1999,
                     2000, 3000, VOCAB_SIZE - 1])


def _random_batch(rng: np.random.Generator, n: int) -> pa.Array:
    """Rows of 0-6 edge ids, with NULL lists, NULL elements, `code=`
    words at any position (0 and 1 included) and level words past
    position 0; some batches are slices (a non-zero list offset)."""
    rows = []
    for _ in range(n):
        if rng.random() < 0.05:
            rows.append(None)
            continue
        row = [int(i) for i in rng.choice(EDGE_IDS, int(rng.integers(0, 7)))]
        rows.append([None if rng.random() < 0.04 else i for i in row])
    arr = pa.array(rows, pa.list_(pa.int32()))
    return arr.slice(int(rng.integers(0, 3))) if n > 3 and rng.random() < 0.3 else arr


@pytest.mark.parametrize("grok", ALIGNED)
def test_token_kernel_equals_text_kernel(grok):
    tables = parse.token_tables(grok)
    assert tables is not None
    rx = compile_grok(grok).pattern
    rng = np.random.default_rng(7)
    for _ in range(300):
        batch = _random_batch(rng, int(rng.integers(0, 40)))
        want = parse._text_kernel(batch, rx)
        got = parse._token_kernel(batch, tables)
        assert got.equals(want), (batch.to_pylist(), got.to_pylist(), want.to_pylist())


def test_token_kernel_on_the_edge_rows():
    """Spot values: a `code=` word at position 0 or 1 still gives the
    code; a level word past position 0 is no level; short rows, empty
    rows, NULL lists and rows with a NULL element do not match."""
    rows = [[1003, 6, 4], [4, 1003, 1005], [6, 4, 22], [4], [4, 6], [4, 6, 22],
            [], None, [4, None, 22, 1001], [4, 6, 22, 1001, 1002]]
    got = parse._token_kernel(pa.array(rows, pa.list_(pa.int32())),
                              parse.token_tables(parse.DEFAULT_GROK)).to_pylist()
    assert [r["code"] for r in got] == [3, 3, None, None, None, None, None, None, None, 1]
    assert [r["level"] for r in got] == [None] * 5 + ["ERROR"] + [None] * 3 + ["ERROR"]
    assert [r["component"] for r in got][5] == "auth"
    assert [r["msg_ntok"] for r in got] == [0] * 5 + [1] + [0] * 3 + [3]


@pytest.mark.parametrize("grok", NOT_ALIGNED)
def test_a_grok_that_is_not_token_aligned_takes_the_text_kernel(grok, monkeypatch):
    """The kernel is chosen when the UDF is built: such a pattern has no
    token tables, and the UDF runs the text kernel on every batch."""
    assert token_layout(grok) is None and parse.token_tables(grok) is None
    ran = []
    monkeypatch.setattr(parse, "_token_kernel", lambda *a: ran.append("token"))
    monkeypatch.setattr(parse, "_text_kernel", lambda *a: ran.append("text"))
    udf = parse.make_parse_udf(grok)
    udf.func(pa.array([[4, 6, 22]], pa.list_(pa.int32())))
    assert ran == ["text"]


def test_the_default_grok_takes_the_token_kernel(monkeypatch):
    ran = []
    monkeypatch.setattr(parse, "_token_kernel", lambda *a: ran.append("token"))
    parse.make_parse_udf(parse.DEFAULT_GROK).func(pa.array([[4, 6, 22]], pa.list_(pa.int32())))
    assert ran == ["token"]


@pytest.mark.parametrize("word", ["", "two words", "line\nbreak", "code=99999999999"],
                         ids=["empty", "space", "newline", "int32_overflow"])
def test_a_vocab_word_the_token_tables_cannot_hold_takes_the_text_kernel(monkeypatch, word):
    """A vocab with an empty word, a word with a space or a newline, or
    a `code=` value past int32 builds no token tables."""
    vocab = parse._vocab_pa().to_pylist()
    vocab[60] = word
    monkeypatch.setattr(parse, "_VOCAB_PA", pa.array(vocab, pa.string()))
    parse.token_tables.cache_clear()
    try:
        assert parse.token_tables(parse.DEFAULT_GROK) is None
    finally:
        parse.token_tables.cache_clear()


@pytest.mark.parametrize("kernel", ["text", "token"])
def test_a_null_element_hashes_as_int64_min_without_a_warning(kernel):
    """`tok_hash([4, None, 7])` keeps the value a float64 round trip of
    the ids gave on x86 (NaN cast to INT64_MIN), with no
    'invalid value encountered in cast' RuntimeWarning."""
    batch = pa.array([[4, None, 7], [4, 6, 1007], [], None], pa.list_(pa.int32()))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        if kernel == "text":
            out = parse._text_kernel(batch, compile_grok(parse.DEFAULT_GROK).pattern)
        else:
            out = parse._token_kernel(batch, parse.token_tables(parse.DEFAULT_GROK))
    assert out.field("tok_hash").to_pylist() == [
        -3130320584229405180, -6974037553087248217, 0, 0]


def test_the_chunked_hash_equals_one_pass_over_the_batch():
    """Rows longer than a chunk, rows that end a chunk exactly and
    empty rows hash as one pass over the whole batch does."""
    rng = np.random.default_rng(3)
    c = parse._H_CHUNK
    lengths = np.concatenate([rng.integers(0, 600, 3000), [c + 1, 0, c, 1, 0]])
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    ids = rng.integers(0, VOCAB_SIZE, offsets[-1]).astype(np.int32)
    valid = rng.random(offsets[-1]) > 0.001
    vals = np.where(valid, ids.astype(np.uint64), np.uint64(1 << 63))
    k = np.arange(1, offsets[-1] + 1, dtype=np.uint64) - np.repeat(
        offsets[:-1].astype(np.uint64), lengths)
    mixed = (vals + parse._H_OFF) * (k * parse._H_MUL | np.uint64(1))
    mixed ^= mixed >> np.uint64(29)
    want = np.zeros(len(lengths), dtype=np.uint64)
    want[lengths > 0] = np.add.reduceat(mixed, offsets[:-1][lengths > 0])
    assert np.array_equal(parse.content_hash(ids, valid, offsets), want.view(np.int64))
