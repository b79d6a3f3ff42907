"""The input listing (reader.list_parts), the footer-schema scan
(reader.read_files) and footer-metadata input identity
(reader.file_identity) — the findFiles and validateCpt analogs
(utils.go:48-71, 128-133): cheap, metadata-only, and sensitive to the
changes that matter (row count, content layout)."""

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from llogtail_spark.sources.reader import file_identity, files_identity, list_parts, read_files


def _write(path, ids, toks):
    t = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.string()),
            "tokens": pa.array(toks, type=pa.list_(pa.int32())),
            "n_tok": pa.array([len(x) for x in toks], type=pa.int32()),
            "source": pa.array(["s"] * len(ids)),
        }
    )
    pq.write_table(t, path)


def test_identity_stable_across_rewrites(tmp_path):
    p = str(tmp_path / "a.parquet")
    _write(p, ["a", "b"], [[1, 2], [3]])
    rc1, ck1 = file_identity(p)
    os.unlink(p)
    _write(p, ["a", "b"], [[1, 2], [3]])  # identical content rewrite
    rc2, ck2 = file_identity(p)
    assert (rc1, ck1) == (rc2, ck2)
    assert rc1 == 2


def test_identity_detects_row_count_change(tmp_path):
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _write(p1, ["a", "b"], [[1], [2]])
    _write(p2, ["a", "b", "c"], [[1], [2], [3]])
    assert file_identity(p1) != file_identity(p2)


def test_identity_detects_doc_id_change(tmp_path):
    p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _write(p1, ["a", "b"], [[1], [2]])
    _write(p2, ["a", "z"], [[1], [2]])  # max doc_id stat differs
    assert file_identity(p1)[1] != file_identity(p2)[1]


def test_files_identity_batch_and_uri_scheme(tmp_path):
    p = str(tmp_path / "a.parquet")
    _write(p, ["a"], [[7]])
    out = files_identity({"part-a": "file://" + p, "part-b": p})
    assert out["part-a"] == out["part-b"]


def _touch(path) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "wb").close()
    return str(path)


def test_list_parts_skips_hidden_names(tmp_path):
    """Spark's hidden-file rule: names starting with '_' or '.' are not
    parts, and a hidden subdirectory is not a nested layout."""
    keep = _touch(tmp_path / "part-0.parquet")
    for name in ("_x.parquet", ".x.parquet", "_SUCCESS", ".part-0.parquet.crc",
                 "_temporary/part-1.parquet", "notes.txt"):
        _touch(tmp_path / name)
    assert list_parts(str(tmp_path)) == {"part-0": keep}


def test_list_parts_single_file_is_one_part(tmp_path):
    f = _touch(tmp_path / "in" / "part-7.parquet")
    _touch(tmp_path / "in" / "part-8.parquet")
    assert list_parts(f) == {"part-7": f}
    assert list_parts("file://" + f) == {"part-7": f}


def test_list_parts_refuses_remote_and_empty(tmp_path):
    with pytest.raises(NotImplementedError, match="hdfs://nn/x"):
        list_parts("hdfs://nn/x")
    _touch(tmp_path / "_SUCCESS")
    for path in (str(tmp_path), str(tmp_path / "missing")):
        with pytest.raises(FileNotFoundError, match=re.escape(path)):
            list_parts(path)


def test_ensure_parallelism_gate(spark):
    """Below the core floor: hash-repartition to defaultParallelism.
    At or above it: identity (production inputs never pay the
    exchange)."""
    from llogtail_spark.sources.reader import ensure_parallelism

    target = spark.sparkContext.defaultParallelism
    small = spark.range(100)  # planned with few partitions
    if small.rdd.getNumPartitions() < target:
        up = ensure_parallelism(small, "id")
        assert up.rdd.getNumPartitions() == target
        assert sorted(r["id"] for r in up.collect()) == list(range(100))
    wide = spark.range(100).repartition(target + 4, "id")
    assert ensure_parallelism(wide, "id") is wide


@pytest.mark.parametrize("which", ["log_fixture", "lookup", "corpus_input"])
def test_footer_schema_equals_the_inferred_schema(spark, data_dir, tmp_path, which):
    """read_files scans with the parts' footer schema instead of asking
    Spark to infer one; on the package's inputs the two agree."""
    if which == "corpus_input":
        from test_corpus_pipeline import _write_input

        path = str(tmp_path / "docs")
        _write_input(spark, path)
    else:
        path = os.path.join(data_dir, {"log_fixture": "sequences",
                                       "lookup": "lookup_sources.parquet"}[which])
    files = list(list_parts(path).values())
    assert read_files(spark, files).schema == spark.read.parquet(*files).schema
