"""Manifest protocol units (no Spark): atomic commit, read-back,
validate truth table, invalidate."""

from llogtail_spark import manifest as mf


def _entry(sink="s", part="p-0", rc=10, cks=123, irc=20, icks=456):
    return mf.ManifestEntry(
        sink=sink, part=part, row_count=rc, tok_total=100, checksum=cks,
        committed_at="1970-01-01T00:00:00Z", in_row_count=irc, in_checksum=icks,
    )


def test_commit_and_read_roundtrip(tmp_path):
    d = str(tmp_path / "m")
    e = _entry()
    mf.commit(d, e)
    assert mf.read_all(d) == [e]


def test_commit_overwrites_atomically(tmp_path):
    d = str(tmp_path / "m")
    mf.commit(d, _entry(rc=1))
    mf.commit(d, _entry(rc=2))
    entries = mf.read_all(d)
    assert len(entries) == 1 and entries[0].row_count == 2
    # no temp droppings left behind
    import os
    assert all(f.endswith(".json") for f in os.listdir(d))


def test_committed_parts_per_sink(tmp_path):
    d = str(tmp_path / "m")
    mf.commit(d, _entry(sink="a", part="p-0"))
    mf.commit(d, _entry(sink="a", part="p-1"))
    mf.commit(d, _entry(sink="b", part="p-0"))
    assert mf.committed_parts(d, "a") == {"p-0", "p-1"}
    assert mf.committed_parts(d, "b") == {"p-0"}
    assert mf.committed_parts(d, "c") == set()


def test_validate_truth_table():
    e = _entry(irc=20, icks=456)
    assert mf.validate(e, 20, 456)
    assert not mf.validate(e, 21, 456)  # input grew -> reprocess
    assert not mf.validate(e, 20, 999)  # content changed -> reprocess


def test_invalidate_removes_only_target(tmp_path):
    d = str(tmp_path / "m")
    mf.commit(d, _entry(sink="a", part="p-0"))
    mf.commit(d, _entry(sink="a", part="p-1"))
    mf.invalidate(d, "a", "p-0")
    assert mf.committed_parts(d, "a") == {"p-1"}
    mf.invalidate(d, "a", "never-existed")  # no-op, no raise


def test_read_missing_dir_is_empty(tmp_path):
    assert mf.read_all(str(tmp_path / "nope")) == []


def test_read_all_drops_corrupt_entries(tmp_path):
    """A truncated entry (rename persisted, bytes not — commit doesn't
    fsync) must not poison the manifest: it is dropped, so the
    partition counts as uncommitted and gets reprocessed."""
    import os

    from llogtail_spark import manifest as mf

    d = str(tmp_path)
    mf.commit(d, _entry("errors", "p1"))
    corrupt = os.path.join(d, "errors__p2.json")
    with open(corrupt, "w") as f:
        f.write('{"sink": "errors", "part"')  # truncated
    entries = mf.read_all(d)
    assert [e.part for e in entries] == ["p1"]
    assert not os.path.exists(corrupt)
    assert mf.committed_parts(d, "errors") == {"p1"}


def test_read_all_ignores_unknown_extra_fields(tmp_path):
    """Forward compatibility: an entry written by a NEWER version with
    extra fields is still readable — never deleted, never fatal."""
    import json
    import os

    d = str(tmp_path)
    mf.commit(d, _entry("errors", "p1"))
    path = os.path.join(d, "errors=p1.json")
    with open(path) as f:
        data = json.load(f)
    data["future_field"] = "x"
    with open(path, "w") as f:
        json.dump(data, f)
    entries = mf.read_all(d)
    assert len(entries) == 1 and entries[0].part == "p1"
    assert os.path.exists(path)  # not destroyed


def test_read_all_surfaces_schema_mismatch_as_error(tmp_path):
    """Valid JSON that is NOT a manifest entry (missing required
    fields) is an operator error — surfaced, not silently deleted."""
    import json
    import os
    import pytest

    d = str(tmp_path)
    path = os.path.join(d, "errors__p9.json")
    os.makedirs(d, exist_ok=True)
    with open(path, "w") as f:
        json.dump({"sink": "errors"}, f)  # missing everything else
    with pytest.raises(ValueError, match="unrecognized schema"):
        mf.read_all(d)
    assert os.path.exists(path)  # entry preserved for inspection


def test_entry_filenames_unambiguous(tmp_path):
    """sink 'a__b' + part 'c' and sink 'a' + part 'b__c' must be two
    distinct entries (the old '__' separator collided them onto one
    file, each commit orphaning the other)."""
    d = str(tmp_path / "m")
    e1 = mf.ManifestEntry("a__b", "c", 1, 1, 1, "t")
    e2 = mf.ManifestEntry("a", "b__c", 2, 2, 2, "t")
    mf.commit(d, e1)
    mf.commit(d, e2)
    got = {(e.sink, e.part) for e in mf.read_all(d)}
    assert got == {("a__b", "c"), ("a", "b__c")}
    assert mf.committed_parts(d, "a__b") == {"c"}
    assert mf.committed_parts(d, "a") == {"b__c"}


def _stage(stage="quality", rows=7):
    return mf.StageManifest(stage=stage, in_rows=10, in_checksum=1,
                            out_rows=rows, tok_total=0, out_checksum=2,
                            params_crc=3, committed_at="t")


def test_stage_commit_read_invalidate_roundtrip(tmp_path):
    d = str(tmp_path / "sm")
    assert mf.read_stage(d, "quality") is None  # missing dir = absent
    mf.commit_stage(d, _stage(rows=1))
    mf.commit_stage(d, _stage(rows=2))
    assert mf.read_stage(d, "quality") == _stage(rows=2)
    mf.invalidate_stage(d, "quality")
    assert mf.read_stage(d, "quality") is None
    mf.invalidate_stage(d, "quality")  # no-op, no raise


def test_failed_write_leaves_no_temp_file(tmp_path, monkeypatch):
    """Both record kinds share one writer: a write that fails midway
    leaves neither a record nor a .tmp behind."""
    import os

    import pytest

    d = str(tmp_path / "m")

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(mf, "asdict", boom)
    with pytest.raises(OSError, match="disk full"):
        mf.commit_stage(d, _stage())
    with pytest.raises(OSError, match="disk full"):
        mf.commit(d, _entry())
    assert os.listdir(d) == []


def test_read_stage_follows_read_all_policy(tmp_path):
    """Corrupt bytes are dropped (recompute); a schema mismatch or any
    other read error is surfaced, never a silent recompute."""
    import json
    import os

    import pytest

    d = str(tmp_path)
    path = mf.commit_stage(d, _stage())
    with open(path, "w") as f:
        f.write('{"stage": "qual')  # truncated
    assert mf.read_stage(d, "quality") is None
    assert not os.path.exists(path)

    with open(path, "w") as f:
        json.dump({"stage": "quality"}, f)
    with pytest.raises(ValueError, match="unrecognized schema"):
        mf.read_stage(d, "quality")
    assert os.path.exists(path)

    os.remove(path)
    os.mkdir(path)  # open() fails with an OSError other than ENOENT
    with pytest.raises(OSError):
        mf.read_stage(d, "quality")


def test_reconcile_folds_groups_and_refuses_mismatch():
    import pytest

    observed = {"rows": 3, "tok_total": 9, "checksum": 5 ^ 6}
    groups = [{"rows": 1, "tok_total": 4, "checksum": 5},
              {"rows": 2, "tok_total": 5, "checksum": 6}]
    mf.reconcile("t", observed, groups)
    with pytest.raises(RuntimeError, match="readback disagrees.*refusing to commit"):
        mf.reconcile("t", observed, groups[:1])
