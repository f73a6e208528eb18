"""Durability order of the checkpoint-side publish paths (no Spark)."""

import os
import stat

import pytest

from french_admin_etl_spark.streaming import checkpoint


def test_stream_fence_uid_fsyncs_tmp_before_link(tmp_path, monkeypatch):
    """``engine_id`` is published by linking a tmp file: the tmp's data
    must be fsynced before the link and the directory after it, or a
    power loss can bring the uid back empty."""
    calls = []
    real_fsync, real_link = os.fsync, os.link

    def fsync(fd):
        st = os.fstat(fd)
        calls.append(("fsync", "dir" if stat.S_ISDIR(st.st_mode) else st.st_ino))
        real_fsync(fd)

    def link(src, dst):
        calls.append(("link", os.stat(src).st_ino))
        real_link(src, dst)

    monkeypatch.setattr(checkpoint.os, "fsync", fsync)
    monkeypatch.setattr(checkpoint.os, "link", link)

    d = str(tmp_path / "stream_ck")
    uid = checkpoint.stream_fence_uid(d)
    monkeypatch.undo()

    links = [i for i, c in enumerate(calls) if c[0] == "link"]
    assert len(links) == 1, calls
    tmp_ino = calls[links[0]][1]
    assert ("fsync", tmp_ino) in calls[: links[0]], calls
    assert ("fsync", "dir") in calls[links[0] + 1 :], calls
    with open(os.path.join(d, "engine_id")) as fh:
        assert fh.read() == uid != ""
    assert checkpoint.stream_fence_uid(d) == uid
    assert os.listdir(d) == ["engine_id"]


def test_stream_fence_uid_refuses_empty_engine_id(tmp_path, monkeypatch):
    """An ``engine_id`` that exists but is empty (a power loss under the
    pre-fsync publish) is refused on both read paths: trusting it would
    put every such dir into the one fence namespace ""."""
    d = tmp_path / "emptied"
    d.mkdir()
    (d / "engine_id").write_text(" \n")
    with pytest.raises(ValueError, match="engine_id"):
        checkpoint.stream_fence_uid(str(d))

    # the loser of the exclusive-create race re-reads the winner's file
    real_link = os.link

    def racing_link(src, dst):
        open(dst, "w").close()  # the other minter's file, left empty
        real_link(src, dst)

    monkeypatch.setattr(checkpoint.os, "link", racing_link)
    d = tmp_path / "raced"
    with pytest.raises(ValueError, match="engine_id"):
        checkpoint.stream_fence_uid(str(d))
    assert os.listdir(d) == ["engine_id"]  # the tmp is still removed
