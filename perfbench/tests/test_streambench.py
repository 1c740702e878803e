import json
import os

import streambench


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name, batch):
    return {"path": f"file:///data/in/{name}", "timestamp": 1, "batchId": batch}


def test_file_to_batch_map_reads_plain_and_compacted_logs(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    # batch 9 is compacted: it repeats batches 0..8 and adds its own files
    _log(src / "8", [_entry("f8.parquet", 8)])
    _log(src / "9.compact", [_entry("f0.parquet", 0), _entry("f8.parquet", 8), _entry("f9.parquet", 9)])
    _log(src / "10", [_entry("f10a.parquet", 10), _entry("f10b.parquet", 10)])
    _log(src / ".10.crc", [])  # checksum side files are skipped
    got = streambench.file_batches(str(tmp_path))
    assert got == {
        "f0.parquet": 0,
        "f8.parquet": 8,
        "f9.parquet": 9,
        "f10a.parquet": 10,
        "f10b.parquet": 10,
    }


def test_committed_files_uses_commit_mtime(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    _log(src / "0", [_entry("a.parquet", 0)])
    _log(src / "1", [_entry("b.parquet", 1)])
    commits = tmp_path / "commits"
    commits.mkdir()
    (commits / "0").write_text("v1\n{}\n")
    os.utime(commits / "0", (1000.0, 1000.0))
    # batch 1 has not committed: its file is not reported
    assert streambench.committed_files(str(tmp_path)) == {"a.parquet": 1000.0}


def test_empty_checkpoint(tmp_path):
    assert streambench.file_batches(str(tmp_path)) == {}
    assert streambench.committed_files(str(tmp_path)) == {}
