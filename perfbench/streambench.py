"""Reading a file-source stream's progress back from its checkpoint.

The file source logs which files each micro-batch read under
`sources/0/<batchId>` (every tenth log compacted into `<batchId>.compact`,
which repeats the earlier entries); the commit log `commits/<batchId>` is
written once the batch's sink write finished, so its mtime is when that
batch's output became visible.
"""

from __future__ import annotations

import json
import os


def file_batches(checkpoint: str) -> dict[str, int]:
    """{file base name: micro-batch id that read it}."""
    log = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # line 0 is the log version, "v1"
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """{batch id: epoch seconds its commit-log entry was written}."""
    log = os.path.join(checkpoint, "commits")
    if not os.path.isdir(log):
        return {}
    return {
        int(n): os.stat(os.path.join(log, n)).st_mtime
        for n in os.listdir(log)
        if n.isdigit()
    }


def committed_files(checkpoint: str) -> dict[str, float]:
    """{file base name: commit time of the batch that read it}, for files
    whose batch has committed."""
    commits = commit_times(checkpoint)
    return {f: commits[b] for f, b in file_batches(checkpoint).items() if b in commits}
