"""Open-loop conversation source for the stream workload.

Creates whole conversations at a fixed rate, independent of how fast the
stream keeps up, and every `--period` seconds lands the conversations
created in that slot as one parquet file in the watched directory (written
to a dot-file, then renamed). Appends one JSON line per file to
`--manifest`: the file name, its conversations' scheduled creation times,
when the file was due and when it was written.

    python3 perfbench/streamgen.py --dir IN --manifest M --seed 1 \
        --rate 12 --period 2 --t0 <epoch s> --n-files 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import kbgen  # noqa: E402
from kgx import resources  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--dir", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True, help="conversations per second")
    p.add_argument("--period", type=float, required=True, help="seconds between files")
    p.add_argument("--t0", type=float, required=True, help="epoch seconds of conversation 0")
    p.add_argument("--n-files", type=int, required=True)
    a = p.parse_args()

    kb = resources.default_kb()
    per_file = round(a.rate * a.period)
    with open(a.manifest, "a") as mf:
        for j in range(a.n_files):
            first = j * per_file
            table = kbgen.conversations(kb, per_file, a.seed, conv_offset=first, prefix="live")
            due = a.t0 + (j + 1) * a.period
            time.sleep(max(0.0, due - time.time()))
            name = f"live-{j:05d}.parquet"
            kbgen.write_parquet(table, os.path.join(a.dir, name))
            written = time.time()
            convs = table.column("conv_id").to_pylist()[:: len(table) // per_file]
            mf.write(
                json.dumps(
                    {
                        "file": name,
                        "convs": convs,
                        "created": [a.t0 + (first + i) / a.rate for i in range(per_file)],
                        "due": due,
                        "written": written,
                    }
                )
                + "\n"
            )
            mf.flush()


if __name__ == "__main__":
    main()
