"""Output checks, run outside every timed region.

Triples are compared on their semantic key against the independent
pure-Python oracle in tests/oracle.py, never on internal hash ids.
"""

from __future__ import annotations

import random
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

from kgx import resources
from tests.oracle import Oracle

KEY_COLS = [
    "conv_id",
    "turn_idx",
    "level",
    "subj_name",
    "subj_uri",
    "subj_type",
    "pred",
    "subfeature",
    "obj_polarity",
    "score",
    "classifier",
    "dom_label",
    "indicator_uri",
]


def semantic_keys(df: pd.DataFrame) -> dict[str, set[tuple]]:
    """{conv_id: set of semantic triple keys} with scores and turn indexes
    normalized so Decimal/float/int renderings compare equal."""
    score_i = KEY_COLS.index("score")
    turn_i = KEY_COLS.index("turn_idx")

    def norm(v, i):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        if i == score_i:
            return str(Decimal(str(v)).normalize())
        if i == turn_i:
            return str(int(float(v)))
        return str(v)

    out: dict[str, set[tuple]] = {}
    for r in df[KEY_COLS].itertuples(index=False):
        key = tuple(norm(v, i) for i, v in enumerate(r))
        out.setdefault(key[0], set()).add(key)
    return out


def read_triples(path: str, conv_ids: list[str] | None = None) -> pd.DataFrame:
    """Triples under a hive-partitioned parquet dir, optionally only the
    given conversations. Scores are read as strings to keep all digits."""
    dset = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field("conv_id").isin(conv_ids) if conv_ids is not None else None
    t = dset.to_table(columns=KEY_COLS, filter=flt)
    t = t.set_column(
        KEY_COLS.index("score"), "score", t.column("score").cast(pa.string())
    )
    return t.to_pandas()


def count_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def sample_convs(conv_ids: list[str], n: int, seed: int) -> list[str]:
    ids = sorted(set(conv_ids))
    return sorted(random.Random(seed).sample(ids, min(n, len(ids))))


def oracle_mismatches(
    kb: resources.KnowledgeBase,
    transcripts: pd.DataFrame,
    triples: pd.DataFrame,
    conv_ids: list[str],
) -> list[str]:
    """Conversations among `conv_ids` whose triples differ from the
    oracle's. `transcripts` and `triples` may hold other conversations."""
    src = transcripts[transcripts["conv_id"].isin(conv_ids)]
    want = semantic_keys(Oracle(kb).run(src)) if len(src) else {}
    got = semantic_keys(triples[triples["conv_id"].isin(conv_ids)])
    return [c for c in conv_ids if want.get(c, set()) != got.get(c, set())]
