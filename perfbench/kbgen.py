"""Seeded inputs for the benchmark: a large synthetic knowledge base and
transcript corpora that mention its surfaces.

Everything here is deterministic in the seed and uses only numpy and
pyarrow, so generating an input costs no Spark job and the program under
test receives nothing but the generated files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgx import resources

NS = "http://kgx.bench.example.org/kb#"

# arrow rendering of kgx.schema.TRANSCRIPTS: microsecond timestamps (Spark
# rejects TIMESTAMP(NANOS)) and a string-typed tool column even when every
# value is null (an all-null pandas column is written as type null, which the
# streaming file source refuses as a column-type mismatch)
TRANSCRIPTS_ARROW = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)

_SYLLABLES = (
    "ka ve lo ri tan mor sel du bra qui zen pa lum tor vex nia gor fel "
    "ost ril cam dor bex sul mir han tev ula rok pim jas"
).split()
_SUFFIXES = ["Holdings", "Systems", "Labs", "Group", "Works", "Capital", "Motors", "Foods"]
_TYPES = ["Company", "Company", "Stock", "Currency", "GeographicalRegion"]
_FILLER = (
    "the market report today noted that analysts were watching closely as "
    "trading volumes stayed steady and investors considered their positions"
).split()
_ROLES = ["user", "assistant", "tool"]
_EPOCH = dt.datetime(2025, 6, 1, 8, 0, 0)
TURNS_PER_CONV = 20


def _word(rng: np.random.Generator) -> str:
    n = int(rng.integers(2, 4))
    return "".join(rng.choice(_SYLLABLES, size=n)).capitalize()


def big_kb(n_entities: int, seed: int) -> resources.KnowledgeBase:
    """Default KB with its gazetteer replaced by `n_entities` synthetic
    entities of 1-3 surfaces each.

    Built so the engine switch and the entity-resolution paths are all hit:
    the surface count exceeds kgx.mentions.AC_AUTO_THRESHOLD; about 3% of
    aliases are shared by two entities (gazetteer first-wins); about 4% of
    entities reuse another entity's display name under their own uri and
    about 8% list an alias under its own display name (both merge in
    kgx.canonical's name-or-uri blocking)."""
    rng = np.random.default_rng([seed, 7001])
    base = resources.default_kb()
    reserved = {t.lower() for (t, _p) in base.lexicon}
    reserved |= {row[2].lower() for row in base.indicators}
    reserved |= {s.lower() for (s, _c) in base.feature_surfaces}
    reserved |= set(_FILLER)
    used: set[str] = set()
    names: list[str] = []
    gaz: list[tuple[str, str, str, str]] = []

    def fresh(make) -> str:
        while True:
            s = make()
            if s.lower() not in used and s.lower() not in reserved:
                used.add(s.lower())
                return s

    for i in range(n_entities):
        uri = f"{NS}E{i:05d}"
        etype = _TYPES[int(rng.integers(len(_TYPES)))]
        if names and rng.random() < 0.04:
            name = names[int(rng.integers(len(names)))]  # homonym, own uri
        else:
            name = fresh(lambda: _word(rng) + " " + _SUFFIXES[int(rng.integers(len(_SUFFIXES)))])
        names.append(name)
        gaz.append((uri, name, etype, name))
        for _ in range(int(rng.integers(0, 3))):
            alias = fresh(lambda: _word(rng))
            display = alias if rng.random() < 0.08 else name
            gaz.append((uri, display, etype, alias))
    # shared aliases: an existing surface also listed for another entity
    for _ in range(max(1, n_entities * 3 // 100)):
        (_u, _n, _t, surface) = gaz[int(rng.integers(len(gaz)))]
        (uri, name, etype, _s) = gaz[int(rng.integers(len(gaz)))]
        gaz.append((uri, name, etype, surface))
    return resources.KnowledgeBase(
        gazetteer=gaz,
        lexicon=list(base.lexicon),
        indicators=list(base.indicators),
        feature_alias=list(base.feature_alias),
        feature_surfaces=list(base.feature_surfaces),
    )


def conversations(
    kb: resources.KnowledgeBase,
    n_convs: int,
    seed: int,
    turns_per_conv: int = TURNS_PER_CONV,
    conv_offset: int = 0,
    prefix: str = "bench",
) -> pa.Table:
    """`n_convs` whole conversations (rows ordered by conversation, then
    turn) in the TRANSCRIPTS layout.

    Per turn: ten filler words; in ~85% of conversations an entity surface
    in 55% of turns (Zipf popularity over the gazetteer surfaces), an
    indicator in 15% and a feature word in a third of the entity turns;
    0-2 positive and 0-2 negative lexicon terms. Conversation ids are
    `{prefix}-{seed}-{index}` so inputs of different seeds never collide."""
    rng = np.random.default_rng([seed, 7002, conv_offset])
    surfaces = [s for (_u, _n, _t, s) in kb.gazetteer]
    zipf = 1.0 / np.arange(1, len(surfaces) + 1) ** 1.1
    zipf /= zipf.sum()
    inds = [row[2] for row in kb.indicators]
    feats = [s for (s, _c) in kb.feature_surfaces]
    pos = [t for (t, p) in kb.lexicon if p == "positive"]
    neg = [t for (t, p) in kb.lexicon if p == "negative"]
    n = n_convs * turns_per_conv

    filler = rng.integers(len(_FILLER), size=(n, 10))
    has_ent = np.repeat(rng.random(n_convs) >= 0.15, turns_per_conv)
    r = rng.random(n)
    ent = rng.choice(len(surfaces), size=n, p=zipf)
    ind = rng.integers(len(inds), size=n)
    feat_on = rng.random(n) < 0.35
    feat = rng.integers(len(feats), size=n)
    n_pos = rng.integers(0, 3, size=n)
    n_neg = rng.integers(0, 3, size=n)
    pos_pick = rng.integers(len(pos), size=(n, 2))
    neg_pick = rng.integers(len(neg), size=(n, 2))
    role = rng.integers(len(_ROLES), size=n)
    day_off = rng.integers(0, 6 * 86400, size=n_convs)

    texts = []
    for i in range(n):
        words = [_FILLER[j] for j in filler[i]]
        if has_ent[i]:
            if r[i] < 0.55:
                words.append(surfaces[ent[i]])
                if feat_on[i]:
                    words.append(feats[feat[i]])
            elif r[i] < 0.70:
                words.append(inds[ind[i]])
        words.extend(pos[pos_pick[i, k]] for k in range(n_pos[i]))
        words.extend(neg[neg_pick[i, k]] for k in range(n_neg[i]))
        texts.append(" ".join(words))

    conv_idx = np.arange(conv_offset, conv_offset + n_convs)
    turn = np.tile(np.arange(turns_per_conv, dtype=np.int32), n_convs)
    conv_ids = np.repeat([f"{prefix}-{seed}-{c:08d}" for c in conv_idx], turns_per_conv)
    ts = [
        _EPOCH + dt.timedelta(seconds=int(day_off[i // turns_per_conv]) + 60 * int(turn[i]))
        for i in range(n)
    ]
    return pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array([_ROLES[k] for k in role], pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.nulls(n, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us")),
        },
        schema=TRANSCRIPTS_ARROW,
    )


def write_parquet(table: pa.Table, path: str) -> None:
    """Write to a dot-file beside `path`, then rename: a watching file
    source never sees a half-written file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_corpus(
    kb: resources.KnowledgeBase, dirpath: str, n_convs: int, n_files: int, seed: int
) -> None:
    """A corpus of `n_convs` conversations split over `n_files` parquet
    files, one Spark scan task each."""
    os.makedirs(dirpath, exist_ok=True)
    per = -(-n_convs // n_files)
    for k in range(n_files):
        lo = k * per
        m = min(per, n_convs - lo)
        if m > 0:
            t = conversations(kb, m, seed, conv_offset=lo)
            write_parquet(t, os.path.join(dirpath, f"part-{k:03d}.parquet"))
