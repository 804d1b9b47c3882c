"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: one ``numpy`` PCG64
stream per table, written with pyarrow in a fixed row order, so the same
seed gives byte-identical parquet files.  Nothing here imports the
library under test.

Turns follow the north-rule schema ``(conv_id, turn_idx, role, text,
tool, ts)`` with the properties the engine's operators depend on:

- long-tailed conversation lengths (log-normal) plus one hot conversation;
- session gaps of more than 30 minutes inside conversations;
- about 5% null ``role`` (the forward-fill input);
- about 20% exact re-ingested rows (the ``dedup_latest`` input);
- mostly unique texts drawn from a Zipf vocabulary;
- timestamps straddling the dictionary-version boundaries.

Documents carry a stated share of exact copies and of near-duplicate
chains (each link a small edit of the previous one, so the two ends of a
chain are far apart and connected components need several rounds).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
T0_US = 1_704_067_200 * US  # 2024-01-01 00:00:00 UTC
HISTORY_S = 3 * 86_400  # turns span three days
# dictionary versions take effect at these offsets from T0 (v1 covers all)
DICT_BOUNDARIES_S = (-86_400, 30 * 3_600, 54 * 3_600)
SESSION_GAP_S = 1_800
VOCAB = 20_000
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "python", "browser", "sql")

NULL_ROLE_SHARE = 0.05
REINGEST_SHARE = 0.20
DOC_EXACT_SHARE = 0.10  # docs that are exact copies of another doc
DOC_CHAIN_SHARE = 0.30  # docs that are links of a near-duplicate chain
DOC_CHAIN_LEN = 6

TURN_SCHEMA = pa.schema([
    ("conv_id", pa.int64()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


@functools.lru_cache(maxsize=4)
def vocabulary(seed: int) -> np.ndarray:
    """VOCAB distinct pseudo-words, ranked by Zipf frequency."""
    rng = _rng(seed, 0)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: dict[str, None] = {}
    while len(words) < VOCAB:
        n = rng.integers(2, 10)
        words.setdefault(letters[rng.integers(0, 26, n)].tobytes().decode(), None)
    return np.array(list(words), dtype=object)


def _zipf_ranks(rng, n: int, a: float = 1.1) -> np.ndarray:
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB + 1) ** a)
    return np.searchsorted(cdf / cdf[-1], rng.random(n), side="right")


def _texts(rng, vocab: np.ndarray, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = vocab[_zipf_ranks(rng, int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def _lengths(rng, n_turns: int) -> np.ndarray:
    """Long-tailed conversation lengths summing to n_turns; the first
    conversation is the hot one (~50x the median length)."""
    lens = np.clip(rng.lognormal(2.3, 0.9, n_turns), 1, 400).astype(np.int64)
    lens[0] = min(max(lens[0], 50 * int(np.median(lens))), n_turns // 10)
    ends = np.cumsum(lens)
    last = int(np.searchsorted(ends, n_turns))
    lens = lens[: last + 1]
    lens[-1] -= ends[last] - n_turns
    return lens


def turns(seed: int, n_turns: int, conv_base: int = 0, t_start_s: int = 0,
          span_s: int = HISTORY_S, reingest: float = REINGEST_SHARE,
          stream: int = 1) -> pa.Table:
    """``n_turns`` distinct turns (plus ``reingest`` x exact copies).

    Conversation ``c`` gets id ``conv_base + c``; its first turn lands
    uniformly in ``[t_start_s, t_start_s + span_s)`` after T0.
    """
    rng = _rng(seed, stream)
    vocab = vocabulary(seed)
    lens = _lengths(rng, n_turns)
    n_conv = len(lens)
    conv = np.repeat(np.arange(conv_base, conv_base + n_conv, dtype=np.int64), lens)
    first = np.repeat(np.cumsum(lens) - lens, lens)
    idx = (np.arange(n_turns) - first).astype(np.int32)
    # in-session gaps ~ exponential(90 s); 8% of turns open a new session
    gap = rng.exponential(90.0, n_turns) + 1.0
    new_session = rng.random(n_turns) < 0.08
    gap[new_session] = rng.uniform(SESSION_GAP_S + 60, 6 * 3_600, int(new_session.sum()))
    gap[idx == 0] = 0.0
    start = rng.integers(t_start_s, t_start_s + span_s, n_conv)
    cs = np.cumsum(gap)
    offs = cs - cs[first]
    ts = T0_US + np.repeat(start, lens) * US + (offs * US).astype(np.int64)
    role_i = np.where(idx % 2 == 0, 0, np.where(rng.random(n_turns) < 0.15, 2, 1))
    role = np.array(ROLES, dtype=object)[role_i]
    role[rng.random(n_turns) < NULL_ROLE_SHARE] = None
    tool = np.where(role_i == 2, np.array(TOOLS, dtype=object)[rng.integers(0, 4, n_turns)], None)
    text = _texts(rng, vocab, n_turns, 6, 40)
    # exact re-ingest: a copy of a random subset, then a seeded shuffle
    dup = np.nonzero(rng.random(n_turns) < reingest)[0]
    order = rng.permutation(np.concatenate([np.arange(n_turns), dup]))
    cols = [conv, idx, role, np.array(text, dtype=object), tool, ts]
    return pa.Table.from_arrays(
        [pa.array(c[order], type=f.type) for c, f in zip(cols, TURN_SCHEMA)],
        schema=TURN_SCHEMA,
    )


def corrections(seed: int, base: pa.Table, n: int, stream: int) -> pa.Table:
    """Late corrections: ``n`` distinct earlier turns with a revised text."""
    rng = _rng(seed, stream)
    key = (base.column("conv_id").to_numpy() << 32) | base.column("turn_idx").to_numpy()
    _, first_rows = np.unique(key, return_index=True)
    out = base.take(pa.array(np.sort(rng.choice(first_rows, n, replace=False))))
    text = _texts(rng, vocabulary(seed), n, 6, 40)
    return out.set_column(3, "text", pa.array([f"[edit] {t}" for t in text]))


def conv_attributes(seed: int, n_conv: int, t_start_s: int = 0,
                    span_s: int = HISTORY_S) -> pa.Table:
    """Keyed SCD-2 dimension ``(conv_id, attr_from, tier, region)``:
    1-4 versions per conversation, the first one before any turn."""
    rng = _rng(seed, 2)
    nver = rng.integers(1, 5, n_conv)
    conv = np.repeat(np.arange(n_conv, dtype=np.int64), nver)
    first = np.repeat(np.cumsum(nver) - nver, nver)
    k = np.arange(len(conv)) - first
    t = np.where(k == 0, t_start_s - 86_400,
                 rng.integers(t_start_s, t_start_s + span_s + 86_400, len(conv)))
    # + k seconds keeps valid_from distinct within a key
    ts = T0_US + t.astype(np.int64) * US + k * US
    tier = np.array(["free", "pro", "team", "enterprise"], dtype=object)[rng.integers(0, 4, len(conv))]
    region = np.array(["us", "eu", "apac"], dtype=object)[rng.integers(0, 3, len(conv))]
    return pa.table({
        "conv_id": pa.array(conv),
        "attr_from": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "tier": pa.array(tier, type=pa.string()),
        "region": pa.array(region, type=pa.string()),
    })


def _edit(rng, vocab, words: list[str], frac: float) -> list[str]:
    w = np.array(words, dtype=object)
    pos = rng.choice(len(w), max(1, int(frac * len(w))), replace=False)
    w[pos] = vocab[_zipf_ranks(rng, len(pos))]
    return list(w)


def documents(seed: int, n_docs: int) -> pa.Table:
    """Curation corpus ``(doc_id, text, quality)``.

    DOC_CHAIN_SHARE of the docs are links of near-duplicate chains of
    DOC_CHAIN_LEN docs (each link rewrites ~6% of the previous link's
    words), DOC_EXACT_SHARE are exact copies of another doc, the rest are
    unique. Ids are a seeded permutation, so chain order is not id order.
    """
    rng = _rng(seed, 3)
    vocab = vocabulary(seed)
    n_chain = int(n_docs * DOC_CHAIN_SHARE) // DOC_CHAIN_LEN
    n_copy = int(n_docs * DOC_EXACT_SHARE)
    n_uniq = n_docs - n_chain * DOC_CHAIN_LEN - n_copy
    texts: list[str] = []
    for t in _texts(rng, vocab, n_chain, 60, 160):
        words = t.split(" ")
        for _ in range(DOC_CHAIN_LEN):
            texts.append(" ".join(words))
            words = _edit(rng, vocab, words, 0.06)
    texts += _texts(rng, vocab, n_uniq, 60, 160)
    texts += [texts[i] for i in rng.integers(0, len(texts), n_copy)]
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, type=pa.string()),
        "quality": pa.array(rng.random(n_docs)),
    })


def write(table: pa.Table, path: str, n_files: int = 8) -> str:
    """Write ``table`` as a directory of ``n_files`` parquet parts (contiguous
    row ranges), so a scan has that many splits at any core count."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="snappy")
    return path
