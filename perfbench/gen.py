"""Seeded input generator for the benchmark.

Writes, from one integer seed, everything a workload feeds the engine:

- ``corpus.parquet``   transcripts(conv_id, turn_idx, role, text, tool, ts)
  with a Zipf vocabulary, 2-40 turns per conversation, 0-60 words per
  turn, empty and whitespace-only turns (but at least one worded turn
  per conversation), a few non-ASCII tokens (casefold/NFKC paths) and
  ``ts`` as a UTC-adjusted TIMESTAMP;
- ``queries.parquet``  a fixed shape mix of queries whose terms are
  drawn by document-frequency quantile, so every seed gives the same
  mix of hot, rare and absent terms;
- ``churn_<r>.parquet``  for each churn round r, the full corpus after
  it (1% of conversations removed, 1% added and 1% changed per round):
  the ``new_transcripts`` a sync receives.

Generation is numpy-vectorized and deterministic: the same seed and
sizes give byte-identical files.

    python3 perfbench/gen.py --seed 7 --workload search --out inputs/
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 20_000
ZIPF_S = 1.07
# tokens that only normalize to ASCII terms through NFKC / casefold
# (ligature, fullwidth, sharp s) or split on accented letters
SPECIAL_WORDS = ["café", "naïve", "Straße", "ﬁnance", "ＴＥＳＴ", "Über"]
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "python", "browser"], dtype=object)
TS0 = np.datetime64("2024-01-01T00:00:00", "us")

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        # tz-aware: parquet isAdjustedToUTC=true reads back as Spark
        # TIMESTAMP. A naive column reads as TIMESTAMP_NTZ, which the
        # store's content-hash step cannot cast to BIGINT.
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)
QUERY_SCHEMA = pa.schema(
    [
        pa.field("qid", pa.string(), nullable=False),
        pa.field("kind", pa.string(), nullable=False),
        pa.field("q", pa.string(), nullable=False),
        pa.field("k", pa.int32(), nullable=False),
    ]
)

# Query kinds. Bags (hot_rare, rare, hot, absent, nonascii) are served
# by WAND, "and" by conjunctive_topk and "phrase" by phrase_topk.
# Hot+rare bags are where block-max pruning can win, hot-only bags
# where it cannot. Each workload's mix is [(kind, count), ...]; the k
# of each query is fixed by its position (see _queries).
MIXES = {
    "search": [("hot_rare", 3), ("rare", 1), ("hot", 2), ("absent", 1),
               ("nonascii", 1), ("and", 1), ("phrase", 1)],
    "churn": [("hot_rare", 2), ("hot", 1), ("rare", 1), ("and", 1), ("phrase", 1)],
}
CHURN_SHARE = 0.01


def vocabulary() -> np.ndarray:
    """20k distinct lowercase 6-letter words (three CV syllables)."""
    syl = np.array([c + v for c in "bdfgklmnprstvz" for v in "aeiou"], dtype=object)
    i = np.arange(VOCAB)
    n = len(syl)
    return syl[i // (n * n) % n] + syl[i // n % n] + syl[i % n]


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    c = np.cumsum(w)
    return c / c[-1]


def _conversations(rng: np.random.Generator, ids: np.ndarray, vocab, cdf):
    """Turn columns for the conversations numbered ``ids``, plus the
    vocabulary id of every plain word (for document frequencies)."""
    n_turns = rng.integers(2, 41, size=ids.size)
    conv_of_turn = np.repeat(np.arange(ids.size), n_turns)
    n = conv_of_turn.size
    turn_idx = np.concatenate([np.arange(t) for t in n_turns]).astype(np.int32)
    n_words = rng.integers(0, 61, size=n)
    kind = rng.random(n)  # 3% empty, 2% whitespace-only
    n_words[kind < 0.05] = 0
    # A conversation of only blank turns trips a known engine defect
    # (record.json known_defects, ordered_turns): give such a
    # conversation's first turn words. Other conversations are untouched.
    blank_conv = np.bincount(conv_of_turn, weights=n_words > 0, minlength=ids.size) == 0
    if blank_conv.any():
        first = (np.cumsum(n_turns) - n_turns)[blank_conv]
        kind[first] = 1.0
        n_words[first] = rng.integers(1, 61, size=first.size)
    word_ids = np.searchsorted(cdf, rng.random(int(n_words.sum())))
    words = vocab[word_ids].copy()
    cap = rng.random(words.size) < 0.05
    words[cap] = np.char.capitalize(words[cap].astype(str)).astype(object)
    special = np.flatnonzero(rng.random(words.size) < 0.002)
    words[special] = np.array(SPECIAL_WORDS, dtype=object)[
        rng.integers(0, len(SPECIAL_WORDS), size=special.size)
    ]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = np.array(
        [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])], dtype=object
    )
    text[(kind >= 0.03) & (kind < 0.05)] = " \t "
    role_i = rng.integers(0, 3, size=n)
    tool = np.where(role_i == 2, TOOLS[rng.integers(0, 3, size=n)], None)
    ts = TS0 + (ids[conv_of_turn] * 3600 + turn_idx.astype(np.int64) * 7).astype(
        "timedelta64[s]"
    )
    cols = {
        "cid": ids[conv_of_turn],
        "conv_id": np.array([f"c{i:07d}" for i in ids], dtype=object)[conv_of_turn],
        "turn_idx": turn_idx,
        "role": ROLES[role_i],
        "text": text,
        "tool": tool,
        "ts": ts,
    }
    word_conv = np.repeat(conv_of_turn, n_words)
    plain = ~np.isin(np.arange(words.size), special)
    return cols, ids[word_conv[plain]], word_ids[plain]


def _table(cols: dict) -> pa.Table:
    order = np.lexsort((cols["turn_idx"], cols["conv_id"]))
    arrays = [
        pa.array(cols["conv_id"][order], pa.string()),
        pa.array(cols["turn_idx"][order], pa.int32()),
        pa.array(cols["role"][order], pa.string()),
        pa.array(cols["text"][order], pa.string()),
        pa.array(cols["tool"][order], pa.string()),
        pa.array(cols["ts"][order].astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
    ]
    return pa.Table.from_arrays(arrays, schema=SCHEMA)


def _doc_freq(word_conv: np.ndarray, word_ids: np.ndarray) -> np.ndarray:
    """Conversations containing each plain vocabulary word."""
    pairs = np.unique(word_conv.astype(np.int64) * VOCAB + word_ids)
    return np.bincount(pairs % VOCAB, minlength=VOCAB)


def _queries(rng, vocab, df: np.ndarray, corpus: pa.Table, mix) -> pa.Table:
    present = np.flatnonzero(df > 0)
    by_df = present[np.argsort(-df[present], kind="stable")]
    hot = by_df[: max(8, by_df.size // 100)]  # top 1% by df
    rare = by_df[by_df.size // 2 :]  # lower half by df (df >= 1)
    hot_words = set(vocab[hot])
    text = corpus.column("text").to_numpy(zero_copy_only=False)
    conv = corpus.column("conv_id").to_numpy(zero_copy_only=False)

    def pick(pool, n):
        return list(vocab[rng.choice(pool, size=n, replace=False)])

    def words_of_some_turn(min_words):
        while True:
            i = int(rng.integers(0, text.size))
            w = str(text[i]).split()
            if len(w) >= min_words:
                return i, w

    rows = []
    for kind, count in mix:
        for j in range(count):
            fake = f"zq{int(rng.integers(0, 10**6)):06d}x"
            if kind == "hot_rare":
                terms = pick(hot, 1 + j % 2) + pick(rare, 1 + (j + 1) % 2)
            elif kind == "rare":
                terms = pick(rare, 1 + j % 3)
            elif kind == "hot":
                terms = pick(hot, 2 + j % 2)
            elif kind == "absent":  # all absent, then half absent
                terms = [fake] if j % 2 == 0 else [fake] + pick(hot, 1)
            elif kind == "nonascii":  # NFKC / casefold spellings
                terms = ["Café", "NAÏVE"] if j % 2 == 0 else ["Straße"] + pick(hot, 1)
            elif kind == "and":
                # a hot and a non-hot word of one conversation, so the
                # conjunction is non-empty
                while True:
                    i, _ = words_of_some_turn(1)
                    ws = " ".join(text[conv == conv[i]]).split()
                    h = sorted({w for w in ws if w in hot_words})
                    o = sorted({w for w in ws if w.islower() and w.isascii()} - hot_words)
                    if h and o:
                        terms = [h[rng.integers(0, len(h))], o[rng.integers(0, len(o))]]
                        break
            elif kind == "phrase":  # consecutive words of a real turn
                _, w = words_of_some_turn(8)
                a = int(rng.integers(0, len(w) - 3))
                terms = w[a : a + 2 + j % 2]
            else:
                raise ValueError(f"unknown query kind {kind!r}")
            if kind != "phrase":
                terms = list(rng.permutation(np.array(terms, dtype=object)))
            rows.append((f"{kind}{j:02d}", kind, " ".join(terms)))
    # k by position, the same for every seed: mostly 10, some 1 and 100
    ks = [1 if i % 8 == 3 else 100 if i % 8 == 5 else 10 for i in range(len(rows))]
    return pa.Table.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.string()),
            pa.array([r[2] for r in rows], pa.string()),
            pa.array(ks, pa.int32()),
        ],
        schema=QUERY_SCHEMA,
    )


def generate(seed: int, n_convs: int, out: str, mix, churn_rounds: int = 0) -> dict:
    """Write the corpus, the query set for ``mix`` and ``churn_rounds``
    churn snapshots for ``seed`` under ``out``. Returns {name: path}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab, cdf = vocabulary(), _zipf_cdf()
    ids = np.arange(n_convs)
    cols, word_conv, word_ids = _conversations(rng, ids, vocab, cdf)
    corpus = _table(cols)
    paths = {"corpus": os.path.join(out, "corpus.parquet")}
    pq.write_table(corpus, paths["corpus"])
    queries = _queries(rng, vocab, _doc_freq(word_conv, word_ids), corpus, mix)
    paths["queries"] = os.path.join(out, "queries.parquet")
    pq.write_table(queries, paths["queries"])
    live, next_id, base = ids, n_convs, cols
    m = max(1, int(round(n_convs * CHURN_SHARE)))
    for r in range(1, churn_rounds + 1):
        shuffled = rng.permutation(live)
        removed, changed = shuffled[:m], shuffled[m : 2 * m]
        added = np.arange(next_id, next_id + m)
        next_id += m
        keep = ~np.isin(base["cid"], np.concatenate([removed, changed]))
        fresh, _, _ = _conversations(rng, np.concatenate([changed, added]), vocab, cdf)
        base = {k: np.concatenate([v[keep], fresh[k]]) for k, v in base.items()}
        live = np.union1d(np.setdiff1d(live, removed), added)
        paths[f"churn_{r}"] = os.path.join(out, f"churn_{r}.parquet")
        pq.write_table(_table(base), paths[f"churn_{r}"])
    return paths


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--convs", type=int, default=1000)
    p.add_argument("--workload", choices=sorted(MIXES), default="search")
    p.add_argument("--churn-rounds", type=int, default=1)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    paths = generate(a.seed, a.convs, a.out, MIXES[a.workload], a.churn_rounds)
    for name, path in paths.items():
        print(name, path, os.path.getsize(path))


if __name__ == "__main__":
    main()
