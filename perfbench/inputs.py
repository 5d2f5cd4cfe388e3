"""Seeded workload inputs. Everything a workload feeds the program is
made here from `--seed`: the TPC-H query order, the document corpus
with its planted near-duplicates, and the `run_greatest` columns. The
TPC-H tables themselves are fixed (DuckDB's bundled dbgen) and cached
under the work root.

Pure Python: importing or calling these starts no Spark.
"""

from __future__ import annotations

import datetime
import itertools
import os
import random
from dataclasses import dataclass

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem")
TPCH_QUERIES = tuple(f"tpch_q{i}" for i in range(1, 23))

# English / German stopwords as the program's language-ID lists them
# (pipeline/text.py STOPWORDS); the corpus mixes both so the language
# filter has work to do.
EN_STOP = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
DE_STOP = ("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein")


def ensure_tpch(dest: str, sf: float) -> bool:
    """Generate TPC-H at scale `sf` into `dest` (one parquet per table)
    unless a finished copy is there. Returns True when it generated."""
    done = os.path.join(dest, "_COMPLETE")
    if os.path.exists(done):
        return False
    import duckdb

    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute(f"CALL dbgen(sf={sf})")
        for t in TPCH_TABLES:
            con.execute(f"COPY {t} TO '{dest}/{t}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()
    with open(done, "w") as f:
        f.write(f"sf={sf}\n")
    return True


def query_passes(seed: int):
    """Endless stream of passes, each a seeded permutation of q1-q22."""
    rng = random.Random(f"tpch-order:{seed}")
    while True:
        order = list(TPCH_QUERIES)
        rng.shuffle(order)
        yield order


# ---- document corpus ----------------------------------------------------------

@dataclass
class Corpus:
    docs: list[tuple[int, str]]             # (id, text)
    clusters: list[list[int]]               # planted near-duplicate clusters
    boilerplate: list[int]                  # ids of the oversized cluster
    held_out: list[list[int]]               # probe batches (ids)
    indexed: list[int]                      # ids in the index


def _pseudo_words(rng: random.Random, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "an", "pi",
            "qua", "ber", "ton", "is", "gal", "mur", "zen", "fo", "li", "ex"]
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def make_corpus(seed: int, n_docs: int, dup_share: float, max_bucket: int,
                batch_size: int, held_share: float = 0.1) -> Corpus:
    """A corpus of `n_docs` documents over a Zipf-like vocabulary:

    - about `dup_share` of the documents sit in planted near-duplicate
      clusters of 2-4 members, each member one or two token
      substitutions away from the cluster's base text;
    - one boilerplate cluster of `max_bucket + 40` identical documents,
      larger than the dedup hot-bucket guard, so the guard runs;
    - a German tenth and a short tenth, which the language / quality
      filter drops.

    The held-out share is drawn from the other documents (the
    boilerplate stays indexed) and split into probe batches of
    `batch_size`; the rest is `indexed`."""
    rng = random.Random(f"corpus:{seed}")
    vocab = list(EN_STOP) + _pseudo_words(rng, 3000)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.05 for r in range(len(vocab))))

    def body(k: int) -> list[str]:
        return rng.choices(vocab, cum_weights=cum, k=k)

    texts: list[list[str]] = []
    clusters: list[list[int]] = []
    n_boiler = max_bucket + 40
    n_plain = n_docs - n_boiler
    while len(texts) < n_plain:
        roll = rng.random()
        if roll < 0.1:
            texts.append([rng.choice(DE_STOP) if rng.random() < 0.3
                          else rng.choice(vocab[10:]) for _ in range(rng.randint(40, 120))])
        elif roll < 0.2:
            texts.append(body(rng.randint(4, 12)))
        elif roll < 0.2 + dup_share / 2.5 and len(texts) + 4 <= n_plain:
            base = body(rng.randint(50, 120))
            ids = [len(texts)]
            texts.append(base)
            for _ in range(rng.randint(1, 3)):
                var = list(base)
                for _ in range(rng.randint(1, 2)):
                    var[rng.randrange(len(var))] = rng.choice(vocab[10:])
                ids.append(len(texts))
                texts.append(var)
            clusters.append(ids)
        else:
            texts.append(body(rng.randint(40, 120)))
    boiler_text = ["the", "terms", "of", "use", "and", "the", "privacy",
                   "notice", "apply", "to", "all", "content", "that", "is",
                   "in", "this", "archive", "for", "reuse"] + body(20)
    boilerplate = list(range(len(texts), len(texts) + n_boiler))
    texts.extend([boiler_text] * n_boiler)

    # ids are 1-based and shuffled so clusters are not contiguous
    perm = list(range(1, len(texts) + 1))
    rng.shuffle(perm)
    docs = [(perm[i], " ".join(t)) for i, t in enumerate(texts)]
    docs.sort()
    clusters = [sorted(perm[i] for i in c) for c in clusters]
    boilerplate = sorted(perm[i] for i in boilerplate)

    boiler_set = set(boilerplate)
    candidates = [d for d, _ in docs if d not in boiler_set]
    n_held = int(len(docs) * held_share) // batch_size * batch_size
    held = sorted(rng.sample(candidates, n_held))
    rng.shuffle(held)
    batches = [sorted(held[i:i + batch_size]) for i in range(0, n_held, batch_size)]
    held_set = set(held)
    indexed = [d for d, _ in docs if d not in held_set]
    return Corpus(docs=docs, clusters=clusters, boilerplate=boilerplate,
                  held_out=batches, indexed=indexed)


# ---- run_greatest columns ---------------------------------------------------------

GREATEST_SHAPES = ("int", "float", "temporal", "string")


def make_columns(seed: int, shape: str, rows: int, call: int) -> list[list]:
    """Equal-length columns for one run_greatest call. ~10% NULLs per
    cell and ~2% all-NULL rows in every shape; `float` puts an int
    column beside double columns holding NaNs, `int` a boolean column
    beside int columns (widened to int64), `temporal` a date column
    beside timestamps.

    Every column holds one Python type: `run_greatest` infers a double
    column for ints mixed with floats, but Spark's createDataFrame then
    rejects the ints, so such a column would make every call fail."""
    rng = random.Random(f"greatest:{seed}:{shape}:{call}")
    epoch = datetime.datetime(2020, 1, 1)

    def cell(i: int):
        if shape == "int":
            return rng.random() < 0.5 if i == 3 else rng.randint(-10**6, 10**6)
        if shape == "float":
            if i == 0:
                return rng.randint(-10**6, 10**6)
            return float("nan") if rng.random() < 0.03 else rng.uniform(-1e6, 1e6)
        if shape == "temporal":
            t = epoch + datetime.timedelta(seconds=rng.randint(0, 3 * 365 * 86400))
            return t.date() if i == 0 else t
        return "".join(rng.choice("abcdefghij") for _ in range(rng.randint(1, 8)))

    n_cols = 3 if shape in ("temporal", "string") else 4
    cols: list[list] = [[] for _ in range(n_cols)]
    for _ in range(rows):
        all_null = rng.random() < 0.02
        for i in range(n_cols):
            cols[i].append(None if all_null or rng.random() < 0.1 else cell(i))
    return cols
