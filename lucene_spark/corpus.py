"""Deterministic synthetic source-code corpus generator (FIXTURES.md §1).

Schema matches BASELINE.json input_hint exactly:
  (repo:string, path:string, commit:string, lang:string, content:string)

Generation is fully deterministic (seeded RNG, fixed ordering):
  - Zipf-skewed hot tokens ('import', 'return', 'def', 'public') so hot
    terms span many blocks in every segment (block-max pruning has
    something to skip);
  - a few docs with >255-char identifiers (token-length splitting);
  - a few empty files.
"""

from __future__ import annotations

import hashlib
import random
from typing import List, Tuple

KEYWORDS = ["import", "return", "def", "public"]  # Zipf head
VOCAB = [
    "class", "static", "void", "self", "lambda", "struct", "interface",
    "async", "await", "yield", "raise", "except", "finally", "while",
    "break", "continue", "match", "case", "const", "let", "var", "func",
    "package", "module", "export", "extends", "implements", "override",
    "string", "integer", "float", "boolean", "array", "vector", "buffer",
    "stream", "socket", "thread", "mutex", "atomic", "channel", "queue",
    "parse", "format", "encode", "decode", "hash", "digest", "cipher",
    "handler", "listener", "callback", "promise", "future", "task",
    "error", "warning", "debug", "trace", "panic", "assert", "verify",
    "config", "option", "setting", "param", "argument", "value", "result",
]
EXT = {"py": "py", "java": "java", "go": "go", "js": "js"}
LANGS = ["py", "java", "go", "js"]


def _identifiers(rng: random.Random, n: int) -> List[str]:
    return [
        f"{rng.choice(VOCAB)}_{rng.choice(VOCAB)}_{rng.randrange(1000)}"
        for _ in range(n)
    ]


def make_corpus(n_docs: int, seed: int = 42) -> List[Tuple[str, str, str, str, str]]:
    """Returns rows (repo, path, commit, lang, content), deterministic."""
    rng = random.Random(seed)
    idents = _identifiers(rng, max(50, n_docs // 10))
    rows = []
    n_repos = 8
    for i in range(n_docs):
        lang = LANGS[i % 4]
        repo = f"org/repo{i % n_repos}"
        path = f"src/dir{i % 13}/file{i}.{EXT[lang]}"
        commit = hashlib.sha1(f"commit{i // 100}".encode()).hexdigest()[:12]
        if i % 97 == 13:
            content = ""  # empty file
        else:
            n_tokens = rng.randrange(20, 200)
            words = []
            for _ in range(n_tokens):
                r = rng.random()
                if r < 0.30:  # Zipf head: hot keywords ~30% of tokens
                    words.append(KEYWORDS[min(int(rng.paretovariate(1.2)) - 1, 3) % 4])
                elif r < 0.45:
                    words.append(rng.choice(VOCAB))
                elif r < 0.50:
                    words.append(rng.choice(["the", "a", "of", "to", "in"]))  # stopwords
                else:
                    words.append(rng.choice(idents))
            if i % 211 == 7:
                words.append("x" * 300)  # >255-char identifier
            content = " ".join(words)
        rows.append((repo, path, commit, lang, content))
    return rows


def corpus_spark_df_dist(spark, n_docs: int, seed: int = 42, num_partitions: int = 64):
    """Distributed deterministic corpus: numpy-vectorized generation inside
    mapInPandas (per-partition seeded RNG). For throughput/scaling
    benchmarks at 10^5..10^7 docs where the driver-side generator is too
    slow; same schema and token mix shape as make_corpus — a Zipf head of
    hot keywords plus a LONG TAIL of ~n_docs/10 rare identifiers (real code
    vocabulary), so rare-lead conjunctions and MAXSCORE restriction have
    blocks to skip."""
    import numpy as np
    import pandas as pd

    common = np.array(KEYWORDS * 8 + VOCAB + ["the", "a", "of", "to", "in"], dtype=object)
    n_idents = max(200, n_docs // 10)
    id_rng = np.random.default_rng(seed)
    idents = np.array(
        [
            f"{a}_{b}_{n}"
            for a, b, n in zip(
                id_rng.choice(VOCAB, size=n_idents),
                id_rng.choice(VOCAB, size=n_idents),
                id_rng.integers(0, 10_000, size=n_idents),
            )
        ],
        dtype=object,
    )
    vocab = np.concatenate((common, idents))
    # token-mass split: 35% hot keywords, 25% mid-frequency words, 40% the
    # identifier long tail, itself Zipf(1/rank) so identifier df spans from
    # thousands of docs down to a handful — like real code vocabulary
    n_hot = len(KEYWORDS) * 8
    n_mid = len(common) - n_hot
    tail_w = 1.0 / np.arange(1, n_idents + 1)
    p = np.empty(len(vocab))
    p[:n_hot] = 0.35 / n_hot
    p[n_hot : len(common)] = 0.25 / n_mid
    p[len(common) :] = 0.40 * tail_w / tail_w.sum()
    p /= p.sum()

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(seed * 1_000_003 + int(ids[0]))
            n = len(ids)
            counts = rng.integers(20, 200, size=n)
            flat = rng.choice(vocab, p=p, size=int(counts.sum()))
            bounds = np.cumsum(counts)[:-1]
            contents = [" ".join(c) for c in np.split(flat, bounds)]
            langs = np.array(LANGS, dtype=object)[ids % 4]
            yield pd.DataFrame(
                {
                    "repo": [f"org/repo{i % 8}" for i in ids],
                    "path": [f"src/dir{i % 13}/file{i}.py" for i in ids],
                    "commit": [hashlib.sha1(f"commit{i // 100}".encode()).hexdigest()[:12] for i in ids],
                    "lang": langs,
                    "content": contents,
                }
            )

    return (
        spark.range(n_docs, numPartitions=num_partitions)
        .mapInPandas(gen, "repo string, path string, commit string, lang string, content string")
    )


def corpus_spark_df(spark, n_docs: int, seed: int = 42, num_partitions: int | None = None):
    """Corpus as a Spark DataFrame (content sha256 computed engine-side)."""
    rows = make_corpus(n_docs, seed)
    df = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    if num_partitions:
        df = df.repartition(num_partitions)
    return df
