"""Seeded input generator for the benchmark.

Everything a workload feeds the engine comes from here and from one
``--seed``: the base corpus, the query sets, the stream-ingest batches
and the delete sets. The generator is self-contained on purpose (it
does not import ``engine.corpusgen``), so a change to the engine can
never shift the benchmark's inputs.

Corpus shape: synthetic source files ``(doc_id, repo, path, lang,
text)``. ``text`` is pseudo-code drawn from a zipf(1) vocabulary: a
head of code keywords (some of them analyzer stop words, e.g. ``if``,
``for``, ``this``), then ``ident<i>`` identifiers, then a long
``t<i>`` tail up to ``VOCAB_SIZE`` distinct terms. Queries draw 2-5
terms from the same distribution, so their posting lists have the
corpus's own head/tail skew.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from oracle import STOP_WORDS

VOCAB_SIZE = 10_000
MIN_TOKENS, MAX_TOKENS = 20, 400
MIN_QTERMS, MAX_QTERMS = 2, 5

KEYWORDS = (
    "def class import return if else for while try except val var fun "
    "public static void int string new null this super match case object "
    "from self lambda yield async await const let func package struct"
).split()
LANGS = ("python", "java", "kotlin", "scala", "js", "go", "md")
EXT = ("py", "java", "kt", "scala", "js", "go", "md")


def vocabulary(size: int = VOCAB_SIZE) -> np.ndarray:
    """Rank-ordered vocabulary: rank 1 is the most frequent term."""
    n_ident = 1_000
    head = list(KEYWORDS) + [f"ident{i}" for i in range(n_ident)]
    tail = [f"t{i}" for i in range(len(head) + 1, size + 1)]
    return np.array((head + tail)[:size], dtype=object)


_VOCAB = vocabulary()


def _zipf_terms(rng: np.random.Generator, n: int) -> np.ndarray:
    """n terms with rank-r probability ~ 1/r (log-uniform rank)."""
    u = rng.random(n)
    idx = np.minimum(np.floor(VOCAB_SIZE ** u).astype(np.int64), VOCAB_SIZE)
    return _VOCAB[idx - 1]


def _texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_docs)
    toks = _zipf_terms(rng, int(lens.sum()))
    ends = np.cumsum(lens)
    return [" ".join(toks[e - n:e]) for e, n in zip(ends, lens)]


def corpus(seed: int, n_docs: int, first_id: int = 0,
           stream: str = "base") -> pd.DataFrame:
    """n_docs source-file rows with doc_ids first_id .. first_id+n_docs-1.

    ``stream`` names an independent random stream, so the base corpus
    and each ingest batch are drawn without sharing randomness."""
    rng = np.random.default_rng([seed, _stream_key(stream)])
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    lang = rng.integers(0, len(LANGS), size=n_docs)
    return pd.DataFrame({
        "doc_id": ids,
        "repo": [f"org{i % 7}/repo{i % 101}" for i in ids],
        "path": [f"src/dir{i % 13}/file{i}.{EXT[g]}"
                 for i, g in zip(ids, lang)],
        "lang": [LANGS[g] for g in lang],
        "text": _texts(rng, n_docs),
    })


def queries(seed: int, n: int, stream: str = "queries") -> pd.DataFrame:
    """n (query_id, query) rows, 2-5 zipf terms each.

    A query made only of stop words (it would match nothing) is
    redrawn, so every query has at least one indexable term."""
    rng = np.random.default_rng([seed, _stream_key(stream)])
    stop = set(STOP_WORDS)
    out = []
    while len(out) < n:
        k = int(rng.integers(MIN_QTERMS, MAX_QTERMS + 1))
        terms = _zipf_terms(rng, k)
        if all(t in stop for t in terms):
            continue
        out.append((f"{stream}-{len(out)}", " ".join(terms)))
    return pd.DataFrame(out, columns=["query_id", "query"])


def delete_set(seed: int, doc_ids: np.ndarray, frac: float,
               stream: str) -> list[int]:
    """A seeded sample of ``frac`` of doc_ids (at least one), sorted."""
    rng = np.random.default_rng([seed, _stream_key(stream)])
    n = max(1, int(round(len(doc_ids) * frac)))
    return sorted(int(d) for d in rng.choice(doc_ids, size=n, replace=False))


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write df as n_files parquet files under the directory path."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        df.iloc[part].to_parquet(os.path.join(path, f"part-{i:05d}.parquet"),
                                 index=False)


def digest(*frames: pd.DataFrame) -> str:
    """sha256 over the frames' contents, to record which inputs ran."""
    h = hashlib.sha256()
    for f in frames:
        h.update(pd.util.hash_pandas_object(f, index=False).values.tobytes())
        h.update(",".join(f.columns).encode())
    return h.hexdigest()


def _stream_key(name: str) -> int:
    return int.from_bytes(hashlib.sha256(name.encode()).digest()[:4], "big")
