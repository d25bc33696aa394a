"""Seeded inputs: a Zipfian vocabulary, documents and 1-3-term queries.

Callers fix the number of query terms (cycling 1, 2, 2, 3), so every
seed issues the same mix of query lengths.

The vocabulary order is fixed; only the sampling depends on the seed,
so every seed draws from the same distribution and the figures of two
seeds differ by sampling noise only.
"""

from __future__ import annotations

import itertools
import random

# The words of the engine's own test corpus come first, so the
# registry's fixed FTS queries ("hash join merge", "hash join") match.
_HEAD = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "agg", "key", "query", "scan", "batch",
)
_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
VOCAB_SIZE = 4000
ZIPF_S = 1.0
#: documents stay below the default 1000-character chunk size, so a
#: document stored with default chunking is exactly one chunk
MAX_DOC_CHARS = 900
LANGS = ("en", "es", "de", "fr", "zh")
SOURCES = tuple(f"src{i}" for i in range(5))
TYPES = ("note", "page", "mail")


def vocabulary() -> list[str]:
    """Fixed word list: the head words, then consonant-vowel words.
    Every word ends in a vowel, so none ends in a code or markup marker
    the content-type detector looks for."""
    syll = [c + v for c in _CONSONANTS for v in _VOWELS]
    words = list(_HEAD)
    for n in itertools.count(2):
        for parts in itertools.product(syll, repeat=n):
            words.append("".join(parts))
            if len(words) == VOCAB_SIZE:
                return words
    raise AssertionError("unreachable")


class Corpus:
    """Draws documents and queries from one Zipfian distribution."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.words = vocabulary()
        self.cum = list(itertools.accumulate(
            1.0 / (r + 1) ** ZIPF_S for r in range(len(self.words))))

    def _words(self, k: int) -> list[str]:
        return self.rng.choices(self.words, cum_weights=self.cum, k=k)

    def text(self, lo: int = 40, hi: int = 110) -> str:
        words = self._words(self.rng.randint(lo, hi))
        while len(" ".join(words)) > MAX_DOC_CHARS:
            words.pop()
        return " ".join(words)

    def query(self, n_terms: int) -> str:
        return " ".join(self._words(n_terms))

    def document(self) -> dict:
        return {
            "content": self.text(),
            "metadata": {"source": self.rng.choice(SOURCES),
                         "type": self.rng.choice(TYPES)},
        }

    def hex_key(self) -> str:
        """A random keyset cursor inside the content-addressed id space."""
        return "".join(self.rng.choice("0123456789abcdef") for _ in range(3))


def write_documents_table(path: str, corpus: Corpus, n: int) -> None:
    """Write ``n`` documents in the layout of the engine's test tables
    (``doc_id, text, lang, source, n_chars``) as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [corpus.text() for _ in range(n)]
    rng = corpus.rng
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
