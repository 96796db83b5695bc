"""Seeded input generator: the corpus and the query sequence.

Everything the benchmark feeds the program derives from one integer
seed, through ``random.Random`` (whose sequence is stable across Python
versions), so the same seed yields byte-identical inputs.

The corpus is built to exercise the retrieval path the way real text
does:

- a Zipf-distributed vocabulary of pseudo-words, so BM25 terms range
  from stop-word-like to rare and a query's postings are selective;
- lognormal document lengths (a long tail of big documents);
- ``lang`` / ``source`` metadata for filtered search and prep keys;
- a small share of near-duplicates (a copy of an earlier document with
  a few words replaced) for the dedup operators.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import asdict, dataclass

LANGS = (("en", 0.6), ("de", 0.25), ("fr", 0.15))
N_SOURCES = 20
WORDS_PER_LINE = 12
SYLLABLES = tuple(
    c + v for c in "bdfgklmnprstvz" for v in ("a", "e", "i", "o", "u", "ai", "ou")
)
# a term no generated word contains (no syllable starts with q or x):
# updated documents gain it, so a search for it finds exactly them
MARKER = "qxupdatedqx"


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int = 2000
    vocab_size: int = 6000
    zipf_s: float = 1.05
    len_mu: float = 4.6  # lognormal words per document: median e^4.6 ≈ 100
    len_sigma: float = 0.6
    min_words: int = 12
    max_words: int = 1200
    dup_share: float = 0.03
    dup_edit_share: float = 0.03


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    lang: str
    source: str

    @property
    def key(self) -> str:
        return f"d{self.doc_id:06d}"


def make_vocab(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct pseudo-words of 2-4 syllables, in Zipf rank order."""
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _lines(words: list[str]) -> str:
    return "\n".join(
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    )


class Generator:
    """All inputs of one run, derived from ``seed``.

    The corpus and each query stream get their own ``random.Random``,
    so a workload that draws more queries does not shift the corpus."""

    def __init__(self, seed: int, spec: CorpusSpec = CorpusSpec()):
        self.seed = seed
        self.spec = spec
        rng = random.Random(f"corpus:{seed}")
        self.vocab = make_vocab(rng, spec.vocab_size)
        self._cum = list(
            itertools.accumulate(
                1.0 / (r + 1) ** spec.zipf_s for r in range(spec.vocab_size)
            )
        )
        self.dup_ids: list[int] = []
        self.docs = self._make_docs(rng)

    def _words(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.vocab, cum_weights=self._cum, k=k)

    def _edit(self, rng: random.Random, words: list[str], share: float) -> list[str]:
        out = list(words)
        for _ in range(max(1, int(len(out) * share))):
            out[rng.randrange(len(out))] = self._words(rng, 1)[0]
        return out

    def _make_docs(self, rng: random.Random) -> list[Doc]:
        s = self.spec
        docs: list[Doc] = []
        bodies: list[list[str]] = []
        for i in range(s.n_docs):
            if bodies and rng.random() < s.dup_share:
                self.dup_ids.append(i)
                words = self._edit(
                    rng, bodies[rng.randrange(len(bodies))], s.dup_edit_share
                )
            else:
                n = int(rng.lognormvariate(s.len_mu, s.len_sigma))
                words = self._words(rng, min(s.max_words, max(s.min_words, n)))
            bodies.append(words)
            lang = rng.choices([l for l, _ in LANGS], [w for _, w in LANGS])[0]
            docs.append(
                Doc(i, _lines(words), lang, f"src{rng.randrange(N_SOURCES)}")
            )
        return docs

    # -- queries -----------------------------------------------------------
    def queries(self, stream: str, n: int) -> list[tuple[int, str]]:
        """``n`` (source doc id, query) pairs. A query is 2-3 adjacent
        words of one line of a random source document.
        BM25 here is conjunctive per chunk, and chunk windows overlap by
        more than any such phrase, so every query matches at least its
        source document's chunk."""
        rng = random.Random(f"queries:{stream}:{self.seed}")
        out = []
        for _ in range(n):
            d = rng.choice(self.docs)
            lines = [l for l in d.text.split("\n") if len(l.split()) >= 3]
            words = rng.choice(lines).split()
            k = rng.randint(2, 3)
            i = rng.randrange(len(words) - k + 1)
            out.append((d.doc_id, " ".join(words[i : i + k])))
        return out

    # -- maintenance batch ---------------------------------------------------
    def maintain_batch(self, n_update: int, n_delete: int) -> tuple[list[Doc], list[Doc]]:
        """(updated, deleted): ``n_update`` distinct documents, each with
        a line of MARKER and a few vocabulary words appended, and
        ``n_delete`` other documents to delete."""
        rng = random.Random(f"maintain:{self.seed}")
        picked = rng.sample(self.docs, n_update + n_delete)
        updated = [
            Doc(
                d.doc_id,
                d.text + "\n" + " ".join([MARKER] + self._words(rng, WORDS_PER_LINE - 1)),
                d.lang,
                d.source,
            )
            for d in picked[:n_update]
        ]
        return updated, picked[n_update:]

    # -- summary ------------------------------------------------------------
    def stats(self) -> dict:
        texts = [d.text for d in self.docs]
        return {
            "docs": len(self.docs),
            "text_bytes": sum(len(t.encode()) for t in texts),
            "vocab_size": len({w for t in texts for w in t.split()}),
            "dup_share": round(len(self.dup_ids) / len(self.docs), 4),
            "spec": asdict(self.spec),
        }


def write_docs(docs: list[Doc], path) -> None:
    """Documents in the documents.parquet schema the registry keys read
    (doc_id, text, lang, source, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
                "text": [d.text for d in docs],
                "lang": [d.lang for d in docs],
                "source": [d.source for d in docs],
                "n_chars": pa.array([len(d.text) for d in docs], pa.int64()),
            }
        ),
        path,
    )
