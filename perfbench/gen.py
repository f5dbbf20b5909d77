"""Seeded input generator for the benchmark.

Everything the package receives is made here from one integer seed:

- a Zipf vocabulary of synthetic lowercase words;
- documents with log-normal word counts, laid out as lines (the .md ones
  get a heading), under a mix of extensions so every parse route runs;
- CDC batches of blob events (edited re-creates, new documents, deletes);
- planted exact copies and near-duplicates at several edit rates, plus
  the ground-truth pairs;
- a query pool (passages, keyword terms, a filter URL) whose popularity
  is Zipf.

Only the standard library and numpy are used, so the same seed gives the
same inputs on any host.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np

SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da",
             "fi", "go", "hu", "ja", "ke", "ly", "mo", "nu", "pa", "qui",
             "re", "so", "tu", "wa", "xe", "yo", "ze", "an", "el", "or")
# extension mix of the blob container: text and markdown take the line
# route, .docx the analyzer route
EXTENSIONS = (".txt", ".md", ".docx")
EXT_WEIGHTS = (0.5, 0.3, 0.2)


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words of 2-4 syllables."""
    words: list[str] = []
    seen: set[str] = set()
    n_syl = len(SYLLABLES)
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[int(i)] for i in rng.integers(0, n_syl, k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


@dataclass
class Corpus:
    """Words of a Zipf vocabulary plus the sampler every generator uses."""

    rng: np.random.Generator
    words: list[str]
    probs: np.ndarray

    @classmethod
    def make(cls, seed: int, vocab_size: int = 20_000) -> "Corpus":
        rng = np.random.default_rng(seed)
        return cls(rng, vocabulary(rng, vocab_size), zipf_probs(vocab_size))

    def draw(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.words), size=n, p=self.probs)
        return [self.words[i] for i in idx]

    def lengths(self, n: int, median_words: int,
                sigma: float = 0.6) -> list[int]:
        """``n`` log-normal word counts, taken at evenly spaced quantiles
        and shuffled: every seed gets the same total volume, so runs on
        different seeds differ in content, not in size."""
        z = [NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)]
        out = [max(20, int(round(median_words * math.exp(sigma * v))))
               for v in z]
        return [out[int(i)] for i in self.rng.permutation(n)]

    def text(self, n_words: int, heading: bool = False) -> str:
        """``n_words`` words broken into lines of 4-16 words; a markdown
        document starts with a heading line."""
        ws = self.draw(n_words)
        lines, i = [], 0
        while i < len(ws):
            step = int(self.rng.integers(4, 17))
            lines.append(" ".join(ws[i:i + step]))
            i += step
        if heading:
            lines.insert(0, "# " + " ".join(self.draw(3)))
        return "\n".join(lines) + "\n"

    def extension(self) -> str:
        return EXTENSIONS[int(self.rng.choice(len(EXTENSIONS), p=EXT_WEIGHTS))]

    def document(self, n_words: int, ext: str) -> str:
        return self.text(n_words, heading=ext == ".md")

    def edit(self, text: str, rate: float) -> str:
        """Replace a ``rate`` share of the words (line layout kept)."""
        lines = [ln.split() for ln in text.splitlines()]
        flat = [(i, j) for i, ln in enumerate(lines) for j in range(len(ln))]
        n = max(1, int(round(rate * len(flat))))
        pick = self.rng.choice(len(flat), size=min(n, len(flat)), replace=False)
        repl = self.draw(len(pick))
        for p, w in zip(pick, repl):
            i, j = flat[int(p)]
            lines[i][j] = w
        return "\n".join(" ".join(ln) for ln in lines) + "\n"


def blob_name(doc_num: int, ext: str) -> str:
    return f"d{doc_num:07d}{ext}"


@dataclass
class Blobs:
    """Generated blob container: file name -> content."""

    contents: dict[str, str] = field(default_factory=dict)

    def write(self, directory: str) -> int:
        """Write every blob as a file; returns the bytes written."""
        os.makedirs(directory, exist_ok=True)
        total = 0
        for name, text in self.contents.items():
            data = text.encode("utf-8")
            with open(os.path.join(directory, name), "wb") as f:
                f.write(data)
            total += len(data)
        return total


def make_blobs(corpus: Corpus, n_docs: int, median_words: int,
               first_num: int = 0) -> Blobs:
    out = Blobs()
    for i, n in enumerate(corpus.lengths(n_docs, median_words), first_num):
        ext = corpus.extension()
        out.contents[blob_name(i, ext)] = corpus.document(n, ext)
    return out


@dataclass
class CdcBatch:
    """One batch of blob events: (name, op, seq, content-or-None)."""

    events: list[tuple[str, str, int, str | None]]


def make_cdc_batches(corpus: Corpus, live: dict[str, str], n_batches: int,
                     batch_size: int, median_words: int,
                     first_new: int) -> list[CdcBatch]:
    """CDC batches over ``live`` (name -> content, updated in place):
    60 % edited re-creates, 25 % new documents, 15 % deletes; a URL
    appears at most once per batch."""
    batches, next_num = [], first_new
    for _ in range(n_batches):
        names = sorted(live)
        n_edit = int(round(batch_size * 0.6))
        n_del = int(round(batch_size * 0.15))
        n_new = batch_size - n_edit - n_del
        pick = corpus.rng.choice(len(names), size=n_edit + n_del,
                                 replace=False)
        events, seq = [], 0
        for j, p in enumerate(pick):
            name = names[int(p)]
            if j < n_edit:
                text = corpus.edit(live[name], 0.1)
                live[name] = text
                events.append((name, "create", seq, text))
            else:
                del live[name]
                events.append((name, "delete", seq, None))
            seq += 1
        for n in corpus.lengths(n_new, median_words):
            ext = corpus.extension()
            name = blob_name(next_num, ext)
            next_num += 1
            text = corpus.document(n, ext)
            live[name] = text
            events.append((name, "create", seq, text))
            seq += 1
        batches.append(CdcBatch(events))
    return batches


@dataclass
class DupCorpus:
    """A blob container with planted duplicates and their ground truth."""

    blobs: Blobs
    exact_groups: list[list[int]]        # doc numbers sharing one text
    near_pairs: set[tuple[int, int]]     # planted near-duplicate pairs

    @property
    def planted(self) -> set[tuple[int, int]]:
        return self.near_pairs | {(a, b) for a, b in self.exact_groups}


def make_dup_corpus(corpus: Corpus, n_base: int, median_words: int,
                    exact_share: float = 0.1, near_share: float = 0.25,
                    edit_rates: tuple[float, ...] = (0.01, 0.03, 0.3)
                    ) -> DupCorpus:
    """``n_base`` original documents; a share of them gets an exact copy
    (changed only in whitespace and case, which dedup normalization
    removes) and another share a near-duplicate at one of ``edit_rates``
    — the last rate too high for MinHash-LSH to catch, so recall is not
    stuck at 1.  Document numbers are shuffled so copies are not adjacent
    to their originals."""
    exts = [corpus.extension() for _ in range(n_base)]
    texts = [corpus.document(n, e)
             for n, e in zip(corpus.lengths(n_base, median_words), exts)]
    order = corpus.rng.permutation(n_base)
    n_exact = int(n_base * exact_share)
    n_near = int(n_base * near_share)
    items = [("orig", i, texts[i]) for i in range(n_base)]
    for i in order[:n_exact]:
        t = texts[int(i)]
        items.append(("exact", int(i), "  " + t.upper().replace(" ", "  ")))
    for j, i in enumerate(order[n_exact:n_exact + n_near]):
        rate = edit_rates[j % len(edit_rates)]
        items.append(("near", int(i), corpus.edit(texts[int(i)], rate)))
    nums = [int(x) for x in corpus.rng.permutation(len(items))]
    orig = {src: num for (kind, src, _), num in zip(items, nums)
            if kind == "orig"}
    blobs = Blobs()
    exact_groups, near_pairs = [], set()
    for (kind, src, text), num in zip(items, nums):
        blobs.contents[blob_name(num, exts[src])] = text
        pair = tuple(sorted((orig[src], num)))
        if kind == "exact":
            exact_groups.append(list(pair))
        elif kind == "near":
            near_pairs.add(pair)
    return DupCorpus(blobs, exact_groups, near_pairs)


@dataclass
class QueryPool:
    """Passage queries (embedded for the vector classes), keyword terms
    taken from each passage, a filter URL per query, and Zipf
    popularity over the pool."""

    passages: list[str]
    terms: list[list[str]]
    filter_names: list[str]
    probs: np.ndarray

    def stream(self, rng: np.random.Generator, n: int) -> list[int]:
        return [int(i) for i in rng.choice(len(self.passages), size=n,
                                           p=self.probs)]


def make_query_pool(corpus: Corpus, docs: dict[str, str], n: int,
                    skip_top: int = 50) -> QueryPool:
    """``n`` queries, each an 8-16 word passage of a random document with
    a fifth of its words replaced; its keyword terms are up to four of
    the passage's words outside the ``skip_top`` most frequent ones, and
    its filter URL is another random document."""
    common = set(corpus.words[:skip_top])
    names = sorted(docs)
    passages, terms = [], []
    for _ in range(n):
        words = docs[names[int(corpus.rng.integers(len(names)))]].split()
        ln = int(corpus.rng.integers(8, 17))
        at = int(corpus.rng.integers(0, max(1, len(words) - ln)))
        passage = corpus.edit(" ".join(words[at:at + ln]), 0.2).strip()
        passages.append(passage)
        rare = sorted({w for w in passage.split()
                       if w not in common and not w.startswith("#")})
        pick = corpus.rng.permutation(len(rare))[:4]
        terms.append(sorted(rare[int(i)] for i in pick) or passage.split()[:2])
    pick = corpus.rng.choice(len(names), size=n)
    return QueryPool(passages, terms, [names[int(i)] for i in pick],
                     zipf_probs(n, 0.9))
