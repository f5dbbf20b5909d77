"""Correctness checks and reference computations, independent of Spark.

Every function takes plain Python/numpy values collected from the
program's outputs and either returns a figure or a list of problems (an
empty list means the output is correct).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def round6(x: float) -> float:
    """Spark's ``round(x, 6)``: HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"),
                                                  rounding=ROUND_HALF_UP))


def cosine_scores(mat: np.ndarray, norms: np.ndarray,
                  query: list[float]) -> np.ndarray:
    """Unrounded cosine of every row against ``query``, in the store's
    arithmetic: float32 components widened to double, a left-to-right
    product sum, divided by (stored row norm x query norm)."""
    q = np.asarray(query, dtype=np.float64)
    qnorm = math.sqrt(sum(v * v for v in q.tolist()))
    dots = np.cumsum(mat.astype(np.float64) * q[None, :], axis=1)[:, -1]
    denom = norms * qnorm
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(denom == 0, 0.0, dots / denom)
    return s


def row_norms(mat: np.ndarray) -> np.ndarray:
    """Left-to-right L2 norm of each row, widened to double."""
    m = mat.astype(np.float64)
    return np.sqrt(np.cumsum(m * m, axis=1)[:, -1])


def exact_topk(scores: np.ndarray, keys: list[tuple], k: int = 10,
               slack: int = 64) -> list[tuple[float, tuple]]:
    """Top-k by (score rounded to 6 dp desc, then ``keys`` asc).

    Rounding is exact (Decimal) on the best ``k + slack`` raw scores; rows
    below them cannot reach the top k after a 1e-6 rounding step unless
    more than ``slack`` rows tie there, which the caller's data rule out."""
    n = len(scores)
    take = min(n, k + slack)
    cand = np.argpartition(-scores, take - 1)[:take] if take < n else np.arange(n)
    ranked = sorted(((round6(scores[i]), keys[i]) for i in cand),
                    key=lambda t: (-t[0], t[1]))
    return ranked[:k]


def compare_topk(got: list[tuple[float, tuple]],
                 want: list[tuple[float, tuple]], tol: float = 1e-6) -> list[str]:
    """Same keys in the same order, scores equal within ``tol``."""
    if [g[1] for g in got] != [w[1] for w in want]:
        return [f"top-k keys differ: got {[g[1] for g in got][:3]}... "
                f"want {[w[1] for w in want][:3]}..."]
    bad = [(g, w) for g, w in zip(got, want) if abs(g[0] - w[0]) > tol]
    return [f"score differs: {bad[0]}"] if bad else []


def check_ranked(ranks: list[int], scores: list[float], k: int,
                 exact_k: bool = False) -> list[str]:
    """A top-k answer: ranks 1..n in order with n <= k (exactly k when
    ``exact_k``), scores not increasing."""
    n = len(ranks)
    problems = []
    if n > k or (exact_k and n != k):
        problems.append(f"{n} rows for top-{k}")
    if sorted(ranks) != list(range(1, n + 1)):
        problems.append(f"ranks are not 1..{n}: {sorted(ranks)[:12]}")
    by_rank = [s for _, s in sorted(zip(ranks, scores))]
    if any(a < b for a, b in zip(by_rank, by_rank[1:])):
        problems.append("scores increase with rank")
    return problems


def recall_at_k(got_ids, exact_ids) -> float:
    exact = set(exact_ids)
    return len(exact & set(got_ids)) / len(exact) if exact else 1.0


def check_chunks(chunks_by_url: dict[str, list[tuple[int, str]]],
                 contents: dict[str, str]) -> list[str]:
    """Joining a document's chunk texts in id order gives back its
    whitespace-normalized content."""
    problems = []
    for url, text in contents.items():
        parts = chunks_by_url.get(url)
        if not parts:
            problems.append(f"{url}: no chunks")
            continue
        joined = " ".join(t for _, t in sorted(parts))
        if joined != " ".join(text.split()):
            problems.append(f"{url}: chunks do not rebuild the document")
    return problems


def check_embeddings(dims: list[int], norms: list[float], dim: int = 1536,
                     tol: float = 1e-5) -> list[str]:
    problems = []
    wrong_dim = sum(1 for d in dims if d != dim)
    if wrong_dim:
        problems.append(f"{wrong_dim} embeddings without {dim} dimensions")
    not_unit = sum(1 for n in norms if abs(n - 1.0) > tol)
    if not_unit:
        problems.append(f"{not_unit} embeddings without unit norm")
    return problems


def check_urls(stored: set[str], live: set[str]) -> list[str]:
    problems = []
    stale = stored - live
    if stale:
        problems.append(f"{len(stale)} deleted urls still stored, "
                        f"e.g. {sorted(stale)[0]}")
    missing = live - stored
    if missing:
        problems.append(f"{len(missing)} live urls missing, "
                        f"e.g. {sorted(missing)[0]}")
    return problems


def check_rows_equal(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    if sorted(got) != sorted(want):
        extra = sorted(set(got) - set(want))[:2]
        miss = sorted(set(want) - set(got))[:2]
        return [f"{what}: results differ (extra {extra}, missing {miss})"]
    return []


def check_survivors(input_ids: set[int], survivors: list[int],
                    exact_groups: list[list[int]]) -> list[str]:
    """Exact dedup keeps a subset of the input, with exactly one document
    of every planted exact-duplicate group."""
    problems = []
    kept = set(survivors)
    if len(kept) != len(survivors):
        problems.append("a survivor appears twice")
    if not kept <= input_ids:
        problems.append(f"{len(kept - input_ids)} survivors not in the input")
    wrong = [g for g in exact_groups if sum(1 for i in g if i in kept) != 1]
    if wrong:
        problems.append(f"{len(wrong)} exact-duplicate groups do not keep "
                        f"exactly one document, e.g. {wrong[0]}")
    return problems


def dup_counts(input_ids: set[int], survivors: set[int],
               planted: set[tuple[int, int]]) -> tuple[int, int, int, int]:
    """Near-duplicate removal against the planted pairs, as counts
    (recall hits, planted pairs, precision hits, removed documents).
    Recall: planted pairs of which at least one document was removed.
    Precision: removed documents that belong to a planted pair."""
    removed = input_ids - survivors
    hit = sum(1 for a, b in planted if a in removed or b in removed)
    members = {i for p in planted for i in p}
    return hit, len(planted), len(removed & members), len(removed)
