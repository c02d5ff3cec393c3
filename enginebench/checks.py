"""Answer checks, summary statistics and process-tree memory sampling."""

from __future__ import annotations

import math
import os
import statistics
import threading

import numpy as np

from lucene_7_x_9_x_spark.search import query as Q


# --- statistics --------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, beyond). With n sorted samples the value at
    0-based rank n - 11 has exactly 10 samples above it; fewer than 11
    samples have no such percentile and give NaN."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return float("nan"), float("nan"), 0
    rank = n - 11
    return float(xs[rank]), 100.0 * (rank + 1) / n, n - rank - 1


# --- answers -----------------------------------------------------------------

def engine_top(td, k: int = 10) -> list[tuple[str, np.float32]]:
    """(key, float32 score) per rank of a search() answer."""
    h = td.hits.head(k)
    return [(str(key), np.float32(s)) for key, s in zip(h["key"], h["score"])]


def oracle_top(oracle, key_of: dict, q: Q.Query, k: int = 10):
    """(key, float32 score) per rank from ``search.oracle.OracleIndex``."""
    rows, _ = oracle.top_k(q, k)
    return [(key_of[(seg, docid)], np.float32(s)) for seg, docid, s in rows]


def same_top(got, want) -> bool:
    """Rank-identical keys and bit-identical float32 scores."""
    return len(got) == len(want) and all(
        gk == wk and gs == ws for (gk, gs), (wk, ws) in zip(got, want))


def match_set(tokens_by_key: dict, mode: str, terms: tuple,
              slop: int) -> set:
    """Keys of the docs a positional query matches, by its definition.

    ``ordered``: an ordered two-clause SpanNearQuery, i.e. ``terms[0]`` then
    ``terms[1]`` with at most ``slop`` positions between them. ``sloppy``: a
    PhraseQuery of distinct terms, i.e. positions p_i of each terms[i] with
    max(p_i - i) - min(p_i - i) <= slop. The oracle scores neither spans
    nor sloppy phrases of three terms, so their answers are checked by this
    match set. ``tokens_by_key`` maps a key to its analyzed [(term, pos)]."""
    out = set()
    for key, toks in tokens_by_key.items():
        pos = [[p for t, p in toks if t == term] for term in terms]
        if not all(pos):
            continue
        if mode == "ordered":
            pb = np.array(pos[1])
            hit = any(((pb > p) & (pb - p - 1 <= slop)).any() for p in pos[0])
        else:
            hit = _min_window(pos) <= slop
        if hit:
            out.add(key)
    return out


def _min_window(pos: list) -> int:
    """Smallest max - min over one offset-adjusted position per term."""
    ev = sorted((p - i, i) for i, ps in enumerate(pos) for p in ps)
    need, have, lo, best = len(pos), {}, 0, 1 << 30
    for hi, (p, i) in enumerate(ev):
        have[i] = have.get(i, 0) + 1
        while len(have) == need:
            best = min(best, p - ev[lo][0])
            j = ev[lo][1]
            have[j] -= 1
            if not have[j]:
                del have[j]
            lo += 1
    return best


def check_match_answer(td, matches: set, k: int = 10) -> bool:
    """Hits are matching docs in non-increasing score order, the top-k holds
    min(k, |matches|) of them and the hit count is |matches|."""
    keys = [str(x) for x in td.hits["key"].head(k)]
    scores = list(td.hits["score"].head(k))
    return (set(keys) <= matches
            and len(keys) == min(k, len(matches))
            and all(x >= y for x, y in zip(scores, scores[1:]))
            and td.total_hits == len(matches))


def is_finite_number(x) -> bool:
    return isinstance(x, (int, float)) and math.isfinite(x)


# --- memory ------------------------------------------------------------------

def descendants(pid: int) -> set[int]:
    """Every live descendant process of ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and every descendant process."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process tree while the context is open."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
