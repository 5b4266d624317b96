"""A fixed kernel that reads how fast the host is right now.

The benchmark runs on a shared VM whose speed moves by 20-50% over tens of
seconds (neighbours on the host contend for caches and memory), while a run
of the same code would otherwise read the same. ``Yardstick`` does the kinds
of work a hot ``/_search`` request does, without calling
``search_replica_spark``: ``.loc`` lookups of a few terms in a pandas frame
indexed by string, ``np.unique``/``np.add.at`` over ~1,400 postings, a dict
of scores sorted for the top 10. Timed once after every few requests, in the
same process and from the same cache state, its median tracks the host's
slowdowns, and a request's latency over it stays steady while both slow
down alike. (Timed in bursts of back-to-back calls, it ran from a warm
cache and tracked the host less well.)

The kernel's inputs are fixed (not seeded) and it never changes between
runs, so only the host moves it. Nothing the engine does can speed it up.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

N_TERMS = 20_000
N_ROWS = 40_000
N_CASES = 64
WARM_UP = 200


class Yardstick:
    def __init__(self):
        rng = np.random.default_rng(20_251_017)
        words = np.array([f"w{i:05d}" for i in range(N_TERMS)], dtype=object)
        self.frame = pd.DataFrame({
            "term": np.sort(rng.choice(words, N_ROWS)),
            "v": rng.random(N_ROWS),
        }).set_index("term", drop=False)
        self.queries = [sorted(set(rng.choice(words, 3).tolist())) for _ in range(N_CASES)]
        self.docs = [rng.integers(0, 12_000, 1_400) for _ in range(N_CASES)]
        self.scores = [rng.random(1_400) for _ in range(N_CASES)]
        self.times: list[float] = []
        self._i = 0
        for _ in range(WARM_UP):  # first calls: imports, allocator
            self.sample()
        self.times.clear()

    def sample(self) -> None:
        """Time the kernel once."""
        i = self._i % N_CASES
        self._i += 1
        t = time.perf_counter()
        index = self.frame.index
        for term in self.queries[i]:
            if term in index:
                self.frame.loc[[term]]
        uniq, inv = np.unique(self.docs[i], return_inverse=True)
        sums = np.zeros(uniq.size)
        np.add.at(sums, inv, self.scores[i])
        scored = dict(zip(uniq.tolist(), sums.tolist()))
        sorted(scored.items(), key=lambda t: (-t[1], t[0]))[:10]
        self.times.append(time.perf_counter() - t)

    def median_ms(self) -> float:
        return statistics.median(self.times) * 1e3

