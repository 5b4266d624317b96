"""Answer checking against the engine's reference scorer.

``VersionedOracle`` runs ``search_replica_spark.oracle.OracleIndex``'s BM25
over one slot per indexed document *version*. A generational index keeps
superseded and deleted versions in its corpus statistics (N, avgdl, df)
until compaction, like Lucene; only live versions are returned. With a
single generation and no deletes it is exactly ``OracleIndex.build``.
"""

from __future__ import annotations

from collections import Counter

from search_replica_spark.analysis import tokenize_text
from search_replica_spark.oracle import OracleIndex, doc_id_of

SCORE_TOL = 1e-9


class VersionedOracle:
    def __init__(self):
        self.ix = OracleIndex()
        self.slot_doc: list[int] = []  # slot -> doc_id
        self.live: dict[int, int] = {}  # doc_id -> slot of its live version
        self.tokens = 0
        self._live_slots: set[int] | None = None

    def upsert(self, docs) -> None:
        """Index one version of each (repo, path, content) row."""
        ix = self.ix
        for repo, path, text in zip(docs["repo"], docs["path"], docs["content"]):
            did = doc_id_of(repo, path)
            slot = len(self.slot_doc)
            self.slot_doc.append(did)
            toks = tokenize_text(text)
            ix.doc_len[slot] = len(toks)
            self.tokens += len(toks)
            for t, tf in Counter(toks).items():
                ix.postings.setdefault(t, {})[slot] = tf
            self.live[did] = slot
        ix.n_docs = len(self.slot_doc)
        ix.avg_dl = self.tokens / ix.n_docs
        self._live_slots = None

    def delete(self, keys) -> None:
        for repo, path in zip(keys["repo"], keys["path"]):
            self.live.pop(doc_id_of(repo, path), None)
        self._live_slots = None

    def search(self, text: str, operator: str, size: int) -> tuple[list, int]:
        """(top ``size`` [doc_id, score] pairs, total matched live docs)."""
        if self._live_slots is None:
            self._live_slots = set(self.live.values())
        full = self.ix.score(text, k=self.ix.n_docs, mode=operator)
        ranked = sorted(
            ((self.slot_doc[s], sc) for s, sc in full if s in self._live_slots),
            key=lambda t: (-t[1], t[0]),
        )
        return ranked[:size], len(ranked)


def same_answer(got: dict, want_hits: list, want_total: int) -> bool:
    if got["total"] != want_total or len(got["hits"]) != len(want_hits):
        return False
    for (gid, gs), (wid, ws) in zip(got["hits"], want_hits):
        if gid != wid or abs(gs - ws) > SCORE_TOL * max(1.0, abs(ws)):
            return False
    return True
