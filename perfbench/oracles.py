"""Answer checks against the package's single-process oracle.

``RemappedOracle`` follows an index through ``add_docs`` / ``delete_docs``:
doc_ids are numbered in engine order (base pages by url, then each added
batch by url after the previous N), ``avgdl`` stays at the build-time value
that ``add_docs`` deliberately keeps, and tombstoned ids are filtered out of
a top-(k + deleted) oracle list.  With no writes it is ``oracle_search`` on
``build_oracle_index`` of the base pages.
"""

from __future__ import annotations

import math

from apache___solr_spark.oracle import build_oracle_index, oracle_search

SCORE_REL_TOL = 1e-6


class RemappedOracle:
    def __init__(self, base_rows: list[dict]) -> None:
        self.idx = build_oracle_index(base_rows)
        self.deleted: set[int] = set()

    def add(self, rows: list[dict]) -> None:
        """Append a batch the way ``add_docs`` numbers it."""
        seg = build_oracle_index(rows)
        off = self.idx.n_docs
        self.idx.url_by_doc.extend(seg.url_by_doc)
        self.idx.doclen.extend(seg.doclen)
        self.idx.norm_byte.extend(seg.norm_byte)
        for term, plist in seg.postings.items():
            self.idx.postings.setdefault(term, {}).update(
                {d + off: tf for d, tf in plist.items()}
            )
        for term, plist in seg.positions.items():
            self.idx.positions.setdefault(term, {}).update(
                {d + off: p for d, p in plist.items()}
            )
        # N grows; avgdl stays frozen at the build-time value
        self.idx.n_docs += seg.n_docs

    def delete(self, doc_ids: list[int]) -> None:
        self.deleted.update(doc_ids)

    def search(self, query: str, k: int) -> list[dict]:
        want = oracle_search(self.idx, query, k=k + len(self.deleted))
        return [w for w in want if w["doc_id"] not in self.deleted][:k]


def answer_error(got: list[tuple], want: list[dict]) -> str | None:
    """``got``: engine rows as (doc_id, url, score).  Returns why the answer
    differs from the oracle's, or None when it matches."""
    if [g[0] for g in got] != [w["doc_id"] for w in want]:
        return f"doc_ids {[g[0] for g in got][:5]}... != {[w['doc_id'] for w in want][:5]}..."
    for g, w in zip(got, want):
        if g[1] != w["url"]:
            return f"url {g[1]} != {w['url']}"
        if not math.isclose(g[2], w["score"], rel_tol=SCORE_REL_TOL):
            return f"score {g[2]} != {w['score']} for doc {g[0]}"
    return None


def build_errors(
    oracle: RemappedOracle, stats: dict, docs: list, dictionary: list
) -> list[str]:
    """Check a fresh build's ``stats.json``, docs rows (doc_id, url, doclen,
    norm_byte) and dictionary rows (term, df, cf) against the oracle index."""
    idx = oracle.idx
    errs = []
    if stats["N"] != idx.n_docs or not math.isclose(stats["avgdl"], idx.avgdl, rel_tol=1e-12):
        errs.append(f"stats N={stats['N']} avgdl={stats['avgdl']} != {idx.n_docs} {idx.avgdl}")
    if len(docs) != idx.n_docs:
        errs.append(f"docs rows {len(docs)} != {idx.n_docs}")
    for doc_id, url, doclen, norm_byte in docs:
        want = (idx.url_by_doc[doc_id], idx.doclen[doc_id], idx.norm_byte[doc_id])
        if (url, doclen, norm_byte) != want:
            errs.append(f"doc {doc_id}: {(url, doclen, norm_byte)} != {want}")
    got = {t: (df, cf) for t, df, cf in dictionary}
    want_dict = {t: (len(p), sum(p.values())) for t, p in idx.postings.items()}
    if got != want_dict:
        diff = set(got.items()) ^ set(want_dict.items())
        errs.append(f"dictionary differs on {len(diff)} entries, e.g. {sorted(diff)[:3]}")
    return errs[:10]
