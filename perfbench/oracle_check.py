"""Check engine answers against the exhaustive oracle (functions/oracle.py).

A deleted document stays in the collection statistics until a merge
expunges it (operators/deletes.py), so the oracle is built over every
document of the snapshot and the deleted ids are dropped from its full
ranking before the top k is cut.  A FILTER clause never scores, so a
``lang`` filter is applied the same way: the oracle ranks the query
without the filter and the non-matching documents are dropped.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.functions.analysis import analyze_batch
from lucene_solr_8_7_0_spark.functions.oracle import OracleIndex, oracle_search
from lucene_solr_8_7_0_spark.functions.smallfloat import int_to_byte4_np
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.plans.rewrite import expand_terms, rewrite

from inputs import BenchQuery


def oracle_index(docs: pd.DataFrame, cfg: EngineConfig) -> OracleIndex:
    """``functions.oracle.build_oracle_index`` for a config without a
    per-field similarity, with the positions map built from one sort
    instead of a pandas loop over every (term, doc) group, which costs
    ~7 ms a document.  tests/ check that both give the same index."""
    docs = docs.sort_values("doc_id", ignore_index=True)
    tb = analyze_batch(
        docs["content"], cfg.analyzer, cfg.max_token_length,
        tuple(cfg.stopwords), cfg.ascii_folding, cfg.html_strip,
        tuple(cfg.index_synonyms), cfg.max_doc_tokens,
    )
    doc_ids = docs["doc_id"].to_numpy(dtype=np.int64)
    tok_docs = doc_ids[tb.doc_idx]
    terms = tb.terms.to_numpy()
    tf = (
        pd.DataFrame({"term": terms, "doc_id": tok_docs})
        .groupby(["term", "doc_id"])
        .size()
        .reset_index(name="freq")
    )
    # (term in first-seen order, doc, position): the groups come out in
    # the insertion order of build_oracle_index's groupby(sort=False)
    codes, uniq = pd.factorize(terms)
    order = np.lexsort((tb.positions, tok_docs, codes))
    c, d = codes[order], tok_docs[order]
    starts = np.flatnonzero(np.r_[True, (c[1:] != c[:-1]) | (d[1:] != d[:-1])])
    pos = np.asarray(tb.positions)[order]
    bounds = np.r_[starts, len(c)].tolist()
    positions: dict = {}
    for t, doc, lo, hi in zip(uniq[c[starts]], d[starts].tolist(),
                              bounds[:-1], bounds[1:]):
        positions.setdefault(t, {})[doc] = pos[lo:hi]
    lengths = tb.doc_lengths
    return OracleIndex(
        doc_ids=doc_ids,
        norms=int_to_byte4_np(lengths),
        lengths=lengths,
        tf=tf,
        positions=positions,
        doc_count=int((lengths > 0).sum()),
        num_docs=len(doc_ids),
        sum_ttf=int(lengths.sum()),
        term_df=tf.groupby("term")["doc_id"].nunique().to_dict(),
        term_ttf=tf.groupby("term")["freq"].sum().to_dict(),
        cfg=cfg,
        meta={"n_chars": docs["content"].str.len().to_numpy(np.int64)},
    )


class Oracle:
    """Expected top-k for one snapshot: ``docs`` has (doc_id, content,
    lang) for every document in it, ``deleted`` the masked ids."""

    def __init__(self, docs: pd.DataFrame, cfg: EngineConfig,
                 deleted=()):
        self.index = oracle_index(docs[["doc_id", "content"]], cfg)
        self.lang = dict(zip(docs["doc_id"].to_numpy(np.int64), docs["lang"]))
        self.deleted = np.sort(np.asarray(deleted, dtype=np.int64))
        self.term_df = self.index.term_df
        self._terms = sorted(self.term_df)

    def _term_lookup(self, q: Q.Query) -> list[str]:
        """Every term of the snapshot a multi-term query matches.  The
        rewrite then takes the engine's branch for that count (none, one
        scored term, or the constant-score union), without trusting the
        engine's own term-dictionary probe."""
        return expand_terms(q, self._terms)

    def expected(self, bq: BenchQuery, k: int):
        """(doc ids, float32 scores) the engine must return, in rank order."""
        inner = bq.inner
        if bq.lang_filter is not None:
            # same scoring tree as the engine's MUST clause, minus the FILTER
            bld = Q.Builder()
            bld.add(inner, Q.Occur.MUST)
            inner = bld.build()
        q = rewrite(inner, self._term_lookup)
        full = oracle_search(self.index, q, k=self.index.num_docs)
        keep = ~np.isin(full.doc_ids, self.deleted)
        if bq.lang_filter is not None:
            keep &= np.array(
                [self.lang[int(d)] == bq.lang_filter for d in full.doc_ids],
                dtype=bool,
            )
        return full.doc_ids[keep][:k], full.scores[keep][:k]


def same_topk(got_ids, got_scores, exp_ids, exp_scores) -> bool:
    """Doc ids in rank order and bitwise-identical float32 scores."""
    got_ids = np.asarray(got_ids, dtype=np.int64)
    exp_ids = np.asarray(exp_ids, dtype=np.int64)
    got_scores = np.asarray(got_scores, dtype=np.float32)
    exp_scores = np.asarray(exp_scores, dtype=np.float32)
    return (
        got_ids.shape == exp_ids.shape
        and bool(np.array_equal(got_ids, exp_ids))
        and got_scores.tobytes() == exp_scores.tobytes()
    )
