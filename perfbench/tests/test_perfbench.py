"""Tests of the benchmark itself (no Spark): seeded inputs, the oracle
check and the tracer's self-time arithmetic.

    python3 -m pytest perfbench/tests -q
"""

import time

import numpy as np
import pandas as pd
import pytest

import inputs
from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.functions.oracle import build_oracle_index
from lucene_solr_8_7_0_spark.plans import queries as Q
from oracle_check import Oracle, oracle_index, same_topk
from tracing import Span, Tracer, self_time

N = 60
CFG = EngineConfig(segment_size=16)


@pytest.fixture(scope="module")
def corpus():
    vocab = inputs.build_vocab(5)
    return inputs.with_doc_ids(inputs.corpus_rows(5, np.arange(N), N, vocab)), vocab


@pytest.fixture(scope="module")
def oracle(corpus):
    return Oracle(corpus[0], CFG)


def test_same_seed_same_inputs(corpus, oracle):
    base, vocab = corpus
    again = inputs.with_doc_ids(inputs.corpus_rows(5, np.arange(N), N, vocab))
    pd.testing.assert_frame_equal(base, again)
    other = inputs.corpus_rows(6, np.arange(N), N)
    assert not other["content"].equals(base["content"])

    q1 = inputs.query_mix(5, oracle.term_df, base, CFG, filter_classes=("or",))
    q2 = inputs.query_mix(5, oracle.term_df, base, CFG, filter_classes=("or",))
    assert q1 == q2
    assert {q.qclass for q in q1} == set(inputs.CLASSES)
    assert {q.qclass for q in q1 if q.lang_filter} == {"or"}
    assert q1 != inputs.query_mix(6, oracle.term_df, base, CFG,
                                  filter_classes=("or",))

    b1 = inputs.churn_batch(5, base, 4, 3, N, vocab)
    b2 = inputs.churn_batch(5, base, 4, 3, N, vocab)
    pd.testing.assert_frame_equal(b1.new_docs, b2.new_docs)
    pd.testing.assert_frame_equal(b1.added, b2.added)
    np.testing.assert_array_equal(b1.deleted_ids, b2.deleted_ids)
    # replacements keep the deleted docs' keys; fresh docs are new keys
    victims = base.set_index("doc_id").loc[b1.deleted_ids]
    assert set(zip(victims["repo"], victims["path"])) <= set(
        zip(b1.new_docs["repo"], b1.new_docs["path"]))
    assert b1.added["doc_id"].tolist() == list(range(N, N + 7))

    order = inputs.run_order(5, q1, 80)
    assert order == inputs.run_order(5, q1, 80)
    # round robin: each round issues one query of every class
    assert [q1[i].qclass for i in order[:8]] == inputs.CLASSES


def test_oracle_check_fails_on_planted_wrong_result(corpus, oracle):
    base, _ = corpus
    bq = next(q for q in inputs.query_mix(5, oracle.term_df, base, CFG)
              if q.qclass == "or")
    ids, scores = oracle.expected(bq, 10)
    assert len(ids) >= 3
    assert same_topk(ids, scores, ids, scores)
    swapped = ids.copy()
    swapped[[0, 1]] = swapped[[1, 0]]
    assert not same_topk(swapped, scores, ids, scores)
    one_ulp = scores.copy()
    one_ulp[2] = np.nextafter(one_ulp[2], np.float32(np.inf))
    assert not same_topk(ids, one_ulp, ids, scores)
    assert not same_topk(ids[:-1], scores[:-1], ids, scores)


def test_oracle_applies_deletes_and_filters(corpus, oracle):
    base, _ = corpus
    bq = next(q for q in inputs.query_mix(5, oracle.term_df, base, CFG)
              if q.qclass == "or")
    ids, scores = oracle.expected(bq, 10)
    masked = Oracle(base, CFG, deleted=ids[:2])
    got_ids, got_scores = masked.expected(bq, 10)
    assert not set(ids[:2]) & set(got_ids)
    # deleted docs keep counting in the statistics: survivors score the same
    np.testing.assert_array_equal(got_ids[:len(ids) - 2], ids[2:])
    assert got_scores[:len(ids) - 2].tobytes() == scores[2:].tobytes()

    lang = base["lang"].iloc[0]
    fq = inputs.BenchQuery(bq.qclass, bq.query, bq.inner, lang)
    f_ids, _ = oracle.expected(fq, 10)
    langs = base.set_index("doc_id")["lang"]
    assert len(f_ids) and all(langs[d] == lang for d in f_ids)


def test_oracle_index_equals_build_oracle_index(corpus):
    docs = corpus[0][["doc_id", "content"]].sample(frac=1, random_state=0)
    got, want = oracle_index(docs, CFG), build_oracle_index(docs, CFG)
    for f in ("doc_ids", "norms", "lengths"):
        a, b = getattr(got, f), getattr(want, f)
        assert a.dtype == b.dtype and np.array_equal(a, b), f
    pd.testing.assert_frame_equal(got.tf, want.tf)
    for f in ("doc_count", "num_docs", "sum_ttf", "term_df", "term_ttf"):
        assert getattr(got, f) == getattr(want, f), f
    np.testing.assert_array_equal(got.meta["n_chars"], want.meta["n_chars"])
    assert list(got.positions) == list(want.positions)
    for t, per_doc in want.positions.items():
        assert list(got.positions[t]) == list(per_doc), t
        for d, pos in per_doc.items():
            assert got.positions[t][d].dtype == pos.dtype
            np.testing.assert_array_equal(got.positions[t][d], pos)


def test_oracle_expands_multi_term_queries_itself(oracle):
    def expect(q):
        return oracle.expected(inputs.BenchQuery("prefix", q, q, None), 10)

    terms = sorted(oracle.term_df)
    first = {}
    for t in terms:
        first.setdefault(t[:3], []).append(t)
    many = next(p for p, ts in first.items() if len(ts) >= 2)
    one = next(t for t in terms
               if sum(u.startswith(t) for u in terms) == 1)
    ids, scores = expect(Q.PrefixQuery(many))
    assert len(ids) and len(set(scores.tolist())) == 1  # constant-score union
    single = expect(Q.PrefixQuery(one))
    scored = expect(Q.TermQuery(one))
    assert same_topk(*single, *scored)  # one match: the scored term
    assert len(expect(Q.PrefixQuery("zzz_no_such_prefix"))[0]) == 0


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),    # overlaps a: covered once
        Span("c", 8.0, 12.0, parent=0),   # clipped to the parent's end
        Span("grand", 1.5, 2.5, parent=1),
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 8.0))
    assert self_time(spans, 1) == pytest.approx(2.0 - 1.0)
    assert self_time(spans, 4) == pytest.approx(1.0)

    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.01)
        time.sleep(0.01)
    outer, inner = tr.spans
    assert inner.parent == 0
    assert self_time(tr.spans, 0) == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start))
