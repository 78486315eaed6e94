"""Seeded benchmark inputs: corpus, doc ids, query mix and churn batches.

Everything here is a pure function of the workload seed.  The engine
only ever sees the tables and queries produced from these values; the
oracle is built from the same rows, so the check needs no Spark.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from lucene_solr_8_7_0_spark.config import EngineConfig
from lucene_solr_8_7_0_spark.functions.analysis import analyze_batch
from lucene_solr_8_7_0_spark.plans import queries as Q
from lucene_solr_8_7_0_spark.sources.corpus import (
    build_vocab,
    generate_corpus_pdf,
    generate_query_set,
)

LANGS = ["java", "py", "go", "js", "c", "rs"]
# query classes, in report order; a FILTERed churn query keeps its base class
CLASSES = ["term", "and", "or", "and_or", "missing", "phrase", "prefix", "not"]
N_GENERATED = 20  # queries drawn from generate_query_set per mix


@dataclass(frozen=True)
class BenchQuery:
    qclass: str
    query: Q.Query
    inner: Q.Query           # the query without its FILTER clause
    lang_filter: str | None  # FILTER lang:<value>, or None


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def corpus_rows(seed: int, indices, n_files: int, vocab=None) -> pd.DataFrame:
    """Rows identical to ``corpus_df(spark, n_files, seed)`` for ``indices``."""
    return generate_corpus_pdf(np.asarray(indices), n_files, seed=seed, vocab=vocab)


def with_doc_ids(rows: pd.DataFrame, base: int = 0) -> pd.DataFrame:
    """Dense doc ids by (repo, path) rank from ``base`` — the numbering
    ``build_index`` and ``add_documents`` give these rows.  The benchmark
    verifies the prediction against the written index before trusting it."""
    out = rows.sort_values(["repo", "path"], ignore_index=True)
    out.insert(0, "doc_id", np.arange(base, base + len(out), dtype=np.int64))
    return out


@dataclass
class ChurnBatch:
    new_docs: pd.DataFrame   # replacements (existing keys) + fresh docs
    deleted_ids: np.ndarray  # base doc ids whose keys are replaced
    added: pd.DataFrame      # new_docs with their predicted doc ids


def churn_batch(seed: int, base: pd.DataFrame, n_replace: int, n_add: int,
                n_files: int, vocab) -> ChurnBatch:
    """One commit: ``n_replace`` seeded base docs get new content under
    the same (repo, path) key (delete + add) and ``n_add`` fresh docs are
    added.  Content comes from corpus rows past the base range."""
    rng = _rng(seed, 3)
    victims = base.iloc[np.sort(rng.choice(len(base), n_replace, replace=False))]
    extra = corpus_rows(seed, np.arange(n_files, n_files + n_replace + n_add),
                        n_files, vocab)
    repl = extra.iloc[:n_replace].copy()
    repl["repo"] = victims["repo"].to_numpy()
    repl["path"] = victims["path"].to_numpy()
    new_docs = pd.concat([repl, extra.iloc[n_replace:]], ignore_index=True)
    return ChurnBatch(
        new_docs=new_docs,
        deleted_ids=np.sort(victims["doc_id"].to_numpy(np.int64)),
        added=with_doc_ids(new_docs, base=len(base)),
    )


def _not_query(a: str, b: str) -> Q.Query:
    bld = Q.Builder()
    bld.add(Q.TermQuery(a), Q.Occur.MUST)
    bld.add(Q.TermQuery(b), Q.Occur.MUST_NOT)
    return bld.build()


def _from_row(row) -> tuple[str, Q.Query]:
    terms = list(row["terms"])
    if row["qtype"] == "term":
        return "term", Q.TermQuery(terms[0])
    if row["qtype"] == "and":
        return "and", Q.term_and(terms)
    if row["qtype"] == "or":
        cls = "missing" if "zzz_not_in_corpus_zzz" in terms else "or"
        return cls, Q.term_or(terms, int(row["min_should_match"]))
    bld = Q.Builder()  # and_or: MUST hot + SHOULD mids
    bld.add(Q.TermQuery(terms[0]), Q.Occur.MUST)
    for t in terms[1:]:
        bld.add(Q.TermQuery(t), Q.Occur.SHOULD)
    return "and_or", bld.build()


def _phrase(rng, docs: pd.DataFrame, cfg: EngineConfig) -> Q.Query:
    """Two adjacent tokens of a seeded document, so the phrase matches."""
    while True:
        content = docs["content"].iloc[int(rng.integers(0, len(docs)))]
        tb = analyze_batch(
            pd.Series([content]), cfg.analyzer, cfg.max_token_length,
            tuple(cfg.stopwords), cfg.ascii_folding, cfg.html_strip,
            tuple(cfg.index_synonyms), cfg.max_doc_tokens,
        )
        terms, pos = tb.terms.to_numpy(), np.asarray(tb.positions)
        adjacent = np.flatnonzero(np.diff(pos) == 1)
        if len(adjacent):
            j = int(adjacent[int(rng.integers(0, len(adjacent)))])
            return Q.PhraseQuery((str(terms[j]), str(terms[j + 1])))


def query_mix(seed: int, term_df: dict, docs: pd.DataFrame, cfg: EngineConfig,
              extra_classes: bool = True,
              filter_classes: tuple = ()) -> list[BenchQuery]:
    """The FIXTURES §2 mix from ``generate_query_set``, plus phrase,
    prefix and MUST_NOT classes when ``extra_classes``.  Every query of a
    class in ``filter_classes`` gets a FILTER ``lang:<v>`` clause, with
    one seeded value ``v`` per mix, so the query cache sees the same
    admission pattern on every seed."""
    rng = _rng(seed, 1)
    td = pd.DataFrame({"term": list(term_df), "df": list(term_df.values())})
    td = td.sort_values(["df", "term"], ascending=[False, True], ignore_index=True)
    qs = generate_query_set(td, seed=seed, n_queries=N_GENERATED)
    out = [_from_row(r) for _, r in qs.iterrows()]
    if extra_classes:
        hot = td["term"].iloc[:10].tolist()
        mid = td["term"].iloc[len(td) // 10: len(td) // 2].tolist()
        a, b = rng.choice(len(hot), 2, replace=False)
        out += [
            ("phrase", _phrase(rng, docs, cfg)),
            ("phrase", _phrase(rng, docs, cfg)),
            ("prefix", Q.PrefixQuery(mid[int(rng.integers(0, len(mid)))][:3].lower())),
            ("not", _not_query(hot[a], hot[b])),
        ]
    lang = LANGS[int(rng.integers(0, len(LANGS)))]
    result = []
    for cls, q in out:
        if cls in filter_classes:
            bld = Q.Builder()
            bld.add(q, Q.Occur.MUST)
            bld.add(Q.FieldTermQuery("lang", lang), Q.Occur.FILTER)
            result.append(BenchQuery(cls, bld.build(), q, lang))
        else:
            result.append(BenchQuery(cls, q, q, None))
    return result


def run_order(seed: int, queries: list[BenchQuery], n_total: int) -> list[int]:
    """Closed-loop issue order: round robin over the classes in CLASSES
    order, each class cycling through a seeded permutation of its
    queries.  Every run thus issues the same class composition, whatever
    the seed, and a class's queries all run before any repeats."""
    rng = _rng(seed, 2)
    by_class = {
        c: rng.permutation([i for i, q in enumerate(queries) if q.qclass == c])
        for c in CLASSES
    }
    by_class = {c: v for c, v in by_class.items() if len(v)}
    order: list[int] = []
    r = 0
    while len(order) < n_total:
        order += [int(v[r % len(v)]) for v in by_class.values()]
        r += 1
    return order[:n_total]

