"""WAND == exhaustive property (reference tests/search/wand_test.cpp
methodology) on skewed corpora, plus physical-plan regression guards
(term pushdown must reach the parquet scan; scoring scan must not read
pos_bin)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index.segments import IndexStore, build_segment
from iresearch_spark.search import BM25, SearchEngine, Term, get_scorer


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    # skewed corpus: long+short docs, Zipf vocab
    corpus = generate_corpus(spark, 400, seed=3, min_tokens=10, max_tokens=400)
    store = IndexStore(str(tmp_path_factory.mktemp("wandix")))
    build_segment(spark, store, corpus, "s0")
    return SearchEngine(spark, store)


def _pairs(df):
    return [(r["gdoc"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("k", [1, 5, 10, 100])
def test_wand_equals_exhaustive_across_k(engine, k):
    terms = [
        r["term"]
        for r in engine.term_stats.orderBy(F.desc("doc_freq")).limit(6).collect()
    ]
    # high, mid, low df terms
    for term in (terms[0], terms[3], terms[-1]):
        wand = _pairs(engine.topk(Term(term), k, wand=True))
        full = _pairs(engine.topk(Term(term), k, wand=False))
        assert wand == full, (term, k)


def test_wand_with_tfidf_scorer(spark, engine):
    eng = SearchEngine(spark, engine.store, scorer=get_scorer("tfidf"))
    term = eng.term_stats.orderBy(F.desc("doc_freq")).limit(1).collect()[0]["term"]
    assert _pairs(eng.topk(Term(term), 10, wand=True)) == _pairs(
        eng.topk(Term(term), 10, wand=False)
    )


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_pushdown_reaches_scan(engine):
    plan = _plan_of(engine._eval(Term("def")))
    assert "PushedFilters" in plan
    assert "EqualTo(term,def)" in plan or "In(term" in plan, plan


def test_scoring_scan_prunes_positions(engine):
    plan = _plan_of(engine._eval(Term("def")))
    # the scoring path must not read the (largest) positions column
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("pos_bin" not in l for l in scan_lines), scan_lines


def _count_exchanges(df) -> int:
    import re

    plan = _plan_of(df)
    # detail-section operator headers: "(4) Exchange" — counted once per op
    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


def test_single_term_topk_has_no_shuffle(engine):
    """Single-term top-k: scan -> kernel -> TakeOrdered. Zero exchanges —
    one block per (term, doc), so per-doc sums need no co-location."""
    from iresearch_spark.search import Term

    assert _count_exchanges(engine.topk(Term("def"), 10)) == 0


def test_flat_boolean_topk_has_one_block_shuffle(engine):
    """Flat Or/And top-k on the fan-out path: exactly ONE exchange, and it
    moves PACKED block rows (repartition by segment/chunk), not exploded
    per-posting rows — the 100-TB-critical plan property. The fixture is
    small enough to fan in, so POSTINGS_PER_TASK = 1 forces the fan-out."""
    from iresearch_spark.search import And, Or, Term

    engine.POSTINGS_PER_TASK = 1
    try:
        for node in (Or((Term("def"), Term("return"))), And((Term("def"), Term("return")))):
            df = engine.topk(node, 10)
            assert _count_exchanges(df) == 1, _plan_of(df)
            plan = _plan_of(df)
            # the exchange is hashpartitioning on (segment, chunkid)
            assert "chunkid" in plan, plan
    finally:
        del engine.POSTINGS_PER_TASK


def _multi_leg_nodes():
    from iresearch_spark.search import And, Or, Phrase, Wildcard

    return {
        "and": And((Term("def"), Term("return"))),
        "or": Or((Term("def"), Term("return"))),
        "mm2": Or((Term("def"), Term("return"), Term("import")), min_match=2),
        "phrase": Phrase(("def", "return")),
        "wildcard": Wildcard("*e*"),
    }


def test_small_scan_topk_fans_in_without_exchange(engine):
    """A scan matching at most POSTINGS_PER_TASK postings runs its kernel
    in ONE task with no exchange, multi-leg shapes included: the blocks
    are coalesced and sorted by (segment, chunkid) in that partition."""
    for name, node in _multi_leg_nodes().items():
        df = engine.topk(node, 10)
        plan = _plan_of(df)
        assert "MapInPandas" in plan, (name, plan)  # a real postings scan
        assert _count_exchanges(df) == 0, (name, plan)
        assert "Coalesce" in plan, (name, plan)


def test_wide_scan_is_never_coalesced(spark, engine):
    """Scale guard: a postings scan with more input partitions than
    defaultParallelism keeps the full-width plan — no Coalesce above the
    scan (a large scan must not be serialized into one task), grouped
    shapes keep their one (segment, chunk) exchange — and returns the
    rows of the fan-in plan."""
    nodes = {"term": Term("def"), **_multi_leg_nodes()}
    fan_in = {name: _pairs(engine.topk(node, 10)) for name, node in nodes.items()}
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")  # split the fixture's files into many partitions
    try:
        wide = SearchEngine(spark, engine.store)
        dp, scan_parts = wide._scan_shape()
        assert scan_parts > dp, (scan_parts, dp)
        for name, node in nodes.items():
            df = wide.topk(node, 10)
            plan = _plan_of(df)
            assert "Coalesce" not in plan, (name, plan)
            assert _count_exchanges(df) == (0 if name == "term" else 1), (name, plan)
            assert _pairs(df) == fan_in[name], name
    finally:
        spark.conf.set(key, old)


ODD_TERMS = ["it's", "a\\b", "50%", "a_b", "naïve", "日本"]


def _pushed_term_filter(df) -> bool:
    plan = _plan_of(df)
    return any(
        "PushedFilters: [" in l and ("In(term," in l or "EqualTo(term," in l)
        for l in plan.splitlines()
    )


def test_term_in_keeps_exact_strings(spark, tmp_path, monkeypatch):
    """Every `term IN (...)` is built in one JVM call (executor._term_in).
    Terms holding a quote, a backslash, LIKE wildcards (`%`, `_`) and
    non-ASCII characters must match exactly what the per-literal
    `isin(*terms)` matched — on Term, Terms (the no-vocab condition too),
    flat And/Or stats, offsets() and payloads() — with the filter still
    pushed into the parquet scan; an empty term list matches nothing."""
    import iresearch_spark.search.executor as X
    from iresearch_spark.analysis.analyzers import TextAnalyzer
    from iresearch_spark.search import And, Or, Terms

    texts = [
        "it's a\\b 50% a_b naïve 日本",
        # near misses a LIKE pattern or a lost escape would match
        "its ab 500 axb aab naive 日本語 a\\\\b it''s",
        "a_b 50% plain",
        "日本 it's",
    ]
    docs = spark.createDataFrame(
        [("r", f"f{i}.txt", "c0", t) for i, t in enumerate(texts)],
        "repo string, path string, commit string, content string",
    )
    store = IndexStore(str(tmp_path / "odd"))
    build_segment(
        spark, store, docs, "s0",
        analyzer=TextAnalyzer(delim_regex=r"\s+", stopwords=()),
        with_offsets=True,
        payload_fn=lambda toks, starts, lens: [t.encode() for t in toks.tolist()],
    )

    def run(eng):
        out = {f"term {t}": eng.execute(Term(t)) for t in ODD_TERMS}
        out["terms"] = eng.execute(Terms(tuple(ODD_TERMS)))
        out["and"] = eng.execute(And((Term("a_b"), Term("50%"))))
        out["or"] = eng.execute(Or((Term("it's"), Term("日本"))))
        out["offsets"] = eng.offsets(ODD_TERMS)
        out["payloads"] = eng.payloads(ODD_TERMS)
        return out

    def rows(df):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        )

    vocab = SearchEngine(spark, store)
    novocab = SearchEngine(spark, store)
    novocab.VOCAB_CACHE_MAX = -1  # Terms expands via _leaf_term_cond
    got = {(e, n): df for e, eng in (("v", vocab), ("nv", novocab)) for n, df in run(eng).items()}
    for (e, name), df in got.items():
        if name != "payloads":
            assert _pushed_term_filter(df), (e, name, _plan_of(df))
    got = {key: rows(df) for key, df in got.items()}
    assert all(got[e, f"term {t}"] for e in ("v", "nv") for t in ODD_TERMS)
    # one offsets row per (doc, term) of the six terms, none for near misses
    assert len(got["v", "offsets"]) == sum(
        len(set(t.split()) & set(ODD_TERMS)) for t in texts
    )

    monkeypatch.setattr(X, "_term_in", lambda spark, terms: F.col("term").isin(*terms))
    exp = {
        (e, n): rows(df)
        for e, eng in (("v", SearchEngine(spark, store)), ("nv", novocab))
        for n, df in run(eng).items()
    }
    assert got == exp
    monkeypatch.undo()

    assert vocab.postings.where(X._term_in(spark, [])).count() == 0
    assert vocab.offsets([]).count() == 0
