"""The benchmark workloads. Each drives iresearch_spark only through its
public functions and returns a `Result`:

- search:       rounds of ten single queries (one per reference category)
                through `SearchEngine.topk(node, 10).collect()` on a pinned
                index, closed loop with 1 client, then one 24-query
                `topk_batch` on an unpinned engine (parquet term-IN scan)
- ingest_dedup: base + delta `build_segment`, `IndexStore.remove`,
                `merge_segments`, then `minhash_lsh_pairs` + `simhash_pairs`
                over a corpus with planted copies

Every workload first runs the oracle self-test (which also warms the JVM
and the Python workers), sets up `SETUP_REPS` times (the median is
`setup_s`), warms up, then repeats its round until `seconds` have passed.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from iresearch_spark.analysis.analyzers import DEFAULT_STOPWORDS, tokenize
from iresearch_spark.corpus import generate_corpus
from iresearch_spark.functions.dedup import minhash_lsh_pairs, minhash_signatures, simhash, simhash_pairs
from iresearch_spark.functions.similarity import release_cached
from iresearch_spark.index.build import assign_doc_ids
from iresearch_spark.index.codec import delta_decode, delta_encode, varint_decode, varint_encode
from iresearch_spark.index.merge import merge_segments
from iresearch_spark.index.segments import IndexStore, build_segment, verify_lineage, verify_sha_invariant
from iresearch_spark.search import And, Fuzzy, Or, Phrase, Prefix, SearchEngine, Term, Wildcard
from iresearch_spark.search.query import normalize

from harness import Bench, median, percentile
from tests import oracle

CATEGORIES = (
    "HighTerm", "MedTerm", "LowTerm", "AndHighMed", "OrHighMed",
    "MinMatch2of3", "Phrase", "Prefix3", "Wildcard", "Fuzzy1",
)
MULTITERM = ("Prefix3", "Wildcard", "Fuzzy1")
BATCH_SIZE = 24
TOP_K = 10
# corpus rows per build in the ingest cycle: 5/8 base, then three 1/8 deltas
INGEST_SLICES = ((0, 5), (5, 6), (6, 7), (7, 8))
DELETE_EVERY = 25  # ingest deletes every 25th base doc (4%)
PLANT_EVERY = 50  # dedup plants a copy of every 50th doc (2%)
SETUP_REPS = 3  # set-ups per run; setup_s is their median


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    # latency samples, one per round: the round's median single query, or the ingest cycle
    op_s: list[float] = field(default_factory=list)
    items: int = 0  # queries or docs completed inside the timed window (same count every round)
    rounds: list[tuple[float, float]] = field(default_factory=list)  # perf_counter bounds of each timed round
    fingerprint: str = ""
    report: dict[str, tuple[float, str, int]] = field(default_factory=dict)  # name -> (value, unit, n)
    layers: dict[str, float] = field(default_factory=dict)  # per-layer metrics (traced run)

    def throughput(self) -> float:
        """Items of one round over the median round wall (rounds are alike)."""
        walls = [e - s for s, e in self.rounds]
        return self.items / len(walls) / median(walls) if walls else 0.0


@dataclass
class Params:
    seed: int
    seconds: float
    docs: int
    work: str  # scratch directory inside the checkout


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _persisted(df):
    df = df.persist()
    df.count()
    return df


def _gen_corpus(b: Bench, p: Params, req: str):
    return b.call(
        "corpus.gen",
        lambda: _persisted(generate_corpus(b.spark, p.docs, seed=p.seed, burstiness=0.1)),
        req=req,
    )


def _fingerprint(corpus, extra: str) -> str:
    shas = sorted(r[0] for r in corpus.select("content_sha256").collect())
    h = hashlib.sha256()
    for s in shas:
        h.update(s.encode())
    h.update(extra.encode())
    return h.hexdigest()[:16]


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _timed_loop(b: Bench, p: Params, res: Result, step, spacers=()) -> None:
    """Call step(i) -> items until the rounds add up to `seconds` (at least
    one round). Each spacer (untimed check work) runs once between two
    rounds, so the rounds sample a longer stretch of the run; spacers left
    over run after the last round."""
    b.mark("timed window")
    spacers = list(spacers)
    i = 0
    while True:
        t0 = time.perf_counter()
        items = step(i)
        t1 = time.perf_counter()
        res.rounds.append((t0, t1))
        res.items += items
        b.sample_rss()
        i += 1
        if sum(e - s for s, e in res.rounds) >= p.seconds:
            break
        if spacers:
            spacers.pop(0)()
    b.mark("checks")
    for spacer in spacers:
        spacer()


def _open_engine(spark, store, pin: bool) -> SearchEngine:
    eng = SearchEngine(spark, store)
    eng.prepare_dictionary()
    if pin:
        eng.pin_postings()
    return eng


def _setup_index(b: Bench, p: Params, res: Result):
    """corpus -> one segment -> a pinned engine (single queries) and an
    unpinned one (batches), `SETUP_REPS` times; keeps the last."""
    corpus = eng = plain = None
    for rep in range(SETUP_REPS):
        if corpus is not None:
            corpus.unpersist()
            for e in (eng, plain):
                e.term_stats.unpersist()
            eng.postings.unpersist()
        b.mark(f"set-up {rep}")
        t0 = time.perf_counter()
        req = f"setup-{rep}"
        corpus = _gen_corpus(b, p, req)
        store = IndexStore(_fresh_dir(os.path.join(p.work, f"index-{rep}")))
        b.call("index.build", build_segment, b.spark, store, corpus, "s0", req=req)
        eng = b.call("search.open", _open_engine, b.spark, store, True, req=req)
        plain = b.call("search.open_unpinned", _open_engine, b.spark, store, False, req=req)
        res.setup_s.append(time.perf_counter() - t0)
    return corpus, store, eng, plain


def _term_bands(eng: SearchEngine) -> list[tuple[str, int]]:
    rows = (
        eng.term_stats.orderBy(F.desc("doc_freq"), F.asc("term"))
        .select("term", "doc_freq")
        .collect()
    )
    return [(r["term"], int(r["doc_freq"])) for r in rows]


class QueryGen:
    """Queries of the reference categories over an index's terms, picked
    by doc frequency so that each category costs about the same on every
    seed. High = one of the 3 most frequent terms; Med/Low = the terms whose
    doc frequency is nearest 1/10 and 1/100 of the highest; Wildcard `xx*`
    and Prefix3 use the prefix whose matched terms carry about 4.5% and
    0.4% of all postings (among prefixes matching many terms).
    `make(cat, k)` takes the k-th term candidate of each band."""

    def __init__(self, terms: list[tuple[str, int]]):
        top = terms[0][1]
        mass = sum(df for _, df in terms)
        self.high = [t for t, _ in terms[:3]]
        self.med = self._nearest(terms, top / 10)
        self.low = self._nearest(terms, top / 100)
        self.wild = self._prefix(terms, 2, 0.045 * mass, min_terms=100)
        self.prefix = self._prefix(terms, 3, 0.004 * mass, min_terms=10)

    @staticmethod
    def _nearest(terms, target: float, n: int = 3) -> list[str]:
        cands = [(abs(df - target), t) for t, df in terms if len(t) >= 3]
        return [t for _, t in sorted(cands)[:n]]

    @staticmethod
    def _prefix(terms, length: int, target: float, min_terms: int) -> str:
        count: dict[str, int] = {}
        mass: dict[str, int] = {}
        for t, df in terms:
            if len(t) > length:
                pre = t[:length]
                count[pre] = count.get(pre, 0) + 1
                mass[pre] = mass.get(pre, 0) + df
        cands = [(abs(m - target), pre) for pre, m in mass.items() if count[pre] >= min_terms]
        if not cands:  # tiny vocabularies
            cands = [(abs(m - target), pre) for pre, m in mass.items()]
        return min(cands)[1]

    def make(self, cat: str, k: int = 0):
        h, m, lo = self.high[k % len(self.high)], self.med[k % len(self.med)], self.low[k % len(self.low)]
        return {
            "HighTerm": lambda: Term(h),
            "MedTerm": lambda: Term(m),
            "LowTerm": lambda: Term(lo),
            "AndHighMed": lambda: And((Term(h), Term(m))),
            "OrHighMed": lambda: Or((Term(h), Term(m))),
            "MinMatch2of3": lambda: Or((Term(h), Term(m), Term(lo)), min_match=2),
            # '.call(x)' is a decorated bigram every corpus carries
            "Phrase": lambda: Phrase(("call", "x")),
            "Prefix3": lambda: Prefix(self.prefix),
            "Wildcard": lambda: Wildcard(f"{self.wild}*"),
            "Fuzzy1": lambda: Fuzzy(h, distance=1),
        }[cat]()


def _leaves(node):
    kids = getattr(node, "children", None)
    if kids is None:
        return [node]
    return [leaf for k in kids for leaf in _leaves(k)]


# ---------------------------------------------------------------------------
# per-layer probes (traced run only, outside the timed window)
# ---------------------------------------------------------------------------

def _probe_tokenize(b: Bench, res: Result, corpus) -> None:
    toks = tokenize(corpus.select("content", F.monotonically_increasing_id().alias("doc_id")))
    t0 = time.perf_counter()
    b.call("analysis", lambda: toks.write.format("noop").mode("overwrite").save(), req="probe")
    res.layers["analysis.tokenize_s"] = time.perf_counter() - t0
    res.layers["analysis.tokens"] = b.call("analysis", toks.count, req="probe")


def _probe_codec(b: Bench, res: Result, store: IndexStore, seg: str, n_blocks: int = 2000) -> None:
    """varint/delta round trip on the first `n_blocks` posting blocks (by term)."""
    blocks = (
        store.read(b.spark, seg, "postings")
        .orderBy("term", "block_id")
        .select("docs_bin")
        .limit(n_blocks)
        .collect()
    )
    bins = [bytes(r[0]) for r in blocks]
    t0 = time.perf_counter()
    with b.tracer.span("index.codec", "probe"):
        decoded = [delta_decode(varint_decode(x)) for x in bins]
    dec_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with b.tracer.span("index.codec", "probe"):
        encoded = [varint_encode(delta_encode(d)) for d in decoded]
    enc_s = time.perf_counter() - t0
    b.check(encoded == bins, "codec round trip re-encodes every sampled block byte-identically")
    moved = float(sum(len(x) for x in bins))
    res.layers["index.codec.decode_bytes"] = moved
    res.layers["index.codec.encode_bytes"] = float(sum(len(x) for x in encoded))
    res.layers["index.codec.decode_MBps"] = moved / dec_s / 1e6 if dec_s else 0.0
    res.layers["index.codec.encode_MBps"] = moved / enc_s / 1e6 if enc_s else 0.0


def _probe_search_driver(b: Bench, res: Result, eng: SearchEngine, pool: dict) -> None:
    """Driver-side plan costs: normalize (us per call), expansion per
    Prefix/Wildcard/Fuzzy leaf (ms and terms)."""
    nodes = list(pool.values())
    reps = 200
    t0 = time.perf_counter()
    with b.tracer.span("search.query", "probe"):
        for _ in range(reps):
            for n in nodes:
                normalize(n)
    res.layers["search.query.normalize_us"] = (time.perf_counter() - t0) / (reps * len(nodes)) * 1e6
    exp_ms, exp_terms = [], []
    for cat in MULTITERM:
        for leaf in _leaves(normalize(pool[cat])):
            t0 = time.perf_counter()
            terms = b.call("search.expand", eng.expand, leaf, req=f"probe-{cat}")
            exp_ms.append((time.perf_counter() - t0) * 1e3)
            exp_terms.append(len(terms))
    res.layers["search.expand_ms"] = median(exp_ms)
    res.layers["search.expand_terms"] = median(exp_terms)


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------

def run_search(b: Bench, p: Params) -> Result:
    """Rounds of: the ten categories one at a time through the pinned
    engine's topk (closed loop, 1 client), then one 24-query topk_batch
    through the unpinned engine."""
    res = Result()
    _oracle_selftest(b, p)  # also warms the build and query paths
    corpus, store, eng, plain = _setup_index(b, p, res)
    rng = random.Random(p.seed)
    gen = QueryGen(_term_bands(eng))
    pool = {cat: gen.make(cat) for cat in CATEGORIES}
    batch = {}
    for i in range(BATCH_SIZE):
        cat = CATEGORIES[i % len(CATEGORIES)]
        batch[f"q{i:02d}_{cat}"] = gen.make(cat, i // len(CATEGORIES))
    batch_sample = rng.sample(sorted(batch), 6)
    res.fingerprint = _fingerprint(corpus, repr((sorted(pool.items()), sorted(batch.items()))))

    def single(cat: str, req: str) -> list[tuple]:
        df = b.call("search.plan", eng.topk, pool[cat], TOP_K, req=req)
        return [tuple(r) for r in b.call("search.exec", df.collect, req=req)]

    def batched(req: str) -> list[tuple]:
        df = b.call("search.batch_plan", plain.topk_batch, batch, TOP_K, req=req)
        return sorted(tuple(r) for r in b.call("search.batch_exec", df.collect, req=req))

    # warm-up: every query once; its rows are the reference for the loop.
    # A second pass follows, and the wand=False check pass below makes a
    # third: after one pass the first timed round still ran ~20% slow.
    b.mark("warm-up")
    ref = {cat: b.op(f"warm-up {cat}", single, cat, "warm-up") for cat in CATEGORIES}
    ref_batch = b.op("warm-up batch", batched, "warm-up")
    for cat in CATEGORIES:
        b.check(b.op(f"warm-up 2 {cat}", single, cat, "warm-up") == ref[cat], f"warm-up 2 {cat}: rows repeat")
    b.check(b.op("warm-up 2 batch", batched, "warm-up") == ref_batch, "warm-up 2 batch: rows repeat")
    cat_ms: dict[str, list[float]] = {c: [] for c in CATEGORIES}
    single_s: list[float] = []
    batch_s: list[float] = []

    def step(i: int) -> int:
        order = list(CATEGORIES)
        rng.shuffle(order)  # seeded order; the sample above was drawn first
        round_s = []
        for cat in order:
            req = f"r{i}-{cat}"
            t0 = time.perf_counter()
            with b.tracer.span("bench.request", req):
                rows = b.op(req, single, cat, req)
            round_s.append(time.perf_counter() - t0)
            cat_ms[cat].append(round_s[-1] * 1e3)
            b.check(rows == ref[cat], f"{req}: rows equal the warm-up rows")
        req = f"r{i}-batch"
        t0 = time.perf_counter()
        with b.tracer.span("bench.request", req):
            rows = b.op(req, batched, req)
        batch_s.append(time.perf_counter() - t0)
        b.check(rows == ref_batch, f"{req}: batch rows equal the warm-up rows")
        single_s.extend(round_s)
        res.op_s.append(median(round_s))
        return len(order) + BATCH_SIZE

    def check_wand() -> None:
        for cat, node in pool.items():
            exhaustive = b.op(f"nowand {cat}", lambda n=node: _rows(eng.topk(n, TOP_K, wand=False)))
            b.check(exhaustive == ref[cat], f"{cat}: topk(wand=True) rows == topk(wand=False) rows")

    def check_batch() -> None:
        for name in batch_sample:
            one = b.op(f"single {name}", lambda n=name: _rows(plain.topk(batch[n], TOP_K)))
            mine = [(g, s) for q, g, s in (ref_batch or []) if q == name]
            b.check(one is not None and sorted(one) == sorted(mine), f"{name}: topk_batch rows == topk rows")

    check_wand()
    _timed_loop(b, p, res, step, spacers=(check_batch,))

    for cat, v in cat_ms.items():
        res.report[f"cat.{cat}_ms"] = (median(v), "ms", len(v))
    lat = [s * 1e3 for s in single_s]
    res.report["query_p50_ms"] = (median(lat), "ms", len(lat))
    res.report["query_p90_ms"] = (percentile(lat, 90), "ms", len(lat))
    res.report["query_qps"] = (len(lat) / sum(single_s), "queries/s", len(lat))
    res.report["batch_p50_ms"] = (median(batch_s) * 1e3, "ms/batch", len(batch_s))
    res.report["batch_qps"] = (BATCH_SIZE * len(batch_s) / sum(batch_s), "queries/s", len(batch_s))
    if b.tracer.enabled:
        L = res.layers
        for cat, v in cat_ms.items():
            L[f"search.cat.{cat}_ms"] = median(v)
        for name in ("search.plan", "search.exec", "search.batch_plan", "search.batch_exec"):
            L[f"{name}_ms"] = median(b.tracer.durations(name)) * 1e3
        _probe_search_driver(b, res, eng, pool)
        _probe_tokenize(b, res, corpus)
        _probe_codec(b, res, store, "s0")
        L["index.segments.bytes"] = store.dir_bytes("s0")
        L["index.build.postings_rows"] = store.read(b.spark, "s0", "postings").count()
    return res


def _oracle_selftest(b: Bench, p: Params) -> None:
    """Tiny index: Term/And/Or/Phrase top-k must equal tests/oracle.py
    rank for rank and score for score."""
    b.mark("oracle self-test")
    corpus = generate_corpus(b.spark, 200, seed=p.seed).persist()
    rows = sorted(
        corpus.select("repo", "path", "commit", "content").collect(),
        key=lambda r: (r["repo"], r["path"], r["commit"]),
    )
    idx = oracle.build_index([(i + 1, r["content"]) for i, r in enumerate(rows)], frozenset(DEFAULT_STOPWORDS))
    store = IndexStore(_fresh_dir(os.path.join(p.work, "oracle")))
    build_segment(b.spark, store, corpus, "s0")
    eng = SearchEngine(b.spark, store)
    by_df = sorted(idx.postings.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    high, med = by_df[0][0], by_df[len(by_df) // 20][0]
    cases = (
        (Term(med), oracle.score_term(idx, med)),
        (And((Term(high), Term(med))), oracle.score_and(idx, [high, med])),
        (Or((Term(high), Term(med))), oracle.score_or(idx, [high, med])),
        (Phrase(("call", "x")), oracle.score_phrase(idx, ["call", "x"])),
    )
    for node, scores in cases:
        got = b.op(f"oracle {node}", lambda n=node: [(int(g), float(s)) for g, s in eng.topk(n, TOP_K).collect()])
        exp = [(int(d), float(s)) for d, s in oracle.topk(scores, TOP_K)]
        b.check(got == exp, f"oracle self-test {type(node).__name__}: engine top-k == tests/oracle.py")
    eng.term_stats.unpersist()
    corpus.unpersist()


# ---------------------------------------------------------------------------
# ingest_dedup: the offline corpus path
# ---------------------------------------------------------------------------

def _planted_corpus(b: Bench, p: Params, req: str):
    """Corpus plus a copy of every PLANT_EVERY-th doc under a new path, with
    dense doc ids; returns (docs, the INGEST_SLICES of docs without ids)."""
    base = _gen_corpus(b, p, req)
    planted = base.where(
        F.pmod(F.xxhash64("path", "commit", F.lit(p.seed)), F.lit(PLANT_EVERY)) == 0
    ).withColumn("path", F.concat(F.col("path"), F.lit(".dupcopy")))
    docs = b.call(
        "corpus.gen",
        lambda: _persisted(assign_doc_ids(base.unionByName(planted), ["repo", "path", "commit"])),
        req=req,
    )
    base.unpersist()
    bucket = F.pmod(F.xxhash64("path", F.lit(p.seed)), F.lit(8))
    plain = docs.drop("doc_id")
    slices = [_persisted(plain.where((bucket >= lo) & (bucket < hi))) for lo, hi in INGEST_SLICES]
    return docs, slices


class _Ingest:
    """One cycle: build_segment base + deltas into a fresh store, remove
    every DELETE_EVERY-th base doc, merge all segments."""

    def __init__(self, b: Bench, p: Params, slices):
        self.b, self.p, self.slices = b, p, slices
        self.sizes = [s.count() for s in slices]
        self.names = [f"s{j}" for j in range(len(slices))]
        self.build_s: list[float] = []
        self.remove_s: list[float] = []
        self.merge_s: list[float] = []
        self.store = self.condemned = self.meta = None
        self.deleted = 0

    def cycle(self, req: str, slot: int) -> int:
        b = self.b
        store = IndexStore(_fresh_dir(os.path.join(self.p.work, f"ingest-{slot}")))
        for name, docs in zip(self.names, self.slices):
            t0 = time.perf_counter()
            b.op(f"{req} build {name}", b.call, "index.build", build_segment, b.spark, store, docs, name, req=req)
            self.build_s.append(time.perf_counter() - t0)
        condemned = (
            store.read(b.spark, "s0", "docmap")
            .where(F.pmod(F.xxhash64("path", F.lit(self.p.seed)), F.lit(DELETE_EVERY)) == 0)
            .select(F.lit("s0").alias("segment"), "doc_id", "repo", "path", "commit")
            .persist()
        )
        t0 = time.perf_counter()
        self.deleted = b.call("index.segments", condemned.count, req=req)
        b.op(f"{req} remove", b.call, "index.segments", store.remove, b.spark, condemned, req=req)
        self.remove_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.meta = b.op(f"{req} merge", b.call, "index.merge", merge_segments, b.spark, store, self.names, "merged", req=req)
        self.merge_s.append(time.perf_counter() - t0)
        if self.condemned is not None:
            self.condemned.unpersist()
        self.store, self.condemned = store, condemned
        return sum(self.sizes)

    def verify(self) -> None:
        """Lineage + sha per built segment; merge dropped exactly the deletes."""
        b, store, meta = self.b, self.store, self.meta
        for name, docs in zip(self.names, self.slices):
            b.check(bool(verify_lineage(b.spark, store, name, docs)), f"{name}: verify_lineage")
            b.check(verify_sha_invariant(b.spark, store, name, docs) == 0, f"{name}: verify_sha_invariant == 0")
        built = sum(self.sizes)
        b.check(
            meta is not None and meta.docs_total == built - self.deleted,
            f"merged docs {getattr(meta, 'docs_total', None)} == built {built} - deleted {self.deleted}",
        )
        keys = ["repo", "path", "commit"]
        survivors = store.read(b.spark, "merged", "docmap").join(self.condemned.select(*keys), keys).count()
        b.check(survivors == 0, f"no deleted doc remains after the merge ({survivors} do)")


class _Dedup:
    """One sweep: minhash_lsh_pairs then simhash_pairs (64-bit, hamming <= 1)."""

    def __init__(self, b: Bench, docs):
        self.b, self.docs = b, docs
        self.n_docs = docs.count()
        ids = {
            (r["repo"], r["path"], r["commit"]): r["doc_id"]
            for r in docs.select("repo", "path", "commit", "doc_id").collect()
        }
        self.expected = {
            tuple(sorted((ids[(repo, path[: -len(".dupcopy")], commit)], did)))
            for (repo, path, commit), did in ids.items()
            if path.endswith(".dupcopy")
        }
        self.counts: dict[str, list[int]] = {"minhash": [], "simhash": []}
        self.pass_s: dict[str, list[float]] = {"minhash": [], "simhash": []}
        self.recall: list[float] = []

    def pairs(self, kind: str, req: str) -> set:
        b = self.b
        if kind == "minhash":
            df = b.call("dedup.minhash_pairs", minhash_lsh_pairs, self.docs, text_col="content", req=req)
        else:
            df = b.call(
                "dedup.simhash_pairs", simhash_pairs, self.docs, text_col="content",
                bits=64, hash_fn="xxhash64", max_hamming=1, req=req,
            )
        got = b.call(
            f"dedup.{kind}_pairs",
            lambda: {tuple(sorted(r)) for r in df.select("id_a", "id_b").collect()},
            req=req,
        )
        release_cached(df)
        return got

    def sweep(self, req: str) -> int:
        b = self.b
        for kind in ("minhash", "simhash"):
            t0 = time.perf_counter()
            got = b.op(f"{req} {kind}", self.pairs, kind, req)
            self.pass_s[kind].append(time.perf_counter() - t0)
            if got is None:
                continue
            self.counts[kind].append(len(got))
            found = len(self.expected & got)
            self.recall.append(found / len(self.expected) if self.expected else 1.0)
            b.check(found == len(self.expected), f"{req} {kind}: {found}/{len(self.expected)} planted copies found")
            b.check(len(got) == self.counts[kind][0], f"{req} {kind}: pair count {len(got)} repeats")
        return self.n_docs

    def rate(self, kind: str) -> float:
        return self.n_docs * len(self.pass_s[kind]) / sum(self.pass_s[kind])


def run_ingest_dedup(b: Bench, p: Params) -> Result:
    res = Result()
    _oracle_selftest(b, p)  # also warms the build and query paths
    docs, slices = None, []
    for rep in range(SETUP_REPS):
        for df in [docs, *slices] if docs is not None else []:
            df.unpersist()
        b.mark(f"set-up {rep}")
        t0 = time.perf_counter()
        docs, slices = _planted_corpus(b, p, f"setup-{rep}")
        res.setup_s.append(time.perf_counter() - t0)
    res.fingerprint = _fingerprint(docs, f"{INGEST_SLICES}/{DELETE_EVERY}/{PLANT_EVERY}")
    input_bytes = sum(len(r[0].encode()) for r in docs.select("content").collect())
    ingest, dedup = _Ingest(b, p, slices), _Dedup(b, docs)
    # warm-up: one untimed round; without it the first timed cycle ran
    # ~15% slower than the next
    b.mark("warm-up")
    ingest.cycle("warm-up", 1)
    dedup.pairs("minhash", "warm-up")
    dedup.pairs("simhash", "warm-up")
    for samples in (ingest.build_s, ingest.remove_s, ingest.merge_s):
        samples.clear()

    def step(i: int) -> int:
        req = f"cycle{i}"
        t0 = time.perf_counter()
        with b.tracer.span("bench.request", req):
            items = ingest.cycle(req, i % 2) + dedup.sweep(req)
        res.op_s.append(time.perf_counter() - t0)
        return items

    _timed_loop(b, p, res, step)
    ingest.verify()

    seg_bytes = sum(ingest.store.dir_bytes(n) for n in ingest.names)
    meta = ingest.meta
    merged_docs = meta.docs_total if meta else 0
    res.report["build_docs_per_s"] = (sum(ingest.sizes) * len(res.op_s) / sum(ingest.build_s), "docs/s", len(ingest.build_s))
    res.report["merge_docs_per_s"] = (merged_docs * len(res.op_s) / sum(ingest.merge_s), "docs/s", len(ingest.merge_s))
    res.report["index_bytes_per_input_byte"] = (seg_bytes / input_bytes, "ratio", len(ingest.names))
    res.report["minhash_docs_per_s"] = (dedup.rate("minhash"), "docs/s", len(dedup.pass_s["minhash"]))
    res.report["simhash_docs_per_s"] = (dedup.rate("simhash"), "docs/s", len(dedup.pass_s["simhash"]))
    if b.tracer.enabled:
        L = res.layers
        L["index.segments.remove_s"] = median(ingest.remove_s)
        L["index.segments.bytes"] = seg_bytes
        L["index.merge.bytes_in"] = seg_bytes
        L["index.merge.bytes_out"] = ingest.store.dir_bytes("merged")
        L["index.merge.docs_dropped"] = sum(ingest.sizes) - merged_docs
        L["index.build.postings_rows"] = ingest.store.read(b.spark, "s0", "postings").count()
        L["dedup.minhash_pairs_s"] = median(dedup.pass_s["minhash"])
        L["dedup.simhash_pairs_s"] = median(dedup.pass_s["simhash"])
        L["dedup.minhash_pairs"] = dedup.counts["minhash"][0] if dedup.counts["minhash"] else 0
        L["dedup.simhash_pairs"] = dedup.counts["simhash"][0] if dedup.counts["simhash"] else 0
        L["dedup.planted_recall"] = min(dedup.recall) if dedup.recall else 0.0
        for layer, fn in (("dedup.minhash_sig_s", minhash_signatures), ("dedup.simhash_sketch_s", simhash)):
            sink = fn(docs, text_col="content")
            t0 = time.perf_counter()
            b.call("dedup.sketch", lambda: sink.write.format("noop").mode("overwrite").save(), req="probe")
            L[layer] = time.perf_counter() - t0
        _probe_tokenize(b, res, docs)
        _probe_codec(b, res, ingest.store, "s0")
    return res


WORKLOADS = {"search": run_search, "ingest_dedup": run_ingest_dedup}
