"""Merge fixed costs: one docID remap rule for postings and docmap, one
bounded tombstone collect, a partials kernel of at most one task per core,
schema-known segment reads, and side-table jobs that keep the caller's
job group."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from iresearch_spark.corpus import generate_corpus
from iresearch_spark.index import merge as merge_mod
from iresearch_spark.index.merge import merge_segments
from iresearch_spark.index.segments import IndexStore, build_segment, footer_schema

TABLES = ("postings", "docmap", "term_stats", "lineage")
KEYS = ["repo", "path", "commit"]
MEMBERS = ["a", "b"]


def _drain(spark):
    """Wait until every listener event posted so far is processed, so the
    status tracker and the SQL status store see all finished jobs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _in_group(spark, fn):
    """Run fn under a fresh job group. Returns (fn's result, ids of every
    job started while it ran, ids of the jobs that carry the group)."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    def marker() -> int:
        g = f"mark-{uuid.uuid4().hex}"
        sc.setJobGroup(g, g)
        sc.parallelize([0], 1).count()
        _drain(spark)
        return st.getJobIdsForGroup(g)[0]

    group = f"g-{uuid.uuid4().hex}"
    lo = marker()
    sc.setJobGroup(group, "merge fixed-cost test")
    try:
        out = fn()
    finally:
        hi = marker()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, set(range(lo + 1, hi)), set(st.getJobIdsForGroup(group))


def _last_execution(spark) -> int:
    _drain(spark)
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return lst.apply(lst.size() - 1).executionId() if lst.size() else -1


def _executions(spark, since: int) -> list[tuple[str, set[int]]]:
    """(physical plan description, job ids) of every SQL execution after
    execution id `since`."""
    _drain(spark)
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in range(lst.size() - 1, -1, -1):
        e = lst.apply(i)
        if e.executionId() <= since:
            break
        jobs = {int(j) for j in e.jobs().keys().mkString(",").split(",") if j}
        out.append((e.physicalPlanDescription(), jobs))
    return out


def _table(spark, store, seg, table):
    return sorted(
        (tuple(r) for r in spark.read.parquet(store.seg_path(seg, table)).collect()),
        key=repr,
    )


def _meta(m):
    d = dict(m.__dict__)
    for k in ("name", "created_at", "bytes"):  # file layout, not content
        d.pop(k)
    return d


def _assert_same_segment(spark, store, a, b, meta_a, meta_b):
    for t in TABLES:
        assert _table(spark, store, a, t) == _table(spark, store, b, t), t
    assert _meta(meta_a) == _meta(meta_b)


@pytest.fixture(scope="module")
def dirty_store(spark, tmp_path_factory):
    """Three segments; live deletes in `a` and `b` (the merge members)."""
    corpus = generate_corpus(spark, 240, seed=29)
    h = F.pmod(F.xxhash64(*KEYS), F.lit(3))
    store = IndexStore(str(tmp_path_factory.mktemp("dirty")))
    for i, name in enumerate(("a", "b", "c")):
        build_segment(spark, store, corpus.where(h == i), name)
    condemned = store.read_union(spark, "docmap", MEMBERS).where(
        F.col("doc_id") % 5 == 2
    )
    store.remove(spark, condemned)
    return store


def test_inline_merge_equals_flat_merge(spark, dirty_store):
    """One remap rule: the inline merge (postings and docmap kernels) and
    the flat build_doc_map merge write the same segment. The caller's
    tombstones also cover `c`, outside the merge set."""
    store = dirty_store
    extra = (
        store.read(spark, "c", "docmap")
        .where(F.col("doc_id") % 4 == 1)
        .select(F.lit("c").alias("segment"), "doc_id")
    )
    tomb = store.read_deletes(spark).unionByName(extra)
    assert extra.count() > 0
    inline = merge_segments(spark, store, MEMBERS, "p_inline", tombstones=tomb, commit=False)
    flat = merge_segments(
        spark, store, MEMBERS, "p_flat", tombstones=tomb, commit=False, force_flat=True
    )
    _assert_same_segment(spark, store, "p_inline", "p_flat", inline, flat)

    metas = {s.name: s for s in store.current().segments}
    dead = store.read_union(spark, "docmap", MEMBERS).join(
        store.read_deletes(spark), ["segment", "doc_id"]
    )
    n_dead = dead.count()
    assert {r.segment for r in dead.select("segment").distinct().collect()} == set(MEMBERS)
    live = sum(metas[s].docs_total for s in MEMBERS) - n_dead
    assert inline.docs_total == live
    merged = store.read(spark, "p_inline", "docmap")
    ids = sorted(r.doc_id for r in merged.select("doc_id").collect())
    assert ids == list(range(1, live + 1))
    assert merged.join(dead.select(*KEYS), KEYS).count() == 0


def test_tombstones_past_the_cap_take_the_flat_path(spark, dirty_store, monkeypatch):
    """More tombstones than MERGE_INLINE_DELETES_MAX: the flat path, with
    the same output; the driver pulls cap + 1 tombstone rows in one job."""
    store = dirty_store
    cap = 3
    assert store.read_deletes(spark).count() > cap + 1
    ref = merge_segments(spark, store, MEMBERS, "cap_ref", commit=False)

    doc_maps = []
    real_doc_map = merge_mod.build_doc_map

    def doc_map_spy(*args, **kw):
        doc_maps.append(args[3])  # the tombstones argument
        return real_doc_map(*args, **kw)

    pulls = []
    df_cls = type(spark.range(1))
    real_collect = df_cls.collect

    def collect_spy(self):
        if self.columns != ["segment", "doc_id"]:
            return real_collect(self)
        rows, started, _ = _in_group(spark, lambda: real_collect(self))
        pulls.append((len(rows), len(started)))
        return rows

    monkeypatch.setattr(merge_mod, "MERGE_INLINE_DELETES_MAX", cap)
    monkeypatch.setattr(merge_mod, "build_doc_map", doc_map_spy)
    monkeypatch.setattr(df_cls, "collect", collect_spy)
    capped = merge_segments(spark, store, MEMBERS, "cap_flat", commit=False)
    monkeypatch.undo()

    assert pulls == [(cap + 1, 1)]
    assert len(doc_maps) == 1 and doc_maps[0] is not None
    _assert_same_segment(spark, store, "cap_ref", "cap_flat", ref, capped)


def test_inline_merge_job_shape(spark, dirty_store):
    """A merge with tombstones runs no build_doc_map (no range partitioning
    in any job it starts) and its partials stage has at most
    defaultParallelism tasks, even when the member scan has more splits."""
    store = dirty_store
    dp = spark.sparkContext.defaultParallelism
    st = spark.sparkContext.statusTracker()
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1k")  # many scan splits per member file
    try:
        assert store.read_union(spark, "postings", MEMBERS).rdd.getNumPartitions() > dp
        since = _last_execution(spark)
        _, started, grouped = _in_group(
            spark, lambda: merge_segments(spark, store, MEMBERS, "shape", commit=False)
        )
    finally:
        spark.conf.set(key, prev)
    execs = _executions(spark, since)
    assert started and started == grouped
    assert set().union(*(jobs for _, jobs in execs)) <= started
    assert not [p for p, _ in execs if "rangepartitioning" in p.lower()]
    partial_jobs = [jobs for p, jobs in execs if "Coalesce" in p and "MapInPandas" in p]
    assert len(partial_jobs) == 1
    tasks = [
        info.numTasks
        for j in partial_jobs[0]
        for sid in st.getJobInfo(j).stageIds
        if (info := st.getStageInfo(sid)) is not None
    ]
    assert tasks and max(tasks) <= dp

    # control: the flat path's doc map does range-partition
    since = _last_execution(spark)
    merge_segments(spark, store, MEMBERS, "shape_flat", commit=False, force_flat=True)
    assert [p for p, _ in _executions(spark, since) if "rangepartitioning" in p.lower()]


def test_side_table_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every job a build or a merge starts, side-table threads included,
    belongs to the caller's job group."""
    corpus = generate_corpus(spark, 120, seed=31)
    h = F.pmod(F.xxhash64(*KEYS), F.lit(2))
    store = IndexStore(str(tmp_path / "labels"))
    _, started, grouped = _in_group(
        spark, lambda: build_segment(spark, store, corpus.where(h == 0), "x")
    )
    assert started and started == grouped
    build_segment(spark, store, corpus.where(h == 1), "y")
    store.remove(
        spark, spark.createDataFrame([("x", 1), ("y", 2)], "segment string, doc_id long")
    )
    _, started, grouped = _in_group(
        spark, lambda: merge_segments(spark, store, ["x", "y"], "xy")
    )
    assert started and started == grouped


TEXTS = [
    "spark builds fast index",
    "query the spark engine twice spark",
    "merge keeps payload bytes",
    "nothing relevant here",
]


def _pfn(toks, starts, lens):
    return [f"{t}@{s}".encode() for t, s in zip(toks.tolist(), starts.tolist())]


def test_schema_known_reads(spark, tmp_path):
    """Store reads take the schema from the parquet footer: the same schema
    as an inferring spark.read.parquet, and no job at read time."""
    store = IndexStore(str(tmp_path / "schemas"))
    docs = spark.createDataFrame(
        [("r", f"f{i}.py", "c0", "py", t) for i, t in enumerate(TEXTS)],
        "repo string, path string, commit string, lang string, content string",
    )
    variants = {
        "plain": {"with_positions": False},
        "positions": {},
        "offsets": {"with_offsets": True},
        "payloads": {"payload_fn": _pfn},
    }
    for name, kw in variants.items():
        build_segment(spark, store, docs, name, **kw)
    store.remove(spark, spark.createDataFrame([("positions", 1)], "segment string, doc_id long"))
    dels_path = store.deletes_path(store.current().deletes_gen)

    reads = [(name, "postings") for name in variants]
    reads += [("positions", t) for t in ("docmap", "term_stats", "lineage")]
    for seg, table in reads:
        path = store.seg_path(seg, table)
        assert footer_schema(path) is not None
        assert store.read(spark, seg, table).schema == spark.read.parquet(path).schema
    assert store.read_deletes(spark).schema == spark.read.parquet(dels_path).schema

    _, started, _ = _in_group(
        spark,
        lambda: [store.read(spark, s, t) for s, t in reads] + [store.read_deletes(spark)],
    )
    assert not started

    # a store mixing offsets and plain segments still null-fills
    mixed = store.read_union(spark, "postings", ["plain", "offsets"])
    counts = {
        r.segment: (r.n, r.k)
        for r in mixed.groupBy("segment")
        .agg(F.count("*").alias("n"), F.count("off_bin").alias("k"))
        .collect()
    }
    assert counts["plain"][0] > 0 and counts["plain"][1] == 0
    assert counts["offsets"][1] == counts["offsets"][0] > 0

    # a table without Spark's footer key falls back to schema inference
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = store.seg_path("arrow", "term_stats")
    os.makedirs(path)
    pq.write_table(
        pa.table(
            {
                "term": ["spark", "index"],
                "doc_freq": pa.array([2, 1], pa.int64()),
                "total_tf": pa.array([3, 1], pa.int64()),
            }
        ),
        os.path.join(path, "part-00000.parquet"),
    )
    assert footer_schema(path) is None
    got = store.read(spark, "arrow", "term_stats")
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect()) and got.count() == 2
    assert store.table_columns(spark, "arrow", "term_stats") == ["term", "doc_freq", "total_tf"]
