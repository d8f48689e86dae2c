"""Checkpoint/resume, snapshot store, streaming ingest, and the pages
extract path (operators S3/S4/F1-F8, SURVEY.md 2.1/2.9)."""

import os

import pytest
from pyspark.sql import functions as F

from textindexing_spark import IndexConfig, build_index
from textindexing_spark.functions.extract import extract_text
from textindexing_spark.plans.manifest import (
    StagePipeline, read_manifest, verify_stage, write_stage)
from textindexing_spark.sources.catalog import empty_index
from textindexing_spark.sources.glob import glob_filter, glob_to_regex
from textindexing_spark.sources.pages import (
    generate_pages, generate_pages_rows, PAGES_SCHEMA)
from textindexing_spark.streaming.ingest import (
    StreamingIngestor, dedup_last_wins, doc_ids_for)


# --- extraction: byte-identical text per url (input_hint invariant) ---------

def test_extract_roundtrip_bytes():
    rows = generate_pages_rows(n_docs=120, seed=3)
    for url, _, html, text, _ in rows:
        assert extract_text(html) == text, url
    assert extract_text(None) == ""
    assert extract_text(b"") == ""


def test_extract_udf_matches_golden(spark):
    pages = generate_pages(spark, n_docs=60, seed=5)
    from textindexing_spark.functions.extract import extract_text_udf

    got = (pages.withColumn("etext", extract_text_udf()(F.col("html")))
           .where(F.col("etext") != F.col("text")).count())
    assert got == 0


# --- glob predicate (S6) ------------------------------------------------------

def test_glob_to_regex():
    # (?iu): Java rlike needs UNICODE_CASE for non-ASCII IgnoreCase
    assert glob_to_regex("*.txt") == "(?iu)^.*\\.txt$"
    with pytest.raises(ValueError):
        glob_to_regex("a|b")
    with pytest.raises(ValueError):
        glob_to_regex("")


def test_glob_filter(spark):
    pages = generate_pages(spark, n_docs=30, seed=5, recrawl_fraction=0.0)
    hit = glob_filter(pages, "url", "https://example.org/doc/0000??")
    assert hit.count() == 30  # all urls match doc/0000NN for n<100
    assert glob_filter(pages, "url", "*doc/000001").count() == 1


# --- lineage manifests + checkpoint resume (north_rule) ----------------------

def test_write_stage_manifest(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "stage1")
    m = write_stage(df, path, "stage1", "fp1")
    assert m["row_count"] == 100
    assert sum(p["rows"] for p in m["partitions"]) == 100
    assert read_manifest(path)["stage"] == "stage1"
    assert verify_stage(spark, path)


def test_fs_write_text_raises_when_rename_fails(monkeypatch):
    """Hadoop's rename reports failure (common on object stores) by
    returning False: the manifest write must raise, not silently leave
    the stage without a manifest."""
    import io

    from textindexing_spark.plans import manifest

    class FalseRenameFS:
        def create(self, path, overwrite):
            return io.BytesIO()

        def exists(self, path):
            return False

        def rename(self, src, dst):
            return False

    monkeypatch.setattr(manifest, "_hadoop_fs",
                        lambda spark, path: (FalseRenameFS(), path))
    with pytest.raises(OSError, match="rename"):
        manifest.fs_write_text(None, "s3a://bucket/stage/manifest.json",
                               "{}")


def test_pipeline_resume_skips_committed(spark, tmp_path):
    base = str(tmp_path / "pipe")
    calls = []

    def s1(s):
        calls.append("s1")
        return s.range(10)

    def s2(s, up):
        calls.append("s2")
        return up.withColumn("v", F.col("id") + 1)

    p1 = StagePipeline(spark, base, "fpA")
    a = p1.stage("s1", s1)
    p1.stage("s2", s2, a)
    assert p1.executed == ["s1", "s2"]

    # resume: nothing recomputes
    p2 = StagePipeline(spark, base, "fpA")
    a = p2.stage("s1", s1)
    out = p2.stage("s2", s2, a)
    assert p2.executed == [] and p2.skipped == ["s1", "s2"]
    assert out.count() == 10
    assert calls == ["s1", "s2"]

    # changed input fingerprint: everything recomputes
    p3 = StagePipeline(spark, base, "fpB")
    a = p3.stage("s1", s1)
    p3.stage("s2", s2, a)
    assert p3.executed == ["s1", "s2"]


# --- versioned snapshot store (Q5 / MVCC) -------------------------------------

def test_versioned_store_snapshot_isolation(spark, tmp_path):
    from textindexing_spark.sources.bucketed import BucketedIndexStore

    store = BucketedIndexStore(spark, str(tmp_path / "idx"),
                               n_term_buckets=4, n_doc_buckets=2)
    assert store.latest_version() is None
    assert store.load().documents.count() == 0

    docs1 = spark.createDataFrame([(1, "alpha beta"), (2, "beta gamma")],
                                  "doc_id bigint, text string")
    v1 = store.commit_merge(docs1)
    snap1 = store.load(v1)

    docs2 = spark.createDataFrame([(3, "delta")], "doc_id bigint, text string")
    v2 = store.commit_merge(docs2)
    assert v2 == v1 + 1

    # pinned snapshot unaffected by the later commit
    assert snap1.documents.count() == 2
    assert store.load().documents.count() == 3
    assert store.load(v1).documents.count() == 2
    assert store.versions() == [v1, v2]


# --- streaming ingest (F1-F8) --------------------------------------------------

def _write_batch(spark, rows, path, mode="append"):
    spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1) \
        .write.mode(mode).parquet(path)


def test_streaming_ingest_equals_bulk(spark, tmp_path):
    rows = generate_pages_rows(n_docs=40, seed=9, recrawl_fraction=0.0)
    src = str(tmp_path / "pages_src")
    _write_batch(spark, rows[:25], src)

    ing = StreamingIngestor(spark, str(tmp_path / "stream_idx"))
    ing.ingest_available(src, str(tmp_path / "ckpt"))
    assert ing.metrics.batches >= 1
    v_after_bulk = ing.store.latest_version()

    # change stream: only NEW files are processed on the next drain
    _write_batch(spark, rows[25:], src)
    ing.ingest_available(src, str(tmp_path / "ckpt"))
    assert ing.store.latest_version() > v_after_bulk

    # equivalence: streaming-built index == bulk-built index (ids come
    # from the ingestor's persisted url dimension)
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    bulk = build_index(
        spark, pages.join(ing.url_ids.mapping(), "url")
        .select("doc_id", "text"))
    stream_idx = ing.index()
    a = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)))
         for r in bulk.postings.collect()}
    b = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)))
         for r in stream_idx.postings.collect()}
    assert a == b


def test_dedup_last_wins(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    rows = [("u1", t0, None, "old text", "en"),
            ("u1", t1, None, "new text", "en"),
            ("u2", t0, None, "only", "en")]
    out = dedup_last_wins(spark.createDataFrame(rows, PAGES_SCHEMA))
    got = {r.url: r.text for r in out.collect()}
    assert got == {"u1": "new text", "u2": "only"}


def test_recrawl_upsert_via_stream(spark, tmp_path):
    import datetime as dt

    src = str(tmp_path / "src")
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 3, 1)
    _write_batch(spark, [("u1", t0, None, "alpha beta", "en"),
                         ("u2", t0, None, "gamma", "en")], src)
    ing = StreamingIngestor(spark, str(tmp_path / "idx"))
    ing.ingest_available(src, str(tmp_path / "ck"))
    assert ing.index().search_bool("alpha").count() == 1

    # re-crawl u1 with new content; u2 becomes empty => deleted
    _write_batch(spark, [("u1", t1, None, "zeta", "en"),
                         ("u2", t1, None, "", "en")], src)
    ing.ingest_available(src, str(tmp_path / "ck"))
    idx = ing.index()
    assert idx.search_bool("alpha").count() == 0   # replaced
    assert idx.search_bool("zeta").count() == 1
    assert idx.search_bool("gamma").count() == 0   # deleted via empty merge
    assert idx.documents.count() == 1


def test_streaming_segment_ingest_equals_bulk(spark, tmp_path):
    """Scale-path continuous maintenance: micro-batched shard-local
    upserts into the compressed segment index must equal a bulk segment
    build of the final corpus state (BM25 rank-identity), including
    re-crawl replacement and empty-merge deletion."""
    import datetime as dt

    from textindexing_spark.operators.bm25 import build_segments_from_docs
    from textindexing_spark.streaming.ingest import StreamingSegmentIngestor

    rows = generate_pages_rows(n_docs=30, seed=13, recrawl_fraction=0.0)
    src = str(tmp_path / "seg_src")
    _write_batch(spark, rows[:20], src)

    ing = StreamingSegmentIngestor(spark, str(tmp_path / "seg_idx"),
                                   n_shards=4)
    ing.ingest_available(src, str(tmp_path / "seg_ck"))
    v1 = ing.store._latest()
    assert v1 is not None

    # second drop: 10 new docs + re-crawl of rows[0] + delete of rows[1]
    t1 = dt.datetime(2024, 6, 1)
    recrawl = [(rows[0][0], t1, None, "completely different words", "en"),
               (rows[1][0], t1, None, "", "en")]
    _write_batch(spark, rows[20:] + recrawl, src)
    ing.ingest_available(src, str(tmp_path / "seg_ck"))
    assert ing.store._latest() > v1

    final = {r[0]: r for r in rows}
    final[rows[0][0]] = recrawl[0]
    final[rows[1][0]] = recrawl[1]
    pages = spark.createDataFrame(list(final.values()), PAGES_SCHEMA)
    bulk = build_segments_from_docs(
        spark, pages.join(ing.url_ids.mapping(), "url")
        .select("doc_id", "text"),
        ing.cfg, n_shards=4)

    stream_seg = ing.index()
    assert stream_seg.n_docs == bulk.n_docs
    for q in ("word1 word3", "completely different", "word0"):
        a = [(r.doc_id, round(r.score, 9)) for r in
             stream_seg.search_bm25(q, 10).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             bulk.search_bm25(q, 10).collect()]
        assert a == b, q


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """O(delta) incremental merge: after a small upsert, every term/doc
    bucket the batch did not touch must be the SAME files (manifest
    entries unchanged, still pointing into the earlier version's data
    dir) — and the merged index must equal a bulk rebuild of the final
    corpus state (Index.merge semantics: replace, insert, empty=delete)."""
    import os

    from textindexing_spark.sources.bucketed import BucketedIndexStore

    # controlled corpus: doc i holds terms w{i}..w{i+2}, so a delta over
    # two docs affects a KNOWN handful of terms (not the whole vocabulary)
    base_rows = [(i, f"w{i} w{i + 1} w{i + 2} w{i}") for i in range(80)]
    base_docs = spark.createDataFrame(base_rows,
                                      "doc_id bigint, text string")
    store = BucketedIndexStore(spark, str(tmp_path / "bstore"),
                               n_term_buckets=16, n_doc_buckets=8)
    v1 = store.commit_merge(base_docs, mode="rewrite")
    m1 = store.manifest(v1)
    assert set(m1["postings"]) and set(m1["documents"])

    # delta: one re-crawl (replacement), one new doc, one delete
    base_collected = base_docs.collect()
    d_replace = base_collected[3]["doc_id"]
    d_delete = base_collected[7]["doc_id"]
    delta = spark.createDataFrame(
        [(d_replace, "completely fresh words here"),
         (999_999, "brand new document words"),
         (d_delete, "")], "doc_id bigint, text string")
    v2 = store.commit_merge(delta, mode="rewrite")
    m2 = store.manifest(v2)

    # untouched buckets: identical manifest entries, still v1 files
    same_p = [k for k in m1["postings"]
              if m2["postings"].get(k) == m1["postings"][k]]
    same_d = [k for k in m1["documents"]
              if m2["documents"].get(k) == m1["documents"][k]]
    assert same_p, "no postings bucket survived untouched"
    assert same_d, "no documents bucket survived untouched"
    changed_p = [k for k in m2["postings"]
                 if m2["postings"][k] != m1["postings"].get(k)]
    assert all(f"v{v2}_data" in m2["postings"][k] for k in changed_p)
    assert all(f"v{v2}_data" not in m1["postings"].get(k, "")
               for k in same_p)
    # byte-identity of an untouched bucket's files across versions
    k = same_p[0]
    files = sorted(f for f in os.listdir(m1["postings"][k])
                   if f.endswith(".parquet"))
    assert files == sorted(f for f in os.listdir(m2["postings"][k])
                           if f.endswith(".parquet"))

    # equivalence with a bulk rebuild of the final state
    final = {r["doc_id"]: r["text"] for r in base_collected}
    final[d_replace] = "completely fresh words here"
    final[999_999] = "brand new document words"
    del final[d_delete]
    bulk = build_index(spark, spark.createDataFrame(
        sorted(final.items()), "doc_id bigint, text string"))
    got = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)))
           for r in store.load().postings.collect()}
    want = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)))
            for r in bulk.postings.collect()}
    assert got == want
    assert store.load().documents.count() == len(final)
    # snapshot isolation: v1 unaffected by the later merge
    assert store.load(v1).documents.count() == len(base_collected)


def test_lsm_delta_commits_equal_bulk_and_compact(spark, tmp_path):
    """LSM path: a stream of delta commits must (a) never rewrite base
    bucket files, (b) keep the live delta count tiered (O(log batches)),
    (c) resolve to exactly the bulk-built index at every step, and
    (d) compact() must fold deltas into the base with identical results."""
    from textindexing_spark.sources.bucketed import BucketedIndexStore

    rows = generate_pages_rows(n_docs=60, seed=31, recrawl_fraction=0.0)
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    all_docs = doc_ids_for(pages).select("doc_id", "text").collect()
    ids = [r["doc_id"] for r in all_docs]

    store = BucketedIndexStore(spark, str(tmp_path / "lsm"),
                               n_term_buckets=8, n_doc_buckets=4)
    # base: first 30 docs, folded into buckets
    store.commit_merge(
        spark.createDataFrame(all_docs[:30], "doc_id bigint, text string"),
        mode="rewrite")
    m_base = store.manifest()

    # stream: 3 delta batches — inserts, a replacement, a delete
    batches = [
        all_docs[30:40],
        [(ids[2], "replacement text for document two")] + all_docs[40:50],
        [(ids[5], "")] + all_docs[50:60],
    ]
    state = {r["doc_id"]: r["text"] for r in all_docs[:30]}
    for b in batches:
        b = [(int(d), t) for d, t in b]
        store.commit_merge(
            spark.createDataFrame(b, "doc_id bigint, text string"))
        for d, t in b:
            if t:
                state[d] = t
            else:
                state.pop(d, None)
    m_now = store.manifest()
    # (a) base buckets untouched by delta commits
    assert m_now["postings"] == m_base["postings"]
    assert m_now["documents"] == m_base["documents"]
    # (b) tiering collapsed equal-size batches
    assert 1 <= len(m_now["deltas"]) <= 3

    def postings_set(idx):
        return {(r.term,
                 tuple(sorted((p.doc_id, p.tf) for p in r.postings)),
                 r.df, r.total_tf)
                for r in idx.postings.collect()}

    bulk = build_index(spark, spark.createDataFrame(
        sorted(state.items()), "doc_id bigint, text string"))
    want = postings_set(bulk)
    # (c) resolved view == bulk rebuild (incl. df/total_tf and doc table)
    assert postings_set(store.load()) == want
    assert ({(r.doc_id, r.doc_len) for r in store.load().documents.collect()}
            == {(r.doc_id, r.doc_len) for r in bulk.documents.collect()})
    # lookups on the resolved view behave (replacement + delete visible)
    assert store.load().search_bool("replacement").count() == 1

    # (d) compaction: same answers, zero deltas, base now owns everything
    v_compacted = store.compact()
    m_c = store.manifest(v_compacted)
    assert m_c["deltas"] == []
    assert postings_set(store.load()) == want
    # compacting a compacted store is a no-op version-wise
    assert store.compact() == v_compacted


def test_streaming_auto_compaction(spark, tmp_path):
    """compact_every=N folds LSM deltas into the bucketed base every N
    micro-batches (scheduled maintenance ≙ Lucene background merges);
    query results are identical before and after."""
    rows = generate_pages_rows(n_docs=30, seed=41, recrawl_fraction=0.0)
    src = str(tmp_path / "src")
    ing = StreamingIngestor(spark, str(tmp_path / "idx"),
                            n_term_buckets=8, n_doc_buckets=4,
                            compact_every=2)
    _write_batch(spark, rows[:15], src)
    ing.ingest_available(src, str(tmp_path / "ck"))
    _write_batch(spark, rows[15:], src)
    ing.ingest_available(src, str(tmp_path / "ck"))
    assert ing.metrics.batches == 2
    assert ing.store.manifest()["deltas"] == []  # compacted
    bulk = build_index(
        spark, spark.createDataFrame(rows, PAGES_SCHEMA)
        .join(ing.url_ids.mapping(), "url").select("doc_id", "text"))
    a = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)))
         for r in bulk.postings.collect()}
    b = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)))
         for r in ing.index().postings.collect()}
    assert a == b


def test_streaming_windowed_counts_equal_batch(spark, tmp_path):
    """The watermarked streaming window aggregation must produce exactly
    the batch hourly aggregation after draining the same events (late
    rows inside the watermark horizon included)."""
    import shutil

    from textindexing_spark.streaming.windows import run_windowed_counts

    src = str(tmp_path / "ev_src")
    events = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    events.coalesce(2).write.parquet(src)

    out = str(tmp_path / "ev_out")
    run_windowed_counts(spark, src, out, str(tmp_path / "ev_ck"))
    got = {(r.hour_ts, r.event_type, r.n, r.sum_value)
           for r in spark.read.parquet(out).collect()}
    want = {(r.hour_ts, r.event_type, r.n, r.sum_value)
            for r in (events.groupBy(
                F.unix_timestamp(F.date_trunc("hour", "ts"))
                 .alias("hour_ts"), "event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 4).alias("sum_value"))
                .collect())}
    assert got == want and got
    shutil.rmtree(out, ignore_errors=True)


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: a session is emitted as
    closed exactly when the final watermark (global max event time - 2h)
    passed its 30-min gap horizon — the append-mode finalization rule.
    Per-user counts must equal the batch sessionization restricted to
    those finalized sessions; boundaries must respect the gap rule."""
    import shutil

    from pyspark.sql import Window as W

    from textindexing_spark.streaming.stateful import run_sessionize

    src = str(tmp_path / "sess_src")
    events = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
              .withColumn("ts", F.col("ts").cast("timestamp")))
    events.coalesce(1).write.parquet(src)  # one file -> one micro-batch

    out = str(tmp_path / "sess_out")
    run_sessionize(spark, src, out, str(tmp_path / "sess_ck"))
    got = spark.read.parquet(out)
    closed_per_user = {r.user_id: r.n for r in
                       got.groupBy("user_id")
                       .agg(F.count("*").alias("n")).collect()}

    global_max = events.agg(F.max(F.unix_micros(
        F.col("ts").cast("timestamp_ltz")))).collect()[0][0]
    wm_us = global_max - 7200 * 1_000_000
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess_ends = (events
                 .withColumn("us", F.unix_micros(F.col("ts")
                                                 .cast("timestamp_ltz")))
                 .withColumn("prev", F.lag("us").over(w))
                 .withColumn("new_s", F.when(
                     F.col("prev").isNull() |
                     (F.col("us") - F.col("prev") > 1800 * 1_000_000),
                     1).otherwise(0))
                 .withColumn("sid", F.sum("new_s").over(
                     w.rowsBetween(W.unboundedPreceding, 0)))
                 .groupBy("user_id", "sid")
                 .agg(F.max("us").alias("end_us")))
    want = {r.user_id: r.n for r in
            (sess_ends
             .where(F.col("end_us") + 1800 * 1_000_000 < F.lit(wm_us))
             .groupBy("user_id").agg(F.count("*").alias("n"))
             .collect())}
    assert closed_per_user == want and want

    # every emitted session respects the gap rule internally and ends
    # > 30 min before the user's next session starts
    rows = sorted(got.collect(), key=lambda r: (r.user_id, r.start_us))
    for a, b in zip(rows, rows[1:]):
        if a.user_id == b.user_id:
            assert b.start_us - a.end_us > 1800 * 1_000_000
    assert all(r.end_us >= r.start_us and r.n_events >= 1 for r in rows)
    shutil.rmtree(out, ignore_errors=True)


def test_bucketed_vacuum_keeps_live_versions_readable(spark, tmp_path):
    """vacuum() must delete only data unreachable from the kept
    manifests: the latest versions stay byte-for-byte queryable
    (copy-on-write shares bucket files across versions, so reachability
    is over the union of kept manifests), older versions disappear."""
    import os

    from textindexing_spark.sources.bucketed import BucketedIndexStore

    store = BucketedIndexStore(spark, str(tmp_path / "vac"),
                               n_term_buckets=8, n_doc_buckets=4)
    docs = [(i, f"w{i} w{i + 1} shared") for i in range(40)]
    store.commit_merge(
        spark.createDataFrame(docs, "doc_id bigint, text string"),
        mode="rewrite")
    for j in range(4):  # four delta commits -> five versions
        store.commit_merge(spark.createDataFrame(
            [(100 + j, f"delta{j} words")], "doc_id bigint, text string"))
    versions = store.versions()
    assert len(versions) == 5
    before = {r.term for r in store.load().postings.collect()}

    deleted = store.vacuum(keep_last=2, grace_s=0)
    assert deleted
    assert store.versions() == versions[-2:]
    # latest version still fully queryable, identical content
    after = {r.term for r in store.load().postings.collect()}
    assert after == before
    assert store.load().search_bool("delta3").count() == 1
    assert store.load().search_bool("shared").count() == 40
    # the v1 base bucket files survive (still referenced via inheritance)
    m = store.manifest()
    assert all(os.path.isdir(p) for p in m["postings"].values())
    # keep_last=0 clamps to 1: the LATEST manifest and its data survive
    store.vacuum(keep_last=0, grace_s=0)
    assert store.versions() == versions[-1:]
    assert {r.term for r in store.load().postings.collect()} == before


@pytest.mark.parametrize("seed", [5, 17])
def test_lsm_random_operation_sequences(spark, tmp_path, seed):
    """Randomized (seeded) merge sequences — inserts, re-crawls, deletes,
    mixed delta/rewrite commits, a mid-stream compaction — must leave the
    store equal to a bulk rebuild of the model state (the reference's
    merge-equivalence property, applied to the LSM/bucket path)."""
    import random

    from textindexing_spark.sources.bucketed import BucketedIndexStore

    rng = random.Random(seed)
    vocab = [f"t{j}" for j in range(30)]
    store = BucketedIndexStore(spark, str(tmp_path / f"rand{seed}"),
                               n_term_buckets=8, n_doc_buckets=4)
    model: dict[int, str] = {}
    next_id = 0
    for step in range(5):
        batch: dict[int, str] = {}
        for _ in range(rng.randint(1, 8)):
            roll = rng.random()
            if roll < 0.5 or not model:
                did = next_id
                next_id += 1
            else:
                did = rng.choice(sorted(model))
            text = "" if (roll > 0.85 and model) else " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 12)))
            batch[did] = text
        mode = "rewrite" if rng.random() < 0.25 else "delta"
        store.commit_merge(
            spark.createDataFrame(sorted(batch.items()),
                                  "doc_id bigint, text string"),
            mode=mode)
        for d, t in batch.items():
            if t:
                model[d] = t
            else:
                model.pop(d, None)
        if step == 2:
            store.compact()

    bulk = build_index(spark, spark.createDataFrame(
        sorted(model.items()), "doc_id bigint, text string"))
    want = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)),
             r.df, r.total_tf) for r in bulk.postings.collect()}
    got = {(r.term, tuple(sorted((p.doc_id, p.tf) for p in r.postings)),
            r.df, r.total_tf) for r in store.load().postings.collect()}
    assert got == want
    assert ({(r.doc_id, r.doc_len) for r in
             store.load().documents.collect()} ==
            {(r.doc_id, r.doc_len) for r in bulk.documents.collect()})


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """A session spanning a micro-batch boundary must merge with the
    carried state (batch-2 events within the gap extend it; the next
    gap closes it with the combined span/count)."""
    import datetime as dt

    from textindexing_spark.streaming.stateful import sessionize_stream

    ev_ddl = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, session_hint int")

    def ev(eid, minute):
        return (eid, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute),
                1, "view", 1.0, 0)

    src = str(tmp_path / "xbatch")
    _f1 = spark.createDataFrame([ev(1, 0), ev(2, 10)], ev_ddl)
    _f1.coalesce(1).write.mode("append").parquet(src)
    _f2 = spark.createDataFrame([ev(3, 20), ev(4, 180), ev(5, 480)], ev_ddl)
    _f2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(ev_ddl)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "xbatch_out")
    q = (sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "xbatch_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    base = dt.datetime(2024, 1, 1)

    def us(minute):
        return int((base + dt.timedelta(minutes=minute))
                   .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    got = sorted((r.start_us, r.end_us, r.n_events)
                 for r in spark.read.parquet(out).collect())
    # session 1 spans the batch boundary: 00:00 + 00:10 (batch 1) then
    # 00:20 (batch 2) -> closed by the 03:00 gap with 3 events;
    # session 2 = the lone 03:00 event, closed by the 08:00 gap; the
    # 08:00 session stays open (watermark 06:00 < its 08:30 horizon)
    assert got == [(us(0), us(20), 3), (us(180), us(180), 1)]


def test_stateful_sessionize_out_of_order_across_batches(spark, tmp_path):
    """An event arriving in a LATER micro-batch but with an EARLIER
    timestamp (allowed: still above the watermark) must merge into the
    run it belongs to: it may never move a session's end backwards
    (user 1: late 00:10 lands inside the carried 00:00-00:20 session)
    and must bridge two carried runs into one session when it closes
    both gaps (user 2: 00:30 joins the 00:00 and 01:00 runs)."""
    import datetime as dt

    from textindexing_spark.streaming.stateful import sessionize_stream

    ev_ddl = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, session_hint int")

    def ev(eid, minute, user):
        return (eid, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute),
                user, "view", 1.0, 0)

    src = str(tmp_path / "ooo")
    _f1 = spark.createDataFrame(
        [ev(1, 0, 1), ev(2, 20, 1), ev(3, 0, 2), ev(4, 60, 2)], ev_ddl)
    _f1.coalesce(1).write.mode("append").parquet(src)
    _f2 = spark.createDataFrame(
        [ev(5, 10, 1), ev(6, 30, 2), ev(7, 240, 3)], ev_ddl)
    _f2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(ev_ddl)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "ooo_out")
    q = (sessionize_stream(stream, gap_minutes=30, watermark="2 hours")
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ooo_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    base = dt.datetime(2024, 1, 1)

    def us(minute):
        return int((base + dt.timedelta(minutes=minute))
                   .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    got = sorted((r.user_id, r.start_us, r.end_us, r.n_events)
                 for r in spark.read.parquet(out).collect())
    # final watermark = 04:00 - 2h = 02:00: closes user 1's merged
    # session (end 00:20 + 30 min < 02:00 — NOT end 00:10!) and user 2's
    # bridged single session; user 3's 04:00 run stays open
    assert got == [(1, us(0), us(20), 3), (2, us(0), us(60), 3)]


def test_vacuum_retention_contract_for_pinned_readers(spark, tmp_path):
    """The retention contract: vacuum(keep_last=K) guarantees the newest
    K versions stay fully readable; a reader pinned to an OLDER version
    whose data compaction left unreferenced fails CLEANLY — manifest
    lookup raises FileNotFoundError, and an already-loaded view errors
    at scan time instead of silently returning partial data. (A pinned
    version whose files happen to be shared by kept manifests keeps
    working — copy-on-write sharing, also correct.)"""
    from textindexing_spark.sources.bucketed import BucketedIndexStore

    store = BucketedIndexStore(spark, str(tmp_path / "ret"),
                               n_term_buckets=8, n_doc_buckets=4)
    store.commit_merge(spark.createDataFrame(
        [(i, f"w{i} base") for i in range(20)],
        "doc_id bigint, text string"), mode="rewrite")
    store.commit_merge(spark.createDataFrame(
        [(100, "pinme words")], "doc_id bigint, text string"))     # v2
    pinned = store.load(2)
    assert pinned.search_bool("pinme").count() == 1   # readable pre-vacuum
    store.commit_merge(spark.createDataFrame(
        [(101, "more words")], "doc_id bigint, text string"))      # v3
    store.compact()                                                # v4
    store.commit_merge(spark.createDataFrame(
        [(102, "newest words")], "doc_id bigint, text string"))    # v5

    store.vacuum(keep_last=2, grace_s=0)
    assert store.versions() == [4, 5]                 # keep_last honored
    assert store.load().search_bool("pinme").count() == 1  # folded, live
    with pytest.raises(FileNotFoundError):
        store.manifest(2)                             # expired manifest
    with pytest.raises(Exception):                    # deleted delta dir
        store.load(2)
    with pytest.raises(Exception):
        pinned.search_bool("pinme").collect()         # errors, not partial


def test_concurrent_writers_second_commit_fails_loudly(spark, tmp_path):
    """Two writers racing on one store: the writer whose LATEST read went
    stale must raise ConcurrentWriterError (not silently last-write-win),
    and the store must stay consistent with the winner's commit."""
    from textindexing_spark.sources.bucketed import (
        BucketedIndexStore, ConcurrentWriterError)

    root = str(tmp_path / "race")
    a = BucketedIndexStore(spark, root, n_term_buckets=8, n_doc_buckets=4)
    b = BucketedIndexStore(spark, root, n_term_buckets=8, n_doc_buckets=4)
    a.commit_merge(spark.createDataFrame(
        [(1, "alpha beta")], "doc_id bigint, text string"))

    # interleave: while A's commit is mid-flight (delta written, manifest
    # not yet swapped), B lands a full commit
    orig = a._write_delta
    fired = []

    def delta_then_b_commits(*args, **kw):
        n = orig(*args, **kw)
        if not fired:  # interleave B exactly once (tier merges re-enter)
            fired.append(1)
            b.commit_merge(spark.createDataFrame(
                [(2, "gamma")], "doc_id bigint, text string"))
        return n

    a._write_delta = delta_then_b_commits
    with pytest.raises(ConcurrentWriterError):
        a.commit_merge(spark.createDataFrame(
            [(3, "epsilon")], "doc_id bigint, text string"))
    a._write_delta = orig

    idx = a.load()
    assert idx.search_bool("gamma").count() == 1     # B's commit won
    assert idx.search_bool("epsilon").count() == 0   # A's never landed
    # A replays on the new version and succeeds
    a.commit_merge(spark.createDataFrame(
        [(3, "epsilon")], "doc_id bigint, text string"))
    assert a.load().search_bool("epsilon").count() == 1


def test_lsm_commit_crash_before_manifest_is_replayable(spark, tmp_path):
    """A crash AFTER delta data lands but BEFORE the manifest/LATEST
    commit must leave the store at the previous version; replaying the
    same batch (what the streaming checkpoint does) converges to the
    correct state with no duplicates."""
    import os

    from textindexing_spark.sources.bucketed import BucketedIndexStore

    store = BucketedIndexStore(spark, str(tmp_path / "crash"),
                               n_term_buckets=8, n_doc_buckets=4)
    base = [(i, f"w{i} w{i + 1}") for i in range(20)]
    store.commit_merge(spark.createDataFrame(
        base, "doc_id bigint, text string"), mode="rewrite")
    v1 = store.latest_version()

    batch = spark.createDataFrame([(100, "crashy words"), (3, "")],
                                  "doc_id bigint, text string")
    v2 = store.commit_merge(batch)
    # simulate the crash: v2's manifest and pointer never landed
    os.unlink(f"{store.root}/v{v2}.json")
    with open(f"{store.root}/LATEST.tmp", "w") as fh:
        fh.write(str(v1))
    os.replace(f"{store.root}/LATEST.tmp", f"{store.root}/LATEST")
    assert store.latest_version() == v1
    assert store.load().search_bool("crashy").count() == 0  # rolled back

    # checkpoint replay: same batch again -> same version, correct state
    v2b = store.commit_merge(batch)
    assert v2b == v2
    idx = store.load()
    assert idx.search_bool("crashy").count() == 1
    assert idx.search_bool("w3").count() == 1   # only doc 2's w3 remains
    assert idx.documents.count() == 20          # 20 - 1 deleted + 1 new


def test_first_commit_participates_in_cas(spark, tmp_path):
    """Two writers racing the FIRST commit on an empty store: the one
    whose read ('store is empty') went stale must fail loudly, not
    silently clobber v1 (expect_prev=None means 'I read an empty
    store', and it participates in the compare-and-set)."""
    from textindexing_spark.sources.bucketed import (BucketedIndexStore,
                                                     ConcurrentWriterError)

    root = str(tmp_path / "race1")
    a = BucketedIndexStore(spark, root, n_term_buckets=4, n_doc_buckets=2)
    b = BucketedIndexStore(spark, root, n_term_buckets=4, n_doc_buckets=2)
    docs = spark.createDataFrame([(1, "alpha beta")],
                                 "doc_id bigint, text string")
    b.commit_merge(docs)  # writer B wins the first commit
    # writer A still believes the store is empty; its manifest write
    # must be rejected by the CAS
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriterError, match="empty store"):
        a.log.publish(1, expect_prev=None, manifest=b.manifest())


def test_single_pass_combined_ops_match_standalone(spark):
    """simhash_both / fingerprints (one tokenize+agg pass, used by the
    merged driver keys) must be value-identical to joining the
    standalone operators."""
    from textindexing_spark.functions.analysis import (doc_fingerprint,
                                                       fingerprints,
                                                       rolling_fingerprint)
    from textindexing_spark.operators.dedup import (simhash, simhash64,
                                                    simhash_both)

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "pack my box with jugs"),
         (3, "the the the"), (4, ""), (5, "Schrœdinger 4.1 under_score")],
        "doc_id bigint, text string")

    both = {r.doc_id: (r.simhash16, r.simhash64)
            for r in simhash_both(docs).collect()}
    s16 = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
    s64 = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert both == {d: (s16[d], s64[d]) for d in s16}

    fp = {r.doc_id: (r.fingerprint, r.roll_hash)
          for r in fingerprints(docs).collect()}
    f1 = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs).collect()}
    f2 = {r.doc_id: r.roll_hash
          for r in rolling_fingerprint(docs).collect()}
    assert fp == {d: (f1[d], f2[d]) for d in f1}


def test_simhash64_banded_pairs_match_bruteforce(spark):
    """64-bit banded simhash_pairs must equal brute-force all-pairs
    hamming filtering: 4 bands x 16 bits, so any pair within hamming 3
    shares at least one exact band (pigeonhole) — zero recall loss.
    The corpus mixes exact dupes (hamming 0), near dupes (small token
    edits), and unrelated docs."""
    from textindexing_spark.operators.dedup import simhash64, simhash_pairs

    base = ("the quick brown fox jumps over the lazy dog while the "
            "merge scan runs fast and the hash table stays sorted")
    rows = []
    for i in range(12):
        rows.append((100 + i, base))                       # exact dupes
        rows.append((200 + i, base + f" extra{i % 3}"))    # near dupes
        rows.append((300 + i, " ".join(
            f"tok{i}_{j} word{j * i % 7}" for j in range(30))))  # unrelated
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    sig = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    ids = sorted(sig)
    want = {(a, b, bin((sig[a] ^ sig[b]) & (2**64 - 1)).count("1"))
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin((sig[a] ^ sig[b]) & (2**64 - 1)).count("1") <= 3}
    got = {(r.a, r.b, r.hamming)
           for r in simhash_pairs(docs, max_hamming=3, bits=64).collect()}
    assert got == want
    assert len(want) >= 66  # the 12 exact dupes alone give C(12,2) pairs


def test_keywords_tfidf_matches_pandas_oracle(spark):
    """Top-k TF-IDF keywords per doc vs a pure-Python computation
    (same tokenizer, same smoothing, same tie-break)."""
    import math

    from textindexing_spark.functions.analysis import keywords
    from textindexing_spark.functions.tokenize import tokenize_text

    corpus = [
        (0, "spark spark spark merge fast"),
        (1, "merge merge fast fast fast scan"),
        (2, "scan scan unique"),
        (3, ""),  # empty doc: contributes nothing
    ]
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    got = [(r["doc_id"], r["term"], r["tf"], r["tfidf"], r["rank"])
           for r in keywords(docs, k=2).collect()]

    toks = {d: tokenize_text(t) for d, t in corpus if tokenize_text(t)}
    n = len(toks)
    tf = {(d, w): ts.count(w) for d, ts in toks.items() for w in set(ts)}
    df = {}
    for d, ts in toks.items():
        for w in set(ts):
            df[w] = df.get(w, 0) + 1
    want = []
    for d in toks:
        scored = sorted(
            ((w, tf[(d, w)],
              round(tf[(d, w)] * (math.log((n + 1) / (df[w] + 1)) + 1), 6))
             for w in set(toks[d])),
            key=lambda x: (-x[2], x[0]))[:2]
        want.extend((d, w, t, s, i + 1)
                    for i, (w, t, s) in enumerate(scored))
    assert sorted(got) == sorted(want)


def test_keywords_pinned_n_docs_matches_derived(spark):
    """keywords(n_docs=...) (precomputed corpus size, zero extra work)
    must score identically to the derived-N path when the pin equals
    the true count."""
    from textindexing_spark.functions.analysis import keywords

    docs = spark.createDataFrame(
        [(0, "spark merge fast"), (1, "merge fast fast scan"),
         (2, "scan unique")], "doc_id bigint, text string")
    derived = sorted(map(tuple, keywords(docs, k=2).collect()))
    pinned = sorted(map(tuple, keywords(docs, k=2, n_docs=3).collect()))
    assert derived == pinned


def test_ws_token_counts_are_maximal_nonspace_runs(spark):
    """n_ws_tokens counts maximal non-whitespace runs: Spark's split
    keeps leading/trailing empty fields and trim() strips only ASCII
    spaces, so newline-padded and whitespace-only docs were
    systematically overcounted."""
    from textindexing_spark.functions.analysis import token_counts

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a\nb\n"), (3, "\n\n"), (4, ""), (5, "  "),
         (6, "\na b "), (7, "one")],
        "doc_id bigint, text string")
    got = {r["doc_id"]: r["n_ws_tokens"]
           for r in token_counts(docs).collect()}
    assert got == {1: 2, 2: 2, 3: 0, 4: 0, 5: 0, 6: 2, 7: 1}


def test_mixture_plan_token_count_ignores_whitespace_padding(spark):
    """mixture_plan's n_tokens drives the sampling rate — phantom
    empty-string tokens from newline-terminated docs would halve the
    computed rate and under-fill the source's token-budget share."""
    from textindexing_spark.functions.sampling import mixture_plan

    docs = spark.createDataFrame(
        [(1, "web", "a b c\n"), (2, "web", "\nd e\n\n"),
         (3, "books", "x y z w")],
        "doc_id bigint, source string, text string")
    plan = {r["source"]: r for r in
            mixture_plan(docs, {"web": 0.5, "books": 0.5},
                         token_budget=100).collect()}
    assert plan["web"]["n_tokens"] == 5
    assert plan["books"]["n_tokens"] == 4


def test_extract_roundtrip_preserves_edge_whitespace(spark):
    """wrap_html adds exactly one '\\n' on each side of the payload;
    extract_text must strip exactly one — golden text that starts or
    ends with whitespace round-trips byte-identically (the module's
    stated contract)."""
    from textindexing_spark.functions.extract import extract_text
    from textindexing_spark.sources.pages import wrap_html

    for golden in ("plain", "ends with space ", "\nstarts with newline",
                   "  padded  ", "tab\tend\t", ""):
        assert extract_text(wrap_html(golden)) == golden, repr(golden)


def test_vacuum_grace_spares_inflight_attempt_dirs(spark, tmp_path):
    """vacuum's grace window: a fresh unreferenced data dir may belong
    to an in-flight writer whose manifest has not landed — it must
    survive the default vacuum and be collected only when aged (or
    with grace_s=0)."""
    import os

    from textindexing_spark.sources.bucketed import BucketedIndexStore

    store = BucketedIndexStore(spark, str(tmp_path / "gstore"),
                               n_term_buckets=4, n_doc_buckets=4)
    for j in range(3):
        store.commit_merge(spark.createDataFrame(
            [(j, f"doc {j} words")], "doc_id bigint, text string"))
    orphan = f"{store.root}/v99_data_inflight"
    os.makedirs(orphan)
    deleted = store.vacuum(keep_last=1)          # default grace: spared
    assert orphan not in deleted and os.path.isdir(orphan)
    deleted = store.vacuum(keep_last=1, grace_s=0)
    assert orphan in deleted and not os.path.isdir(orphan)


def test_catalog_commit_claims_distinct_version_dirs(spark, tmp_path):
    """Racing writers must never share a version directory: the slot is
    mkdir-claimed, so a pre-existing v{N} (another writer's claim)
    pushes this commit to the next number instead of interleaving part
    files into the same directory."""
    import os

    from textindexing_spark.operators.bm25 import build_segments_from_docs
    from textindexing_spark.sources.catalog import VersionedSegmentStore

    store = VersionedSegmentStore(spark, str(tmp_path / "cas"))
    docs = spark.createDataFrame([(1, "alpha beta")],
                                 "doc_id bigint, text string")
    idx = build_segments_from_docs(spark, docs, n_shards=2)
    assert store.commit(idx) == 1
    os.mkdir(f"{store.root}/v2")          # simulate a racing claim
    assert store.commit(idx) == 3         # skips the claimed slot
    assert store.latest_version() == 3
    assert store.load().search_bm25("alpha").count() == 1


def test_quarantine_records_every_failed_row(spark, tmp_path):
    """P7: N distinct unreadable rows (url NULL) must ALL reach the
    quarantine — quarantining after dedup would collapse them into one
    window partition and silently discard all but one."""
    import datetime as dt

    from textindexing_spark.streaming.ingest import StreamingIngestor

    t0 = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [(None, t0, None, f"broken {i}", "en") for i in range(5)]
        + [("ok_url", t0, None, "fine words", "en")], PAGES_SCHEMA)
    ing = StreamingIngestor(spark, str(tmp_path / "qidx"))
    ing.process_batch(batch)
    assert ing.metrics.docs_failed == 5
    q = spark.read.parquet(str(tmp_path / "qidx" / "_quarantine"))
    assert q.count() == 5
    assert {r["term"] for r in ing.index().postings.collect()} \
        == {"fine", "words"}


def test_dedup_last_wins_deterministic_on_ts_ties(spark):
    """Same-second recrawls: the surviving row must be deterministic
    (content-hash tie-break) — warc_ts alone lets each action over the
    batch pick a DIFFERENT winner."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("u1", t0, None, "version a", "en"),
            ("u1", t0, None, "version b", "en")]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    winners = {dedup_last_wins(df).collect()[0]["text"]
               for _ in range(5)}
    assert len(winners) == 1
    # and repartitioning the input does not change the winner
    alt = dedup_last_wins(df.repartition(7)).collect()[0]["text"]
    assert {alt} == winners


def test_verify_stage_detects_content_corruption(spark, tmp_path):
    """verify_stage must compare the order-free content checksum, not
    just the row count: a checkpoint partially replaced by stale files
    with the SAME number of rows is corrupt and must fail
    verification."""
    import glob as _glob
    import shutil

    good = spark.createDataFrame([(i, f"v{i}") for i in range(50)],
                                 "id bigint, v string")
    stale = spark.createDataFrame([(i, f"OLD{i}") for i in range(50)],
                                  "id bigint, v string")
    p_good = str(tmp_path / "stage_ok")
    p_stale = str(tmp_path / "stale")
    write_stage(good.coalesce(1), p_good, "s", "fp")
    stale.coalesce(1).write.parquet(p_stale)
    assert verify_stage(spark, p_good)
    # swap the data file for a stale one with equal row count
    gfile = _glob.glob(f"{p_good}/part-*.parquet")[0]
    sfile = _glob.glob(f"{p_stale}/part-*.parquet")[0]
    shutil.copyfile(sfile, gfile)
    # carry the stale file's Hadoop .crc sidecar too: the swap must
    # look clean to the filesystem so the LINEAGE checksum (not the
    # transport checksum) is what catches it
    gdir, gname = os.path.split(gfile)
    sdir, sname = os.path.split(sfile)
    shutil.copyfile(f"{sdir}/.{sname}.crc", f"{gdir}/.{gname}.crc")
    spark.catalog.refreshByPath(p_good)  # drop cached file listing
    assert not verify_stage(spark, p_good)


def test_build_cli_resume_after_crashed_default_run(spark, tmp_path,
                                                    monkeypatch, capsys):
    """A default (no --resume) run stamps a nonce'd fingerprint; a
    --resume of that crashed run must reuse the PERSISTED fingerprint
    so committed stages actually skip (recomputing the bare fingerprint
    would match nothing and rebuild everything)."""
    import scripts.build_index_submit as cli

    pages = generate_pages(spark, n_docs=20, seed=3,
                           recrawl_fraction=0.0)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    out = str(tmp_path / "bix")
    monkeypatch.setattr(
        "pyspark.sql.SparkSession.Builder.getOrCreate",
        lambda self: spark)
    # the CLI stops its session on exit; keep the shared fixture alive.
    # TYPE-level like the query-CLI tests: an instance-level patch
    # leaves a shadowing instance attribute on undo that defeats later
    # tests' class-level no-op patches (their cli.main would then
    # really stop the shared session)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    cli.main(["--input", src, "--output", out, "--shards", "4",
              "--skip-segments"])
    capsys.readouterr()
    # rerun with --resume: every committed stage skips
    cli.main(["--input", src, "--output", out, "--shards", "4",
              "--skip-segments", "--resume"])
    line = capsys.readouterr().out.strip().splitlines()[-1]
    import json as _json

    summary = _json.loads(line)
    assert summary["stages_executed"] == []
    assert len(summary["stages_skipped"]) >= 3
    # an analyzer run, then a plain --resume: the analyzer run's saved
    # fingerprint EXTENDS the plain one, but its stemmed stages must
    # not be reused by a run without the analyzer
    cli.main(["--input", src, "--output", out, "--shards", "4",
              "--skip-segments", "--stem", "light"])
    capsys.readouterr()
    cli.main(["--input", src, "--output", out, "--shards", "4",
              "--skip-segments", "--resume"])
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert "docs" in _json.loads(line)["stages_executed"]
