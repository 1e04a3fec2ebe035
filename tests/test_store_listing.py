"""Store listings run on the driver: reads of the hash-bucketed stores
(text index, dedup index, media store) schedule no "Listing leaf files"
Spark job, because the session's parallel-listing threshold covers the
widest directory fan-out the engine writes (session.MAX_DIR_FANOUT)."""

from __future__ import annotations

import inspect
import os
import uuid

from http_feeds_spark import ingest
from http_feeds_spark.operators import text_index as ti
from http_feeds_spark.session import MAX_DIR_FANOUT
from http_feeds_spark.streaming import dedup as sd
from http_feeds_spark.streaming import media as smedia

LISTING_JOB = "Listing leaf files"


def _docs(spark, ids):
    # ~600 distinct terms: every posting batch spreads over all buckets
    return spark.createDataFrame(
        [(i, " ".join(f"t{(i * 7 + j * 13) % 600}" for j in range(30))) for i in ids],
        "doc_id long, text string",
    )


def _group_job_descriptions(spark, fn) -> list[str]:
    """Run ``fn`` under a fresh job group; return the status-store
    description of every job it scheduled."""
    sc = spark.sparkContext
    gid = f"listing-{uuid.uuid4()}"
    sc.setJobGroup(gid, "store listing probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if not j.jobGroup().isEmpty() and j.jobGroup().get() == gid:
            out.append(j.description().get() if not j.description().isEmpty() else "")
    return out


def _bucket_dirs(path: str) -> int:
    return sum(name.startswith("bucket=") for name in os.listdir(path))


def test_cold_text_search_lists_no_store_through_a_job(spark, tmp_path):
    root = str(tmp_path / "ti")
    ti.build_text_index(spark, _docs(spark, range(0, 100)), root)
    ti.upsert_documents(spark, _docs(spark, range(100, 200)), root)
    ti.upsert_documents(spark, _docs(spark, range(200, 300)), root)
    post = os.path.join(root, ti.POSTINGS_DIR)
    batches = sorted(os.listdir(post))
    assert len([b for b in batches if b.startswith("batch=")]) == 3
    # wider than Spark's default threshold (32): the case that used to
    # schedule one listing job per batch directory
    assert all(_bucket_dirs(os.path.join(post, b)) > 32 for b in batches)

    ti.invalidate_frontier(root)  # cold: the frontier is re-listed
    hits = []
    descs = _group_job_descriptions(
        spark, lambda: hits.extend(ti.search(spark, root, ["t1", "t2"], k=5).collect())
    )
    assert hits and descs
    assert not [d for d in descs if d.startswith(LISTING_JOB)], descs


def test_dedup_fold_over_existing_store_lists_no_store_through_a_job(spark, tmp_path):
    root = str(tmp_path / "dedup")
    sd.fold_batch(spark, _docs(spark, range(0, 150)), root)
    bands, shingles, _ = sd._paths(root)
    assert _bucket_dirs(bands) > 32 and _bucket_dirs(shingles) > 32

    descs = _group_job_descriptions(
        spark, lambda: sd.fold_batch(spark, _docs(spark, range(150, 300)), root)
    )
    assert descs
    assert not [d for d in descs if d.startswith(LISTING_JOB)], descs
    assert sd.read_assignment(spark, root).count() > 0


def test_store_fanout_within_driver_listing_threshold(spark):
    """A store whose directory fan-out outgrows the session constant
    silently brings back one listing job per read: fail here instead."""
    assert int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    ) == MAX_DIR_FANOUT
    for mod in (ti, sd, smedia):
        assert mod.N_BUCKETS <= MAX_DIR_FANOUT, mod.__name__
    # feed-bootstrapped ANN/PQ indexes: one cluster=N dir per centroid
    ann_k = inspect.signature(ingest.run_ann_index).parameters["k"].default
    pq_nlist = inspect.signature(ingest.run_pq_index).parameters["nlist"].default
    assert ann_k <= MAX_DIR_FANOUT and pq_nlist <= MAX_DIR_FANOUT

