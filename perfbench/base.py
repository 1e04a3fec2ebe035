"""The ``platform_wave`` base: a corpus bootstrapped straight into the
text and dedup stores, the same corpus as a documents table for the
readers, and a pool of documents that waves draw from (``pool.json``).

It is built once per version of the sources in a checkout, in a Spark
session of its own, so the run that finds it missing measures a JVM as
cold as every other run's. ``run.py`` starts the build when the base is
missing; by hand, from the root of a checkout, with ``run.py``'s
environment:

    python3 perfbench/base.py
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

BASE_DOCS = 400
BASE_FIRST_ID = 1_000_000
POOL_DOCS = 300  # three waves of 100 documents
# documents on both sides of the corpus-prep pipeline's length gate
# (max_chars=2000): 200 words is ~1.3 KB, 350 words ~2.3 KB
DOC_WORDS = (200, 350)


def sources_key() -> str:
    """A hash of the program's and the benchmark's sources, so that what
    the work directory keeps is only used by runs of the same code."""
    paths = [os.path.join(ROOT, "bench.py")]
    for top in ("http_feeds_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if not x.startswith(".")]
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def path() -> str:
    return os.path.join(WORK, f"base-{sources_key()}")


def corpus(spark, n: int, start: int):
    """``n`` ``bench.synth_text_docs`` documents from id ``start``: the
    first half short, the second half long (``DOC_WORDS``)."""
    from bench import synth_text_docs

    half = n // 2
    return synth_text_docs(spark, half, DOC_WORDS[0], start=start).unionByName(
        synth_text_docs(spark, n - half, DOC_WORDS[1], start=start + half))


def documents(df):
    from pyspark.sql import functions as F

    return df.select(
        "doc_id", "text",
        F.element_at(F.array(*map(F.lit, ("en", "de", "es"))),
                     (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int")).alias("lang"),
        F.lit("feed").alias("source"),
        F.length("text").cast("long").alias("n_chars"))


def build(spark, dest: str) -> None:
    from http_feeds_spark.operators import text_index as ti
    from http_feeds_spark.streaming import dedup as sd

    for old in os.listdir(WORK):  # bases of other sources, and torn builds
        if old.startswith("base-"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    tmp = f"{dest}.tmp-{os.getpid()}"
    base = corpus(spark, BASE_DOCS, BASE_FIRST_ID).cache()
    ti.ensure_text_index(spark, base, f"{tmp}/platform/text_index")
    sd.fold_batch(spark, base, f"{tmp}/platform/dedup_index")
    documents(base).write.parquet(f"{tmp}/sf/documents.parquet")
    base.unpersist()
    pool = corpus(spark, POOL_DOCS, BASE_FIRST_ID + BASE_DOCS)
    with open(f"{tmp}/pool.json", "w") as f:
        json.dump([[r.doc_id, r.text] for r in pool.collect()], f)
    os.rename(tmp, dest)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    sys.path[:0] = [ROOT]
    from http_feeds_spark.session import get_spark

    spark = get_spark(app_name="perfbench-base")
    try:
        build(spark, path())
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    main()
