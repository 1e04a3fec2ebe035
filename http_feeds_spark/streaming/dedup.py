"""Streaming near-duplicate dedup — a PERSISTENT LSH index folded forward
one document batch at a time.

The batch pipelines (queries/llm.py) answer "dedup this corpus"; a
training-data ingest needs "dedup this corpus *as it grows*" without
re-shingling 100 TB per append. This module keeps the three artifacts the
incremental computation needs as parquet stores under one index root:

    bands/       (doc_id, band_id, band_hash)   append-only
    shingles/    (doc_id, shingles)             append-only
    assignment/<epoch>/  (node, component)      new epoch per fold

Per batch: shingle + sign ONLY the new documents; candidate pairs come
from the new docs' band rows equi-joined against (stored ∪ new) band rows
— new↔old and new↔new pairs surface, old↔old pairs were already found
when their later member arrived, so the cumulative candidate set equals
the full-corpus LSH candidate set (signatures are per-doc deterministic,
independent of batching). Candidates verify with exact Jaccard against
the stored shingle sets, and the verified pairs fold into the persisted
assignment via ``incremental_components`` — the prior clusters re-enter
as star edges, so the closure converges from a depth-≤1 forest instead of
recomputing the corpus. Result ≡ the batch pipeline over the full corpus
(pinned in tests/test_streaming_dedup.py).

100 TB posture: per-fold work is O(batch + touched index rows) — the band
join probes the stored index by (band_id, band_hash) equi-keys, the
verify join fetches only candidate shingle sets, and every closure
exchange is ids-only. At-least-once ingest is safe end to end: already-
indexed doc ids are dropped from each batch up front (one ids-only
anti-join against the shingle store), so re-delivered batches are
no-ops — the streaming twin of the spec's idempotent-consumer rule.

Uses the same shingle/signature constants as q_llm_dedup_near (3-word
tuple-hashed shingles, MinHash k=32, 16 bands × 2 rows, verify ≥ 0.5) so
the streaming and batch answers are directly comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark.functions import minhash as mh
from http_feeds_spark.functions import text as tx
from http_feeds_spark.operators import erasure
from http_feeds_spark.operators.components import (
    connected_components,
    incremental_components,
)
from http_feeds_spark.stores import committed, parquet_exists

BANDS_DIR = "bands"
SHINGLES_DIR = "shingles"
ASSIGNMENT_DIR = "assignment"
ANALYZER_DIR = "analyzer"
# bands/shingles are bucketed by doc-id hash so a physical erasure purge
# rewrites only the buckets holding erased docs (erasure.py tier 2),
# never the whole append-only store; at most session.MAX_DIR_FANOUT, so
# every store read lists its bucket dirs on the driver
N_BUCKETS = 64

# constants matching q_llm_dedup_near (queries/llm.py)
SHINGLE_N = 3
MINHASH_K = 32
LSH_BANDS = 16
LSH_ROWS = 2
JACCARD_THRESHOLD = 0.5


def _paths(index_root: str) -> tuple[str, str, str]:
    root = index_root.rstrip("/")
    return (f"{root}/{BANDS_DIR}", f"{root}/{SHINGLES_DIR}", f"{root}/{ASSIGNMENT_DIR}")


# --- versioned assignment store ---------------------------------------------
#
# The assignment is the ONLY store that is rewritten (bands/shingles are
# append-only), and Spark's parquet overwrite is not atomic: a crash
# mid-overwrite would destroy the single copy of the full-corpus
# clustering. So each fold writes a NEW epoch directory
# (assignment/<epoch>/) and readers take the highest epoch carrying the
# committer's _SUCCESS marker — a torn write has no marker and is
# invisible; the prior epoch keeps serving. Older epochs are deleted only
# AFTER the new one is fully committed (a crash during cleanup leaves
# extra complete epochs, and max-complete still wins). The next fold
# always targets latest_complete+1, so a torn attempt is overwritten in
# place on retry. Epoch listing/cleanup goes through the Hadoop
# FileSystem API — works on any Spark-supported store, like the parquet
# probes in stores.py.


def _hadoop_path(spark: SparkSession, path: str):
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm_path


def _complete_epochs(spark: SparkSession, asg_root: str) -> list[tuple[int, str]]:
    """(epoch, path) of every _SUCCESS-committed epoch dir, ascending."""
    fs, root = _hadoop_path(spark, asg_root)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.isdigit():
            marker = spark._jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            if fs.exists(marker):
                out.append((int(name), st.getPath().toString()))
    return sorted(out)


def _read_assignment_or_none(spark: SparkSession, asg_root: str) -> DataFrame | None:
    epochs = _complete_epochs(spark, asg_root)
    return spark.read.parquet(epochs[-1][1]) if epochs else None


# how many committed assignment epochs survive each fold's cleanup:
# the current one plus (ASSIGNMENT_KEEP_EPOCHS - 1) predecessors, so a
# reader pinned to the previous epoch (http_feeds_spark/epochs.py)
# survives one concurrent wave — the platform's cross-store consistency
# window. Raising it trades disk for a longer pin horizon.
ASSIGNMENT_KEEP_EPOCHS = 2


def _write_assignment(spark: SparkSession, asg_root: str, asg: DataFrame) -> None:
    epochs = _complete_epochs(spark, asg_root)
    new = (epochs[-1][0] + 1) if epochs else 0
    # overwrite reclaims a torn earlier attempt at this same epoch number
    asg.write.mode("overwrite").parquet(f"{asg_root}/{new:06d}")
    fs, root = _hadoop_path(spark, asg_root)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if (
            st.isDirectory()
            and name.isdigit()
            and int(name) <= new - ASSIGNMENT_KEEP_EPOCHS
        ):
            fs.delete(st.getPath(), True)


def read_assignment_epoch(spark: SparkSession, index_root: str, epoch: int) -> DataFrame:
    """The (node, component) assignment AS OF a specific epoch — the
    pinned read the platform-epoch reader uses. Epochs older than the
    retention window (ASSIGNMENT_KEEP_EPOCHS) are deleted by later
    folds; reading one raises with the remedy rather than silently
    serving a newer clustering."""
    _, _, asg_path = _paths(index_root)
    have = dict(_complete_epochs(spark, asg_path))
    if epoch not in have:
        raise ValueError(
            f"assignment epoch {epoch} at {index_root} is outside the "
            f"retention window (have {sorted(have)}); pin a newer epoch"
        )
    return spark.read.parquet(have[epoch])


# store probing shared with operators/ann_index.py — see stores.py for
# why a definitive-absent-only False matters here (a fold that mistakes
# a transient read error for "no index yet" would skip the idempotence
# anti-join and destroy prior state)
_exists = parquet_exists


def _shingle_batch(docs: DataFrame, analyzer: str = "standard") -> DataFrame:
    """(doc_id, shingles) for the batch — same front end as the batch
    near-dup pipeline; checkpointed because it feeds the signature
    aggregate, the verify join, and the store append."""
    return (
        docs.withColumn("tokens", tx.analyze("text", analyzer))
        .filter(F.size("tokens") >= SHINGLE_N)
        .withColumn(
            "shingles",
            F.array_distinct(tx.hashed_word_shingles(F.col("tokens"), SHINGLE_N)),
        )
        .select("doc_id", "shingles")
        .localCheckpoint()
    )


def store_analyzer(spark: SparkSession, index_root: str) -> str | None:
    """The analyzer this dedup index shingles under, or None when the
    store does not exist yet. Shingle hashes are analyzer-dependent, so
    every fold MUST tokenize like the first one or cross-batch Jaccard
    silently degrades — the text-index meta rule, applied here. A store
    predating the analyzer meta reads as "whitespace_lower" (exactly the
    pre-analyzer shingle tokenization: lower + single-space split)."""
    root = index_root.rstrip("/")
    meta = f"{root}/{ANALYZER_DIR}"
    if parquet_exists(spark, meta):
        row = spark.read.parquet(meta).collect()[0]
        return str(row.analyzer)
    if _exists(spark, f"{root}/{SHINGLES_DIR}"):
        return "whitespace_lower"  # legacy store, pre-analyzer tokenization
    return None


def _write_store_analyzer(spark: SparkSession, index_root: str, analyzer: str) -> None:
    spark.createDataFrame([(analyzer,)], "analyzer string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{index_root.rstrip('/')}/{ANALYZER_DIR}")


def fold_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_root: str,
    analyzer: str | None = None,
) -> DataFrame:
    """Fold one batch of (doc_id, text) rows into the index; returns the
    updated (node, component) assignment (also persisted). Idempotent
    per doc id: re-delivered documents are dropped before indexing, so
    at-least-once upstreams need no external dedup.

    Every fold shingles under the store's OWN analyzer (recorded at
    store creation, see :func:`store_analyzer`): an explicit mismatched
    ``analyzer`` raises instead of silently hashing incomparable
    shingles; ``None`` inherits (new stores default to "standard")."""
    bands_path, shingles_path, asg_path = _paths(index_root)

    stored = store_analyzer(spark, index_root)
    if stored is None:
        # fresh store: this fold decides the analyzer, recorded FIRST so
        # a torn fold still pins it for the retry
        stored = analyzer or "standard"
        tx._require_analyzer(stored)
        _write_store_analyzer(spark, index_root, stored)
    elif analyzer is not None and analyzer != stored:
        raise ValueError(
            f"dedup index at {index_root} shingles under analyzer "
            f"{stored!r} but {analyzer!r} was requested; rebuild the "
            "store to change analyzers"
        )

    if _exists(spark, shingles_path):
        store = spark.read.parquet(shingles_path)
        if "bucket" not in store.columns:
            # a pre-bucketing store: appending bucket=N subdirs next to
            # its bare files would leave a layout partition discovery
            # rejects — refuse loudly instead of corrupting it
            raise ValueError(
                f"dedup index at {index_root} uses the pre-bucketed layout; "
                "run migrate_legacy_store(spark, index_root) once to rewrite "
                "it in place (the bucketed layout is what makes erasure "
                "purges partition-local)"
            )
        seen = store.select("doc_id")
        batch_docs = batch_docs.join(seen, "doc_id", "left_anti")
    sh_new = _shingle_batch(batch_docs, stored)
    sig = mh.minhash_signature_cols(sh_new, "shingles", "doc_id", k=MINHASH_K)
    new_bands = mh.band_rows(sig, "doc_id", bands=LSH_BANDS, rows=LSH_ROWS).localCheckpoint()

    if _exists(spark, bands_path):
        all_bands = (
            spark.read.parquet(bands_path).drop("bucket").unionByName(new_bands)
        )
        all_shingles = (
            spark.read.parquet(shingles_path).drop("bucket").unionByName(sh_new)
        )
    else:
        all_bands, all_shingles = new_bands, sh_new

    # candidates: NEW docs against everything (old↔old pairs surfaced in
    # earlier folds). Probe side is the batch — small; index side is an
    # equi-join on (band_id, band_hash).
    left = new_bands.withColumnRenamed("doc_id", "a")
    right = all_bands.withColumnRenamed("doc_id", "b")
    cands = (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    a = all_shingles.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sh_a"))
    b = all_shingles.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sh_b"))
    pairs = (
        cands.join(a, "a")
        .join(b, "b")
        .withColumn("jaccard", mh.jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a", "b")
    )

    # closure: prior assignment re-enters as star edges. connected_/
    # incremental_components checkpoint their edge input up front, so the
    # new assignment epoch can be committed safely afterwards.
    prior = _read_assignment_or_none(spark, asg_path)
    if prior is not None:
        asg = incremental_components(prior, pairs)
    else:
        asg = connected_components(pairs, src="a", dst="b")

    # bucket partitioning (doc-id hash) gives the erasure purge its
    # partition locality; the column is dropped on read (joins key on
    # doc_id / band keys, never the bucket)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int")
    # Write order is the crash story. The SHINGLE store is both the
    # idempotence key (the anti-join above) and the LAST write — the
    # fold's commit point. A crash anywhere earlier leaves the shingle
    # store without this batch, so the at-least-once redelivery is NOT
    # filtered and re-folds everything: the assignment re-fold is
    # idempotent (incremental closure of already-folded pairs is a
    # fixpoint), and a duplicate band append from a torn middle state
    # only adds rows the candidate `distinct` collapses. Writing the
    # assignment (or bands) last instead would let a torn state be
    # filtered as already-done, permanently losing the batch's pairs.
    # The assignment write itself is epoch-versioned (_write_assignment):
    # a crash MID-write leaves the prior epoch serving, so no ordering
    # can lose the full-corpus clustering.
    _write_assignment(spark, asg_path, asg)
    new_bands.withColumn("bucket", bucket).write.mode("append").partitionBy(
        "bucket"
    ).parquet(bands_path)
    sh_new.withColumn("bucket", bucket).write.mode("append").partitionBy(
        "bucket"
    ).parquet(shingles_path)
    return asg


def migrate_legacy_store(spark: SparkSession, index_root: str) -> dict:
    """One-call in-place migration of a pre-r7 (unbucketed) dedup index
    to the bucketed layout — the upgrade path for deployments whose
    ``fold_batch`` catch-ups refuse the old layout (the refuse-don't-
    corrupt rule needs a door, not just a wall). Only the band/shingle
    stores change (they gain the doc-id-hash ``bucket=N`` partitioning
    that makes erasure purges partition-local); the epoch-versioned
    assignment store is layout-stable and untouched. Rows are preserved
    exactly — no re-shingling, no re-hashing of signatures.

    Protocol per store (the erasure stage→swap, minus the filtering):

    1. resume: a committed ``__migrate_stage`` whose live dir is MISSING
       holds the only copy — rename it in; one whose live dir EXISTS is
       merged and the duplicates collapsed (stores.resume_stage_swap —
       a fold may have recreated the live dir after a torn swap);
       an uncommitted stage is dropped (live is authoritative).
    2. if the live store lacks the bucket column: rewrite it bucketed
       into the stage (the write's _SUCCESS is the stage commit), then
       delete live, rename stage in.

    Crash anywhere re-runs to convergence: before the delete the old
    layout is still authoritative (step 2 re-stages deterministically);
    after it, step 1 restores. Returns {"<store>": rows} for the stores
    migrated (empty dict when the index is already bucketed)."""
    from http_feeds_spark.stores import resume_stage_swap, rewrite_partitioned_store

    bands_path, shingles_path, _ = _paths(index_root)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int")
    out: dict[str, int] = {}
    for store in (bands_path, shingles_path):
        stage = store.rstrip("/") + "__migrate_stage"
        fs, jstage = _hadoop_path(spark, stage)
        _, jlive = _hadoop_path(spark, store)
        # merge-on-resume, not restore-only-if-missing: a fold between a
        # torn swap and this resume recreates the live dir (it cannot
        # see the store), and discarding the stage would lose every
        # pre-crash row; merged duplicates are byte-identical (rows are
        # deterministic per doc) and collapse in the rewrite below
        if resume_stage_swap(spark, store, "__migrate_stage"):
            rewrite_partitioned_store(
                spark, store, "bucket", collapse_duplicates=True
            )
        if not _exists(spark, store):
            continue
        live = spark.read.parquet(store)
        if "bucket" in live.columns:
            continue
        n = live.count()
        live.withColumn("bucket", bucket).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(stage)
        fs.delete(jlive, True)
        fs.rename(jstage, jlive)
        out[store.rsplit("/", 1)[-1]] = n
    # a pre-analyzer store shingled under lower + single-space split:
    # record that explicitly so future folds inherit the right one even
    # after the implicit legacy inference stops applying
    if out and store_analyzer(spark, index_root) == "whitespace_lower":
        _write_store_analyzer(spark, index_root, "whitespace_lower")
    return out


def compact_store(spark: SparkSession, index_root: str) -> dict:
    """Small-file compaction for the append-partitioned band/shingle
    stores: every fold appends one file-set into each touched bucket
    dir, so files grow with fold count until this rewrites each store
    to ~one file per bucket (stores.rewrite_partitioned_store — rows
    exact, crash-resumable stage→swap). The assignment store never
    needs it (epoch overwrite, old epochs deleted). Returns
    {"<store>": (files_before, files_after)}."""
    from http_feeds_spark.stores import rewrite_partitioned_store

    bands_path, shingles_path, _ = _paths(index_root)
    out: dict = {}
    for store in (bands_path, shingles_path):
        if _exists(spark, store) and "bucket" in spark.read.parquet(store).columns:
            out[store.rsplit("/", 1)[-1]] = rewrite_partitioned_store(
                spark, store, "bucket"
            )
    return out


def _relabel_min_surviving(asg: DataFrame) -> DataFrame:
    """Re-point every component label at its MINIMUM surviving member —
    the connected_components label convention, so unaffected components
    keep their labels bit-for-bit and components whose representative
    was dropped get the next-smallest member. One aggregate + one join,
    both on ids-only frames."""
    relabel = asg.groupBy("component").agg(F.min("node").alias("__new"))
    return asg.join(relabel, "component").select(
        "node", F.col("__new").alias("component")
    )


def read_assignment(spark: SparkSession, index_root: str) -> DataFrame:
    """The current (node, component) duplicate-cluster assignment — the
    latest _SUCCESS-committed epoch (torn writes are invisible).

    Logical-erasure window (operators/erasure.py): while the erase
    ledger is non-empty, erased NODES are filtered out and components
    are relabeled to their minimum surviving member, so an erased id
    never surfaces as a row OR as a cluster label. No-op plan while the
    ledger is absent; purge_erased makes the rewrite physical."""
    _, _, asg_path = _paths(index_root)
    asg = _read_assignment_or_none(spark, asg_path)
    if asg is None:
        raise FileNotFoundError(f"no assignment at {asg_path}; fold a batch first")
    erased = erasure.erased_ids(spark, index_root)
    if erased is not None:
        asg = asg.join(erased.withColumnRenamed("id", "node"), "node", "left_anti")
        asg = _relabel_min_surviving(asg)
    return asg


def purge_erased(spark: SparkSession, index_root: str) -> int:
    """Physically remove the ledger's erased docs from all three stores
    (operators/erasure.py tier 2): bands and shingles rewrite only the
    doc-id-hash buckets holding erased rows (erasure.
    purge_partitioned_store's stage→swap protocol), the assignment is
    rewritten — filtered and relabeled to minimum surviving members —
    as a NEW epoch (the store's own atomic-commit mechanism), and then
    exactly the processed ledger batches are cleared. Readers keep
    filtering until that last step, so the invariant holds through
    every crash window. Returns rows removed from the band + shingle
    stores."""
    nos, erased = erasure.ledger_snapshot(spark, index_root)
    if erased is None:
        return 0
    bands_path, shingles_path, asg_path = _paths(index_root)
    removed = 0
    for store in (bands_path, shingles_path):
        if _exists(spark, store):
            removed += erasure.purge_partitioned_store(
                spark, store, erased, "doc_id", "bucket"
            )
    prior = _read_assignment_or_none(spark, asg_path)
    if prior is not None:
        filtered = prior.join(
            erased.withColumnRenamed("id", "node"), "node", "left_anti"
        )
        _write_assignment(spark, asg_path, _relabel_min_surviving(filtered))
    erasure.clear_ledger_batches(spark, index_root, nos)
    return removed


def rebuild_assignment(spark: SparkSession, index_root: str) -> DataFrame:
    """Recompute the duplicate-cluster closure from scratch over the
    STORED band/shingle indexes and commit it as a new epoch.

    Why it exists: the incremental fold only ever ADDS edges, and an
    erasure purge removes a document's rows without re-deriving the
    clusters its edges had already merged — A~E~B stays one cluster
    after E is erased (purge_erased's documented semantics: remove the
    subject's data, not rewrite history). When cluster hygiene matters
    more than that cheap default, this is the reset: one full-index
    band self-join + exact-Jaccard verify + closure — the batch
    pipeline's cost shape over the index (equi-joins only, ids-only
    closure), no document re-shingling (the shingle store already holds
    the sets). Returns the new assignment."""
    bands_path, shingles_path, asg_path = _paths(index_root)
    all_bands = spark.read.parquet(bands_path).drop("bucket")
    all_shingles = spark.read.parquet(shingles_path).drop("bucket")
    left = all_bands.withColumnRenamed("doc_id", "a")
    right = all_bands.withColumnRenamed("doc_id", "b")
    cands = (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    a = all_shingles.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sh_a"))
    b = all_shingles.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sh_b"))
    pairs = (
        cands.join(a, "a")
        .join(b, "b")
        .withColumn("jaccard", mh.jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a", "b")
    )
    asg = connected_components(pairs, src="a", dst="b")
    _write_assignment(spark, asg_path, asg)
    return asg


def survivors_filter(spark: SparkSession, docs: DataFrame, index_root: str,
                     id_col: str = "doc_id") -> DataFrame:
    """Filter `docs` to cluster survivors + never-clustered docs using the
    persisted assignment (ids-only anti-join, same contract as
    operators/components.dedup_corpus)."""
    losers = (
        read_assignment(spark, index_root)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")
