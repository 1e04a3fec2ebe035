"""Persistent media store — the media tier folded INTO the platform.

r12 made every router-decodable format genuinely decodable and r13 made
the image fingerprint pixel-domain; this module makes that tier a
first-class PLATFORM citizen (the r12 verdict's missing #2): a live
feed of binary payloads folds per micro-batch into a persisted,
batch-idempotent media store beside text/dedup/ANN/monitor, with the
standard lifecycle — erasure anti-join + physical purge, its own fsck
family (operators/fsck.fsck_media_index), maintenance compaction, and
an epoch frontier (epochs.py) — instead of riding outside the platform
as batch-only functions.

Layout under one ``media_index`` root (the dedup-store conventions —
doc-id-hash bucket partitioning so an erasure purge rewrites only the
buckets holding erased docs, never the whole append-only store):

    meta/bucket=N/     (doc_id, modality, format, width, height,
                        duration_s, sample_rate, channels, bit_depth,
                        decodable) — ONE router row per ingested
                        payload (functions/multimodal.probe_media_meta;
                        unclaimed payloads keep their modality-NULL row:
                        "triaged, not media" is itself an answer)
    phash/bucket=N/    (doc_id, phash, decoded) — pixel dHash rows for
                        decodable image payloads (perceptual_hash)
    audiofp/bucket=N/  (doc_id, band, chunk, key) — spectral-peak
                        constellation rows for decodable audio payloads
                        (functions/audiofp.audio_fingerprint)
    videofp/bucket=N/  (doc_id, frame_idx, phash) — per-frame pixel
                        dHash rows for decodable video payloads
                        (functions/video.video_frame_phash — r13, the
                        MJPEG-in-AVI tier)
    erased/batch=K/    the standard erasure ledger (operators/erasure)

Fold protocol (the streaming/dedup.py crash story, adapted): already-
stored doc ids are dropped up front (ids-only anti-join against the
META store, r14: bucket-pruned — the probe reads only the ≤N_BUCKETS
meta partitions the batch's doc ids hash into, a constant fraction of
the store instead of its whole doc_id column), fingerprints are
written FIRST and meta LAST — meta is
both the idempotence key and the commit point. A crash in the middle
leaves fingerprint rows without meta rows; the at-least-once redelivery
is then NOT filtered and re-folds the batch, and the read paths collapse
the torn-append duplicates (fingerprint rows are deterministic per
payload, so duplicates are exact and ``distinct``/``dropDuplicates``
heal them losslessly). fsck surfaces the torn-middle state as
``fingerprint_orphans`` — a warning, not a violation, exactly like the
dedup family's band orphans.

100 TB posture: the fold is map-only per batch (router + fingerprint
passes are Arrow-batched mapInPandas; payloads never shuffle — only
ids, hashes and constellation keys leave the worker); near-dup pairing
from the STORE reuses the banded machinery (Hamming pigeonhole blocks
for phash, (band, chunk, key) equi-join for audio, (frame_idx, block)
pigeonhole for video) with no all-pairs stage and no payload re-reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark.functions import audiofp
from http_feeds_spark.functions import multimodal as mm
from http_feeds_spark.functions import video as fvideo
from http_feeds_spark.operators import erasure
from http_feeds_spark.stores import parquet_exists

META_DIR = "meta"
PHASH_DIR = "phash"
AUDIOFP_DIR = "audiofp"
VIDEOFP_DIR = "videofp"
# doc-id-hash buckets: the erasure purge's partition locality (the
# streaming/dedup.py convention and constant; at most
# session.MAX_DIR_FANOUT, so reads list on the driver)
N_BUCKETS = 64


def _paths(media_root: str) -> tuple[str, str, str, str]:
    root = media_root.rstrip("/")
    return (
        f"{root}/{META_DIR}",
        f"{root}/{PHASH_DIR}",
        f"{root}/{AUDIOFP_DIR}",
        f"{root}/{VIDEOFP_DIR}",
    )


def _seen_probe(spark: SparkSession, meta_path: str, batch: DataFrame) -> DataFrame:
    """Bucket-pruned idempotence probe (the text_index.purge_erased
    pattern): the batch's doc ids hash to ≤N_BUCKETS buckets —
    model-sized, so the collect is bounded — and the anti-join probe
    then reads ONLY those meta partitions instead of the full store's
    doc_id column (which grows with store size). Plan-guarded in
    tests/test_media_store.py."""
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int")
    probe_buckets = sorted(
        r.bucket for r in batch.select(bucket.alias("bucket")).distinct().collect()
    )
    return (
        spark.read.parquet(meta_path)
        .where(F.col("bucket").isin(probe_buckets))
        .select("doc_id")
    )


def fold_batch(spark: SparkSession, batch: DataFrame, media_root: str) -> None:
    """Fold one micro-batch of (doc_id, payload) rows into the store.

    Idempotent per doc id (the anti-join below), so at-least-once
    upstreams need no external dedup; write order is the crash story —
    see the module docstring."""
    meta_path, phash_path, fp_path, vfp_path = _paths(media_root)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int")
    # snapshot the batch once so the upstream (a feed micro-batch) isn't
    # re-read by the bucket probe + the Arrow passes below
    batch = batch.select("doc_id", "payload").localCheckpoint()
    if batch.limit(1).count() == 0:
        return
    if parquet_exists(spark, meta_path):
        seen = _seen_probe(spark, meta_path, batch)
        # re-snapshot: the filtered batch feeds up to FOUR Arrow passes
        batch = batch.join(seen, "doc_id", "left_anti").localCheckpoint()
        if batch.limit(1).count() == 0:
            return
    meta_new = mm.probe_media_meta(batch).localCheckpoint()
    imgs = batch.join(
        meta_new.where((F.col("modality") == "image") & F.col("decodable"))
        .select("doc_id"),
        "doc_id",
    )
    auds = batch.join(
        meta_new.where((F.col("modality") == "audio") & F.col("decodable"))
        .select("doc_id"),
        "doc_id",
    )
    # non-empty guards: a batch with no decodable images/audio skips the
    # fingerprint pass AND the empty write (cheap limit(1) probes on the
    # checkpointed batch — no recompute)
    if imgs.limit(1).count():
        mm.perceptual_hash(imgs).withColumn("bucket", bucket).write.mode(
            "append"
        ).partitionBy("bucket").parquet(phash_path)
    if auds.limit(1).count():
        audiofp.audio_fingerprint(auds).withColumn("bucket", bucket).write.mode(
            "append"
        ).partitionBy("bucket").parquet(fp_path)
    vids = batch.join(
        meta_new.where((F.col("modality") == "video") & F.col("decodable"))
        .select("doc_id"),
        "doc_id",
    )
    if vids.limit(1).count():
        fvideo.video_frame_phash(vids).withColumn("bucket", bucket).write.mode(
            "append"
        ).partitionBy("bucket").parquet(vfp_path)
    # meta LAST: the commit point — a crash above leaves this batch
    # unfiltered for the redelivery to re-fold
    meta_new.withColumn("bucket", bucket).write.mode("append").partitionBy(
        "bucket"
    ).parquet(meta_path)


def _read_store(
    spark: SparkSession,
    media_root: str,
    path: str,
    dedup_cols: list[str] | None,
    files: list[str] | None = None,
    what: str = "media store",
) -> DataFrame:
    if files is not None:
        # pinned-epoch read: EXACTLY the recorded files, fail-stop once
        # maintenance/purge has rewritten any (stores.read_pinned_files)
        from http_feeds_spark.stores import read_pinned_files

        df = read_pinned_files(spark, path, files, what).drop("bucket")
    else:
        df = spark.read.parquet(path).drop("bucket")
    # collapse torn-append duplicates (deterministic rows — lossless),
    # then apply logical erasure (the every-read-path anti-join; a
    # pinned read consults the ledger LIVE — erasure trumps the pin)
    df = df.dropDuplicates(dedup_cols) if dedup_cols else df.distinct()
    return erasure.not_erased(spark, media_root, df, "doc_id")


def read_meta(
    spark: SparkSession, media_root: str, files: list[str] | None = None
) -> DataFrame:
    """The queryable media-metadata table: one router row per ingested
    payload, minus erased ids. Raises when no batch has folded yet.
    ``files`` pins the read to an epoch's exact file list."""
    meta_path = _paths(media_root)[0]
    if files is None and not parquet_exists(spark, meta_path):
        raise FileNotFoundError(f"no media meta at {meta_path}; fold a batch first")
    return _read_store(spark, media_root, meta_path, ["doc_id"], files, "media meta")


def read_phash(
    spark: SparkSession, media_root: str, files: list[str] | None = None
) -> DataFrame:
    """(doc_id, phash, decoded) image fingerprints, minus erased ids."""
    phash_path = _paths(media_root)[1]
    if files is None and not parquet_exists(spark, phash_path):
        raise FileNotFoundError(f"no phash store at {phash_path}; fold a batch first")
    return _read_store(
        spark, media_root, phash_path, ["doc_id"], files, "media phash"
    )


def read_audiofp(
    spark: SparkSession, media_root: str, files: list[str] | None = None
) -> DataFrame:
    """(doc_id, band, chunk, key) audio constellations, minus erased."""
    fp_path = _paths(media_root)[2]
    if files is None and not parquet_exists(spark, fp_path):
        raise FileNotFoundError(f"no audiofp store at {fp_path}; fold a batch first")
    return _read_store(spark, media_root, fp_path, None, files, "media audiofp")


def read_videofp(
    spark: SparkSession, media_root: str, files: list[str] | None = None
) -> DataFrame:
    """(doc_id, frame_idx, phash) video frame hashes, minus erased."""
    vfp_path = _paths(media_root)[3]
    if files is None and not parquet_exists(spark, vfp_path):
        raise FileNotFoundError(f"no videofp store at {vfp_path}; fold a batch first")
    return _read_store(spark, media_root, vfp_path, None, files, "media videofp")


def near_dup_pairs(
    spark: SparkSession,
    media_root: str,
    *,
    max_hamming: int = 6,
    min_match: float = 0.8,
    snapshot: dict | None = None,
) -> DataFrame:
    """Cross-container media near-dup pairs FROM THE STORE — no payload
    re-read, no re-decode: image pairs from the persisted phash rows
    (Hamming pigeonhole block equi-join, functions/minhash.
    simhash_candidates) and audio pairs from the persisted constellation
    rows (functions/audiofp.near_dup_from_fingerprints), and video pairs
    from the persisted frame hashes (functions/video.
    near_dup_from_frame_phashes — r13), unified as (a, b, modality,
    score) where score is 1 − hamming/64 for images and the
    matched-fraction for audio/video. Erased ids are already filtered
    by the read paths. ``snapshot`` (a pinned epoch's media file lists —
    epochs.PlatformEpoch.media_near_dup) resolves each store to exactly
    the recorded files instead of the live directory scan."""
    from http_feeds_spark.functions import minhash as mh

    _, phash_path, fp_path, vfp_path = _paths(media_root)
    ph_files = snapshot.get("phash") if snapshot is not None else None
    fp_files = snapshot.get("audiofp") if snapshot is not None else None
    vfp_files = snapshot.get("videofp") if snapshot is not None else None
    has_ph = bool(ph_files) if snapshot is not None else parquet_exists(spark, phash_path)
    has_fp = bool(fp_files) if snapshot is not None else parquet_exists(spark, fp_path)
    has_vfp = bool(vfp_files) if snapshot is not None else parquet_exists(spark, vfp_path)
    parts = []
    if has_ph:
        sig = read_phash(spark, media_root, files=ph_files).select(
            "doc_id",
            F.col("phash").alias("simhash"),
            *[
                F.shiftright(F.col("phash"), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .cast("int")
                .alias(f"blk{b}")
                for b in range(4)
            ],
        )
        parts.append(
            mh.simhash_candidates(sig, max_hamming=max_hamming).select(
                "a",
                "b",
                F.lit("image").alias("modality"),
                (1.0 - F.col("hamming") / F.lit(64.0)).alias("score"),
            )
        )
    if has_fp:
        parts.append(
            audiofp.near_dup_from_fingerprints(
                read_audiofp(spark, media_root, files=fp_files), min_match=min_match
            ).select(
                "a", "b", F.lit("audio").alias("modality"),
                F.col("similarity").alias("score"),
            )
        )
    if has_vfp:
        parts.append(
            fvideo.near_dup_from_frame_phashes(
                read_videofp(spark, media_root, files=vfp_files),
                max_hamming=max_hamming,
                min_match=min_match,
            ).select(
                "a", "b", F.lit("video").alias("modality"),
                F.col("similarity").alias("score"),
            )
        )
    if not parts:
        raise FileNotFoundError(
            f"no fingerprint stores under {media_root}; fold a batch first"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def purge_erased(spark: SparkSession, media_root: str) -> int:
    """Physically remove the ledger's erased docs from every substore
    (erasure.purge_partitioned_store — stage→swap per bucket, only the
    buckets holding erased rows rewrite), then clear exactly the
    processed ledger batches. Readers keep filtering until that last
    step (the erasure invariant holds through every crash window).
    Returns rows physically removed."""
    nos, erased = erasure.ledger_snapshot(spark, media_root)
    if erased is None:
        return 0
    removed = 0
    for store in _paths(media_root):
        if parquet_exists(spark, store):
            removed += erasure.purge_partitioned_store(
                spark, store, erased, "doc_id", "bucket"
            )
    erasure.clear_ledger_batches(spark, media_root, nos)
    return removed


def compact_store(spark: SparkSession, media_root: str) -> dict:
    """Small-file compaction: every fold appends one file-set into each
    touched bucket dir, so files grow with fold count until this
    rewrites each store to ~one file per bucket (stores.
    rewrite_partitioned_store — rows exact, crash-resumable stage→swap).
    The rewrite also collapses torn-append duplicate rows the read
    paths were healing. Returns {"<store>": (files_before,
    files_after)}."""
    from http_feeds_spark.stores import rewrite_partitioned_store

    out: dict = {}
    for store in _paths(media_root):
        if parquet_exists(spark, store):
            out[store.rsplit("/", 1)[-1]] = rewrite_partitioned_store(
                spark, store, "bucket", collapse_duplicates=True
            )
    return out


def snapshot_files(spark: SparkSession, media_root: str) -> dict[str, list[str]]:
    """The store's EXACT data-file frontier right now — ``{"meta":
    [...], "phash": [...], "audiofp": [...], "videofp": [...]}`` — the
    token a platform
    epoch records (epochs.py). Folds only APPEND files and maintenance/
    purge REPLACE them, so a read over exactly this list serves exactly
    the current wave and fails stop once maintenance has rewritten any
    of it. Metadata-only; {} when the store is absent."""
    meta_path, phash_path, fp_path, vfp_path = _paths(media_root)
    if not parquet_exists(spark, meta_path):
        return {}
    from http_feeds_spark.stores import list_data_files

    return {
        "meta": list_data_files(spark, meta_path),
        "phash": list_data_files(spark, phash_path),
        "audiofp": list_data_files(spark, fp_path),
        "videofp": list_data_files(spark, vfp_path),
    }
