"""Persisted IVF+PQ index — the compressed search tier (IVFADC shape of
Jégou et al., TPAMI 2011, §V; store layout follows operators/ann_index.py).

operators/ann_index.py keeps RAW vectors partitioned by coarse cluster:
search reads ~nprobe/nlist of the corpus VECTOR bytes. This index stores
PQ CODES instead — the same partition-pruned layout, but each pruned
partition is ~m bytes/row rather than 4·D bytes/row, so a probe reads
(nprobe/nlist)·(m/4D) of the raw-vector footprint (~1000× less at
D=768, m=8, nprobe/nlist=1/4). That is the tier that makes interactive
similarity search possible when the embedding column alone is tens of TB.

Stores under one index root (any Hadoop filesystem):

    codes/       (id, codes) partitioned by cluster=N/   — m bytes/row
    codebooks/   (sub, cid, cvec)                        — m×ksub rows
    centroids/   (cid, cvec)                             — nlist rows

Crash story (ann_index.py convention): codes/ writes first, codebooks/
next, centroids/ LAST — presence of centroids/ is the index-present
check, so a torn build reads as absent and the deterministic rebuild
overwrites all three stores idempotently.

Accuracy contract: ADC returns ESTIMATED distances (quantization error
biases them up); ranking quality degrades gracefully with m·log2(ksub)
bits/vector. Two codebook variants, chosen at build:

- **flat** (default): codebooks quantize raw subvectors — decoupled
  from the coarse quantizer, so the same codebooks serve any cluster
  layout and the mental model is simplest;
- **residual** (``residual=True``, the paper's §V.B IVFADC): codebooks
  quantize x − centroid(cluster(x)). Residuals concentrate near the
  origin, so the same code budget resolves the within-cluster detail
  that actually ranks neighbors — better recall at identical storage —
  at the cost of coupling codebooks to the coarse quantizer (both stay
  frozen through upserts; rebuilds retrain both) and an ADC table per
  (query, probed cluster) pair instead of per query.

Use the raw-vector index when exact distances are required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from http_feeds_spark import stores
from http_feeds_spark.functions import kmeans as km
from http_feeds_spark.functions import pq
from http_feeds_spark.operators import erasure
from http_feeds_spark.stores import parquet_exists

CODES_DIR = "codes"
CODEBOOKS_DIR = "codebooks"
CENTROIDS_DIR = "centroids"

# --- model metadata cache (r16) ----------------------------------------------
# Every search call paid one scheduled collect to re-load the SAME frozen
# model (centroids + codebooks): both model stores are single-write
# artifacts that change ONLY on build_pq_index — upserts, compaction and
# erasure never touch them (the frozen-quantizer contract). Memoize the
# model per index root, invalidated by the one writer. Metadata caching
# only (the model is nlist + m·ksub rows); code scans, the erase-ledger
# filter and every search aggregate still execute per call. Callers must
# not mutate the returned lists (module-internal consumers never do).
# Entries carry the centroid dir's modification stamp and a hit
# re-validates it (one driver-side stat, no Spark job) so even an
# out-of-band rebuild by another process reads as a miss.
_MODEL_CACHE: dict[str, tuple] = {}


def invalidate_model_cache(index_root: str) -> None:
    """Drop the cached model for ``index_root`` — build_pq_index calls
    this around the rebuild (the only path that rewrites model stores)."""
    _MODEL_CACHE.pop(index_root.rstrip("/"), None)


# The code-store SCAN HANDLE is memoized too: spark.read.parquet schedules
# one file-listing/footer job per call even though the returned frame is
# lazy — per-search fixed cost for a listing that changes only when a
# writer commits. Metadata only (a plan handle, never rows). The handle
# lives in stores._SCAN_HANDLES so EVERY writer invalidates it: the code
# paths below (build/upsert/update/purge/compact) explicitly, and the
# shared stage→swap protocols (stores.rewrite_partitioned_store,
# erasure.purge_partitioned_store) at the file-set swap itself — a
# maintenance rewrite or crash-window resume can never leave this module
# holding a dead plan.


def invalidate_codes_cache(index_root: str) -> None:
    """Drop the cached code-store scan for ``index_root`` — called by
    every path that writes, rewrites or deletes files under codes/."""
    stores.invalidate_scan(_paths(index_root)[0])


def _codes_df(spark: SparkSession, index_root: str) -> DataFrame:
    return stores.cached_scan(spark, _paths(index_root)[0])


def compact_store(spark: SparkSession, index_root: str) -> tuple[int, int]:
    """Small-file compaction for the code store: each upsert appends one
    file-set into the touched cluster dirs; this rewrites to ~one file
    per cluster (stores.rewrite_partitioned_store — rows exact,
    crash-resumable). The model stores are single-write artifacts and
    never need it. Returns (files before, files after)."""
    from http_feeds_spark.stores import rewrite_partitioned_store

    codes_path, _, _ = _paths(index_root)
    out = rewrite_partitioned_store(spark, codes_path, "cluster")
    invalidate_codes_cache(index_root)  # the file set was rewritten
    return out


def _dpp_enabled(spark: SparkSession) -> bool:
    """Is dynamic partition pruning available to prune the cluster=N/
    dirs at runtime (default on since Spark 3.0)? When it is, the
    search paths skip their static probed-cluster pre-collect job."""
    return (
        spark.conf.get(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        ).lower()
        == "true"
    )


def _paths(index_root: str) -> tuple[str, str, str]:
    root = index_root.rstrip("/")
    return (
        f"{root}/{CODES_DIR}",
        f"{root}/{CODEBOOKS_DIR}",
        f"{root}/{CENTROIDS_DIR}",
    )


def _cent_map_expr(cents: list[tuple[int, list[float]]]):
    """cluster id → centroid vector, as ONE parsed map literal (the
    kmeans._centroid_literal py4j-free form)."""
    entries = ",".join(
        "{},array({})".format(int(cid), ",".join(km._d(x) for x in vec))
        for cid, vec in cents
    )
    return F.expr(f"map({entries})")


def _residual_col(cents: list[tuple[int, list[float]]], vec_col) -> F.Column:
    """vector − centroid(cluster) — requires a `cluster` column in scope
    (assign_clusters/probe_clusters output). Map-only JVM zip_with
    against the broadcast centroid map literal."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    arr = km._model_array(cents)
    if arr is not None:
        # contiguous cids: index the folded array Literal directly
        # (element_at is 1-based) instead of parsing a k×dim map tree
        return F.zip_with(
            v, F.element_at(arr, F.col("cluster") + F.lit(1)), lambda x, c: x - c
        )
    return F.zip_with(
        v, F.element_at(_cent_map_expr(cents), F.col("cluster")), lambda x, c: x - c
    )


def build_pq_index(
    spark: SparkSession,
    emb: DataFrame,
    index_root: str,
    *,
    nlist: int | None = None,
    m: int | None = None,
    ksub: int | None = None,
    pq_bytes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    validate: bool = True,
) -> None:
    """Train coarse quantizer + m sub-codebooks, encode the corpus, and
    persist all three stores. Every pass is linear and map-only after
    its (model-sized) training collects; the corpus is read twice
    (train, encode+assign) and written once as codes.

    Parameters default to AUTO (r9): any of nlist/m/ksub left None is
    filled from vectuner.suggest_params over the corpus's own (N, dim)
    — nlist ≈ growth·√N capped at 39 training points per centroid, m =
    the largest divisor of dim within the ``pq_bytes`` per-vector code
    budget, ksub = the largest power of two the (flat or per-cluster
    residual) training population supports at ≥4 points per codeword.
    ``validate=True`` (default) runs vectuner.validate_pq_params on the
    FINAL parameters, explicit or suggested — the refuse-loudly gate
    against silently-rotten codebooks (ksub above the training
    population trains duplicate/empty codewords; recall degrades with
    no error anywhere). The feed-bootstrap path (ingest.run_pq_index)
    passes ``validate=False`` deliberately: it trains from the FIRST
    batch of a growing feed, where under-populated codebooks are the
    documented bootstrap trade, not a configuration mistake.

    ``residual=True`` trains the codebooks on COARSE RESIDUALS
    (x − centroid(cluster(x))) — the paper's §V.B refinement: residuals
    concentrate near the origin, so the same m·ksub code budget spends
    its resolution on the within-cluster detail that actually ranks
    neighbors, sharpening ADC recall. The price is COUPLING: the
    codebooks are only valid with the exact coarse quantizer they were
    trained against (both stay frozen through upserts; a rebuild
    retrains both together), and search computes its ADC table per
    (query, probed cluster) pair instead of once per query — nprobe×
    the (model-sized) table work, identical code-scan bytes."""
    from http_feeds_spark.functions import vectuner as vt

    invalidate_model_cache(index_root)  # the stores are being rewritten
    invalidate_codes_cache(index_root)
    codes_path, books_path, cent_path = _paths(index_root)
    if nlist is None or m is None or ksub is None or validate:
        n_vectors = emb.count()
        first = emb.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                f"empty corpus (no {vec_col} vectors); nothing to index"
            )
        dim = len(first[0])
        if nlist is None or m is None or ksub is None:
            suggested = vt.suggest_params(
                n_vectors, dim, pq_bytes=pq_bytes, residual=residual, nlist=nlist
            )
            nlist = suggested["nlist"]
            m = m if m is not None else suggested["m"]
            ksub = ksub if ksub is not None else suggested["ksub"]
        if validate:
            vt.validate_pq_params(
                n_vectors, dim, nlist=nlist, m=m, ksub=ksub, residual=residual
            )
    cents = km.kmeans_centroids(emb, id_col, vec_col, k=nlist, iters=iters)
    assigned = km.assign_clusters(emb, cents, vec_col)
    if residual:
        train_frame = assigned.select(
            F.col(id_col), _residual_col(cents, vec_col).alias("__rv"), "cluster"
        ).localCheckpoint()  # feeds m trainings + the encode pass
        books = pq.train_codebooks(
            train_frame, id_col=id_col, vec_col="__rv", m=m, ksub=ksub, iters=iters
        )
        encoded = train_frame.select(
            F.col(id_col), pq.encode_col(books, "__rv").alias("codes"), "cluster"
        )
    else:
        books = pq.train_codebooks(
            emb, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, iters=iters
        )
        # one projection: coarse assignment + PQ encoding, map-only
        encoded = assigned.select(
            F.col(id_col), pq.encode_col(books, vec_col).alias("codes"), "cluster"
        )
    encoded.write.mode("overwrite").partitionBy("cluster").parquet(codes_path)
    spark.createDataFrame(
        [
            (s, int(cid), [float(x) for x in vec])
            for s, book in enumerate(books)
            for cid, vec in book
        ],
        "sub int, cid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(books_path)
    spark.createDataFrame(
        [
            (int(cid), [float(x) for x in vec], bool(residual))
            for cid, vec in cents
        ],
        "cid int, cvec array<double>, residual boolean",
    ).coalesce(1).write.mode("overwrite").parquet(cent_path)
    invalidate_model_cache(index_root)  # readers must reload the new model
    invalidate_codes_cache(index_root)


def ensure_pq_index(spark: SparkSession, emb: DataFrame, index_root: str, **kw) -> bool:
    """Build iff absent (presence = centroids/, the last-written store).
    A stamp-validated cached model (r16) answers the presence probe with
    one driver-side stat — the cache is populated only from committed
    stores."""
    _, _, cent_path = _paths(index_root)
    hit = _MODEL_CACHE.get(index_root.rstrip("/"))
    if hit is not None and hit[0] == stores.modification_stamp(spark, cent_path):
        return False
    if parquet_exists(spark, cent_path):
        return False
    build_pq_index(spark, emb, index_root, **kw)
    return True


def snapshot_files(spark: SparkSession, index_root: str) -> dict[str, list[str]]:
    """The index's EXACT data-file frontier —
    ``{"codes": [...], "codebooks": [...], "centroids": [...]}`` — the
    platform-epoch token (epochs.py D46), same semantics as
    ann_index.snapshot_files: a search pinned to this list serves
    exactly the current wave and fails stop after a rewrite.
    Metadata-only; {} when the index is absent."""
    codes_path, books_path, cent_path = _paths(index_root)
    if not parquet_exists(spark, cent_path):
        return {}
    from http_feeds_spark.stores import list_data_files

    return {
        "codes": list_data_files(spark, codes_path),
        "codebooks": list_data_files(spark, books_path),
        "centroids": list_data_files(spark, cent_path),
    }


def load_model(
    spark: SparkSession, index_root: str, *, snapshot: dict | None = None
) -> tuple[list[tuple[int, list[float]]], pq.Codebooks, bool]:
    """(coarse centroids, codebooks, residual?) — model-sized collects
    only. Pre-residual stores lack the flag column and read as the flat
    variant. ``snapshot`` pins both model stores to a recorded epoch's
    exact files (a rebuild overwrites them → stale pins fail stop)."""
    _, books_path, cent_path = _paths(index_root)
    if snapshot is not None:
        from http_feeds_spark.stores import read_pinned_files

        crows = read_pinned_files(
            spark, cent_path, snapshot["centroids"], "PQ centroid"
        ).collect()
        cents = sorted((int(r.cid), [float(x) for x in r.cvec]) for r in crows)
        residual = bool(getattr(crows[0], "residual", False)) if crows else False
        rows = read_pinned_files(
            spark, books_path, snapshot["codebooks"], "PQ codebook"
        ).collect()
        n_sub = 1 + max(r.sub for r in rows)
        books: pq.Codebooks = [[] for _ in range(n_sub)]
        for r in rows:
            books[r.sub].append((int(r.cid), [float(x) for x in r.cvec]))
        return cents, [sorted(b) for b in books], residual
    key = index_root.rstrip("/")
    stamp = stores.modification_stamp(spark, cent_path)
    hit = _MODEL_CACHE.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]  # callers never mutate the model (module contract)
    if stamp < 0 or not parquet_exists(spark, cent_path):
        raise FileNotFoundError(f"no PQ index at {index_root}; build_pq_index first")
    # ONE collect for both model stores (r15, guide §1: each tiny
    # driver job costs fixed scheduling latency ×3 bench runs; the union
    # tags centroids sub=-1 — schemas differ only in the residual flag,
    # probed footer-only via .columns)
    cent_df = spark.read.parquet(cent_path)
    if "residual" not in cent_df.columns:  # pre-residual store layout
        cent_df = cent_df.withColumn("residual", F.lit(None).cast("boolean"))
    books_df = spark.read.parquet(books_path).withColumn(
        "residual", F.lit(None).cast("boolean")
    )
    rows = (
        cent_df.select(F.lit(-1).alias("sub"), "cid", "cvec", "residual")
        .unionByName(books_df.select("sub", "cid", "cvec", "residual"))
        .collect()
    )
    crows = [r for r in rows if r.sub == -1]
    brows = [r for r in rows if r.sub >= 0]
    cents = sorted((int(r.cid), [float(x) for x in r.cvec]) for r in crows)
    residual = bool(crows[0].residual) if crows and crows[0].residual is not None else False
    n_sub = 1 + max(r.sub for r in brows)
    books: pq.Codebooks = [[] for _ in range(n_sub)]
    for r in brows:
        books[r.sub].append((int(r.cid), [float(x) for x in r.cvec]))
    model = (cents, [sorted(b) for b in books], residual)
    _MODEL_CACHE[key] = (stamp, model)
    return model


def search(
    spark: SparkSession,
    queries: DataFrame,
    index_root: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
    exclude_self: bool = False,
    snapshot: dict | None = None,
    _keep_cluster: bool = False,
) -> DataFrame:
    """SEARCH-ONLY IVF+PQ: no training jobs in this path.

    Plan shape: the query table gains (probe clusters, ADC table) in
    ONE map-only projection against broadcast literals; the candidate
    join is codes ⋈ probes ON cluster (broadcast — codes never
    shuffle); the pruned cluster set is pushed as a partition filter so
    only probed cluster=N/ CODE directories are read off disk; scoring
    is the two-HOF ADC sum; per-query top-k carries ids + one double.
    Returns (qid, id, adc_d2, rank), nearest first.

    ``snapshot`` (a :func:`snapshot_files` dict, usually from a pinned
    platform epoch) makes the read AS-OF that frontier — model and code
    files resolve to exactly the recorded list (``basePath`` keeps the
    cluster partition column, so probe pruning still prunes); a file
    maintenance has since rewritten fails stop. The erasure ledger is
    consulted LIVE: erasure trumps pins (epochs.py contract)."""
    cents, books, residual = load_model(spark, index_root, snapshot=snapshot)
    codes_path, _, _ = _paths(index_root)
    if residual:
        # residual codebooks: the ADC table depends on the PROBED
        # cluster (query residual = q − centroid_c), so it is computed
        # per (query, cluster) pair after probe explosion — nprobe× the
        # model-sized table work, same code-scan bytes
        probes = km.probe_clusters(
            queries.select(F.col(qid_col), F.col(vec_col).alias("__qv")),
            cents,
            nprobe,
            "__qv",
        ).withColumn(
            "__dt", pq.adc_table_col(books, _residual_col(cents, "__qv"))
        ).select(qid_col, "__dt", "cluster")
    else:
        probes = km.probe_clusters(
            queries.select(F.col(qid_col), F.col(vec_col).alias("__qv")).withColumn(
                "__dt", pq.adc_table_col(books, "__qv")
            ),
            cents,
            nprobe,
            "__qv",
        ).select(qid_col, "__dt", "cluster")
    if snapshot is not None:
        from http_feeds_spark.stores import read_pinned_files

        codes = read_pinned_files(spark, codes_path, snapshot["codes"], "PQ code")
    else:
        codes = _codes_df(spark, index_root)
    # logical-erasure window: ids in the erase ledger must not surface
    # (no-op plan while the ledger is absent — erasure.not_erased)
    codes = erasure.not_erased(spark, index_root, codes, id_col)
    if broadcast_queries:
        if snapshot is not None or not _dpp_enabled(spark):
            # no runtime pruning available, or a pinned file-list read
            # (whose scan the optimizer may decline to dynamically
            # prune — r16, ADVICE): pre-collect the probed
            # cluster set (one job on the SMALL query table) and push it
            # as a static partition filter
            probed = [
                r.cluster for r in probes.select("cluster").distinct().collect()
            ]  # ≤ nlist ints of model-sized metadata
            codes = codes.where(F.col("cluster").isin(probed))
        # else: dynamic partition pruning on the broadcast join's cluster
        # key prunes the code scan to the probed cluster=N/ dirs at
        # runtime (verified: dynamicpruningexpression in PartitionFilters)
        # without paying a separate probe-collect job per search (r15,
        # guide §2.4)
        probes = F.broadcast(probes)
    scored = codes.join(probes, "cluster")
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col(qid_col))
    # _keep_cluster (internal): expose each candidate's code-tier
    # cluster alongside the ranking for callers that want it as a
    # locality hint — the ranking itself never reads it. (search_rerank
    # stopped consuming it in r16: its raw-tier fetch joins on id only,
    # with the probe set as a pruning semi-join, so a desynced raw tier
    # degrades to the static-filter semantics instead of dropping
    # candidates on a cluster mismatch.)
    extra = ["cluster"] if _keep_cluster else []
    scored = scored.select(
        qid_col, id_col, *extra, pq.adc_dist_col("codes", "__dt").alias("adc_d2")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(qid_col).orderBy(F.col("adc_d2").asc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def upsert_vectors(
    spark: SparkSession,
    new_vectors: DataFrame,
    index_root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append new vectors WITHOUT retraining: one map-only pass encodes
    the batch against the frozen coarse quantizer AND the frozen
    codebooks (both broadcast literals), appended into the cluster
    partition dirs. Idempotent per id (ids-only anti-join against a
    column-pruned codes scan) — at-least-once safe, same convergence
    argument as ann_index.upsert_vectors.

    Both the quantizer and the codebooks are deliberately frozen: that
    is what keeps upsert O(batch). Quantization error drifts as the
    vector distribution moves (ADC estimates degrade gracefully, never
    break), and because this index quantizes RAW subvectors — not
    per-cluster residuals — the same codebooks stay valid whatever the
    cluster layout; rebuild policy is the caller's."""
    cents, books, residual = load_model(spark, index_root)
    codes_path, _, _ = _paths(index_root)
    existing = _codes_df(spark, index_root).select(F.col(id_col))
    fresh = new_vectors.select(id_col, vec_col).join(existing, id_col, "left_anti")
    enc = (
        pq.encode_col(books, _residual_col(cents, vec_col))
        if residual
        else pq.encode_col(books, vec_col)
    )
    assigned = (
        km.assign_clusters(fresh, cents, vec_col)
        .select(F.col(id_col), enc.alias("codes"), "cluster")
        .localCheckpoint()  # count + write must see one snapshot
    )
    n = assigned.count()
    if n:
        assigned.write.mode("append").partitionBy("cluster").parquet(codes_path)
        invalidate_codes_cache(index_root)  # new files are visible
    return n


def purge_erased(spark: SparkSession, index_root: str) -> int:
    """Physically remove the ledger's erased code rows (operators/
    erasure.py tier 2): only the cluster partitions holding erased rows
    are rewritten (erasure.purge_partitioned_store's stage→swap
    protocol), then exactly the processed ledger batches are cleared —
    readers keep filtering until then. The frozen coarse quantizer and
    codebooks are untouched: they are trained aggregates, not subject
    rows. Returns rows removed."""
    from http_feeds_spark.operators.ann_index import _id_col_of

    nos, erased = erasure.ledger_snapshot(spark, index_root)
    if erased is None:
        return 0
    codes_path, _, _ = _paths(index_root)
    id_col = _id_col_of(spark, codes_path)
    removed = erasure.purge_partitioned_store(
        spark, codes_path, erased, id_col, "cluster", dedup_keys=[id_col]
    )
    invalidate_codes_cache(index_root)  # partitions were rewritten/deleted
    erasure.clear_ledger_batches(spark, index_root, nos)
    return removed


def search_rerank(
    spark: SparkSession,
    queries: DataFrame,
    index_root: str,
    ann_index_root: str,
    *,
    k: int = 10,
    rerank: int = 50,
    nprobe: int = 4,
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Two-stage IVFADC-R (Jégou et al. §V.D): ADC over the compressed
    codes shortlists `rerank` candidates per query, then EXACT cosine
    re-ranks the shortlist against raw vectors fetched from the
    companion ANN index store (operators/ann_index.py — the raw-vector
    tier this compressed tier complements).

    Cost shape: stage 1 reads code bytes only (the partition-pruned ADC
    scan); stage 2 joins raw vectors for queries×rerank CANDIDATE rows.
    When the two tiers share the coarse quantizer — bit-identical
    centroid stores, which deterministic k-means guarantees whenever
    both indexes were built from the same corpus with the same
    k/nlist/iters (the ingest compositions do exactly that) — every
    candidate's raw-tier cluster is one of the probed clusters, so the
    probe set is pushed as a partition filter on the raw-corpus scan
    too: stage 2 then reads ~nprobe/nlist of the raw vector bytes, like
    a direct IVF probe. With DIFFERENT quantizers a candidate's raw
    cluster is unknowable without reading it, so stage 2 falls back to
    the full-corpus id join (correctness first; the check is a
    model-sized centroid comparison). Accuracy: exact distances on the
    shortlist remove ADC's quantization error wherever the true
    neighbor made the shortlist — recall(k) is bounded by ADC
    recall(rerank), which is why rerank ≫ k is the published default.
    Returns (qid, id, cosine_sim, rank), best first."""
    from pyspark.sql import Window

    from http_feeds_spark.functions import vectors as vec
    from http_feeds_spark.operators import ann_index as ai

    shortlist = search(
        spark,
        queries,
        index_root,
        k=rerank,
        nprobe=nprobe,
        id_col=id_col,
        qid_col=qid_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
    ).select(qid_col, id_col)
    corpus = ai._corpus_df(spark, ann_index_root)
    cents_pq, _, _ = load_model(spark, index_root)
    cents_ann = ai.load_centroids(spark, ann_index_root)
    shared = cents_ann == cents_pq
    if shared:
        # shared coarse quantizer: every candidate's raw-tier cluster is
        # one of the PROBED clusters, so the probe set prunes the raw
        # scan. The probe set is a map-only projection of the small
        # query table (no collect); the candidate fetch itself stays an
        # id-only join, so the cluster is a PRUNING HINT, never a match
        # key — if the two independently-maintained tiers ever desync
        # (an id re-upserted with a changed embedding into one tier
        # only), the degradation is the pre-r15 static-filter one
        # (candidate missing only when its raw row left the probed
        # clusters), not a silent drop on a cluster mismatch (r16,
        # ADVICE).
        probes_df = (
            km.probe_clusters(
                queries.select(F.col(qid_col), F.col(vec_col).alias("__qv")),
                cents_ann,
                nprobe,
                "__qv",
            )
            .select("cluster")
            .distinct()
        )
        if _dpp_enabled(spark):
            # broadcast semi-join on the partition column: dynamic
            # partition pruning trims the raw scan to the probed
            # cluster=N/ dirs at runtime without a per-search
            # probe-collect job (r15/r16, guide §2.4)
            corpus = corpus.join(F.broadcast(probes_df), "cluster", "left_semi")
        else:
            # DPP unavailable: pre-collect the probed cluster set (one
            # job on the SMALL query table) and push it as a static
            # partition filter on the raw scan
            probed = [r.cluster for r in probes_df.collect()]
            # ≤ nlist ints of model-sized metadata
            corpus = corpus.where(F.col("cluster").isin(probed))
    corpus = corpus.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    # stage 1 already filtered THIS index's ledger; the raw-vector tier
    # has its own — filter it too (no-op plan while absent)
    corpus = erasure.not_erased(spark, ann_index_root, corpus, id_col)
    cands = shortlist.join(
        F.broadcast(
            queries.select(F.col(qid_col), F.col(vec_col).alias("__qv"))
        ),
        qid_col,
    )
    scored = corpus.join(F.broadcast(cands), [id_col]).select(
        qid_col, id_col, vec.cosine("__cv", "__qv").alias("cosine_sim")
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
