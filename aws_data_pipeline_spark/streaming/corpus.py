"""Incremental corpus curation: streaming document ingest with cross-batch
near-dup rejection against the persisted corpus LSH index.

This composes the incremental-dedup pieces into the maintenance loop a
production training corpus actually runs: documents arrive in files, each
micro-batch is deduplicated WITHIN itself, then probed against the index of
everything already accepted; only novel documents append to the corpus zone
AND to the index — LSM-style maintenance where per-batch cost is O(batch +
matched buckets) and the accepted corpus is never re-read, let alone
re-clustered. The corpus zone is flat: each micro-batch appends one parquet
file, and the idempotency anti-join reads only the batch's id range of it
(:func:`sources.parquet.pruned_zone_ids`). The checkpoint is the bookmark
(same contract as streaming/ingest.py): a crashed run re-processes only
uncommitted files.

Crash-consistency note, explicit because the sink performs THREE writes
(corpus, index sets, index bands) that parquet cannot commit atomically
together: each write derives its append set INDEPENDENTLY, by anti-joining
the batch's deterministic survivors against what THAT target already holds
(ids only — cheap column-pruned scans). A crash between any two of the
three writes therefore cannot desynchronize them permanently: the recovery
run (the checkpoint re-delivers the uncommitted batch) recomputes the same
survivors and each write backfills exactly its missing rows — docs that
reached the corpus but not the index get their index entries on recovery,
and vice versa; nothing is ever double-appended. The only window of weakness is
DURING recovery itself (an index missing entries admits a near-duplicate
arriving in that same window — conservative direction: possible duplicate
admission, never data loss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_spark.operators import dedup, text
from aws_data_pipeline_spark.sources.parquet import (
    erase_ids_from_flat_zone,
    index_has,
    prepare_flat_zone,
    pruned_zone_ids,
    zone_exists,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


def append_to_lsh_text_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Idempotently append documents to a persisted LSH index
    (``dedup.build_lsh_text_index``) under the index's OWN recorded
    parameters — a probe never sees mixed-parameter signatures.

    Each sub-table derives its own append set by anti-joining the batch's
    ids against what that sub-table already holds (ids only — column-pruned
    scans), so calling this again after a crash between the ``sets`` and
    ``bands`` writes backfills exactly the missing rows: already-indexed
    docs are skipped, docs whose sets landed but whose bands did not get
    their bands computed from the materialized sets.
    """
    from aws_data_pipeline_spark.sources.parquet import index_root

    spark = df.sparkSession
    path = index_root(spark, path)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    ids = df.select(F.col(id_col).alias("doc"))
    missing_sets = df.join(
        spark.read.parquet(f"{path}/sets").select(F.col("doc").alias(id_col)),
        id_col,
        "left_anti",
    )
    if not missing_sets.isEmpty():
        dedup.shingle_sets(
            missing_sets, id_col, text_col, meta.k, persist=False
        ).write.mode("append").parquet(f"{path}/sets")
    # bands for any batch doc not yet banded, from the MATERIALIZED sets
    # (tokenization runs once; covers a prior crash between the two writes)
    pending = (
        spark.read.parquet(f"{path}/sets")
        .join(ids, "doc", "left_semi")
        .join(spark.read.parquet(f"{path}/bands").select("doc"), "doc", "left_anti")
    )
    if not pending.isEmpty():
        dedup._banded_keys(
            dedup._signatures_from_sets(pending, meta.num_perm, meta.hash_fn),
            meta.bands,
            meta.num_perm // meta.bands,
        ).write.mode("append").parquet(f"{path}/bands")


def compact_corpus_indexes(
    spark: SparkSession,
    index_path: str,
    kgram_index_path: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Periodic maintenance for the append-maintained corpus indexes:
    every availableNow batch appends one small parquet file per index
    sub-table, and after thousands of batches probe latency is dominated
    by file open/seek, not data. Rewrites each sub-table into
    ~target-size files via ``compact_zone``, clustering the probe-side
    tables on their join keys (``bands`` on (band, key), ``hashes`` and
    ``sets`` on their hash/doc columns) so parquet row-group min/max
    ranges turn selective probes into row-group skips. Returns files
    written per sub-table.

    Concurrency contract (the embedding compaction's,
    ``similarity.compact_embedding_indexes``, verbatim): PROBE-safe — the
    compacted sub-tables land in a fresh version directory committed by
    ONE marker-file create, the superseded generation is kept one more
    flip for in-flight readers, and a crash mid-compaction leaves the old
    version active — but NOT concurrent-APPEND-safe: an append resolving
    the old root mid-compaction would strand its rows in a superseded
    generation. Run it from the index's single owner, between ingest
    runs. Cadence: ``sources.parquet.index_compaction_due``, or whenever
    the small-file count passes a few hundred."""
    from aws_data_pipeline_spark.sources.parquet import (
        copy_zone as _copy_zone,
        finish_index_build as _finish_index_build,
    )
    from aws_data_pipeline_spark.sources.parquet import (
        compact_zone,
        index_has,
        index_next_root,
        index_root,
    )

    written: dict[str, int] = {}
    old_root = index_root(spark, index_path)
    new_root, new_v = index_next_root(spark, index_path)
    written["sets"] = compact_zone(
        spark, f"{old_root}/sets", target_file_bytes=target_file_bytes,
        sort_by=("doc",), dest=f"{new_root}/sets",
    )
    written["bands"] = compact_zone(
        spark, f"{old_root}/bands", target_file_bytes=target_file_bytes,
        sort_by=("band", "key"), dest=f"{new_root}/bands",
    )
    _copy_zone(spark, f"{old_root}/meta", f"{new_root}/meta")
    _finish_index_build(
        spark, index_path, new_v, old_root, ("sets", "bands", "meta")
    )
    if kgram_index_path is not None and index_has(
        spark, kgram_index_path, "hashes"
    ):
        k_old = index_root(spark, kgram_index_path)
        k_new, k_v = index_next_root(spark, kgram_index_path)
        written["hashes"] = compact_zone(
            spark, f"{k_old}/hashes",
            target_file_bytes=target_file_bytes, sort_by=("h",),
            dest=f"{k_new}/hashes",
        )
        _copy_zone(spark, f"{k_old}/meta", f"{k_new}/meta")
        _finish_index_build(
            spark, kgram_index_path, k_v, k_old, ("hashes", "meta")
        )
    return written


def incremental_corpus_ingest(
    spark: SparkSession,
    docs_path: str,
    corpus_path: str,
    index_path: str,
    checkpoint_path: str,
    threshold: float = 0.8,
    k: int = 5,
    num_perm: int = 16,
    bands: int = 4,
    kgram_index_path: str | None = None,
    kgram_k: int = 8,
    strip_markup: bool = False,
    min_quality: float | None = None,
    gc_superseded_versions: bool = False,
) -> None:
    """One availableNow run: new document files -> in-batch dedup -> index
    probe -> idempotent append of novel docs to corpus + index.

    Per micro-batch:
    1. exact + MinHash-LSH dedup WITHIN the batch (deterministic min-id
       survivor per cluster — re-runs pick the same survivors);
    2. survivors probe the corpus index (``neardup_against_index``): any
       new doc with a verified match >= ``threshold`` is a cross-batch
       duplicate and is dropped;
    3. novel docs append to the corpus zone (id anti-join guard makes
       re-delivery idempotent) and to the index (see module docstring for
       the write-order contract). First batch bootstraps both.

    ``kgram_index_path`` (optional) additionally maintains the corpus's
    duplicate-SPAN fingerprint index (``dedup.build_kgram_index``):
    accepted docs' distinct positional k-gram hashes append after the
    corpus write, anti-joined against the hash set so replays are
    idempotent by construction — downstream span audits
    (``duplicate_spans_against_index``) then see every accepted doc
    without re-reading corpus text. One ingest loop keeps ALL corpus
    indexes current.

    doc_ids must be globally unique across batches (upstream contract,
    same as any append-only ingest).

    Corpus layout: each micro-batch appends ONE flat parquet file to
    ``corpus_path`` — the embedding loop's layout
    (:func:`streaming.embeddings.incremental_embedding_ingest`). The
    idempotency anti-join and the k-gram batch ∩ corpus semi-join read
    the zone's ids through :func:`sources.parquet.pruned_zone_ids`: the
    batch's ``[min, max]`` doc_id pushes down to the scan, and row-group
    statistics skip other batches' files, so the per-batch corpus read
    stays O(batch) for ordered ids. A zone written by the older
    hash-bucketed layout (``_buckets`` marker) is refused with
    ``ValueError`` before any write: partition discovery would silently
    hide flat files appended beside its ``bucket=`` directories.
    An erase of the zone cut short by a crash is completed first
    (:func:`sources.parquet.prepare_flat_zone`).

    ``strip_markup`` / ``min_quality`` (optional, off by default): the
    curate() chain's row-local stage 0/1 applied per micro-batch BEFORE
    dedup — raw-crawl loops gate and strip in-ingest so the corpus, the
    indexes, and every downstream signal only ever see content that
    passed. Deterministic column expressions: crash-recovery re-delivery
    recomputes the identical survivors, so the idempotency contract is
    unchanged.

    ``gc_superseded_versions=True``: collect index generations superseded
    in PREVIOUS runs at run START — the embedding loop's cadence rule
    (see :func:`streaming.embeddings.incremental_embedding_ingest`):
    never right after this run's own rebuilds, whose kept generation must
    stay readable for in-flight probes.
    """

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        sess = batch.sparkSession
        # 0. optional row-local curation gates, MIRRORING curate()'s stage
        # order (strip before anything scores or hashes the text; quality
        # gate before the expensive pairwise stages). Pure deterministic
        # column expressions, so a crash-recovery re-delivery recomputes
        # the identical survivor set — the idempotency contract is
        # untouched.
        if strip_markup:
            batch = (
                text.strip_markup(batch, text_col="text", out_col="__clean")
                .withColumn("text", F.col("__clean"))
                .drop("__clean")
            )
        if min_quality is not None:
            cols = batch.columns
            batch = (
                text.quality_score(batch)
                .filter(F.col("quality_score") >= min_quality)
                .select(*cols)
            )
        batch = batch.localCheckpoint()  # consumed by several jobs below
        # gate-emptied batch: checked AFTER the checkpoint so the strip +
        # score chain evaluates exactly once (an isEmpty on the lazy frame
        # would compute it a second time just to answer the guard)
        if min_quality is not None and batch.isEmpty():
            return
        # 1. in-batch dedup: exact digest first (cheap), then fuzzy
        exact = dedup.exact_dedup(batch, "doc_id")
        uniq = exact.filter(~F.col("is_duplicate")).drop(
            "text_hash", "canonical_doc_id", "is_duplicate"
        )
        pairs = dedup.minhash_lsh_pairs(
            uniq, "doc_id", k=k, num_perm=num_perm, bands=bands, threshold=threshold
        )
        assign = dedup.cluster_assignments(uniq, pairs, "doc_id")
        survivors = uniq.join(
            assign.filter(~F.col("is_duplicate")).select("doc_id"),
            "doc_id",
            "left_semi",
        ).localCheckpoint()  # one plan, several probes
        # 2. cross-batch: probe the index of everything accepted so far
        if index_has(sess, index_path, "meta"):
            matched = dedup.neardup_against_index(
                sess, survivors, index_path, threshold=threshold
            ).select(F.col("new_id").alias("doc_id")).distinct()
            survivors = survivors.join(
                matched, "doc_id", "left_anti"
            ).localCheckpoint()
        # 3. idempotent append: corpus and index append sets are derived
        #    INDEPENDENTLY (each anti-joined against its OWN target), so a
        #    crash between any of the three writes is backfilled by the
        #    recovery run instead of permanently desynchronizing them
        #    (module docstring).
        if not survivors.isEmpty():
            corpus_new = survivors
            if zone_exists(sess, corpus_path):
                # range-pruned idempotency: only the batch's id range of
                # the corpus id column is read
                existing = pruned_zone_ids(
                    sess, corpus_path, survivors, "doc_id"
                )
                corpus_new = survivors.join(existing, "doc_id", "left_anti")
            if not corpus_new.isEmpty():
                corpus_new.write.mode("append").parquet(corpus_path)
            if index_has(sess, index_path, "meta"):
                append_to_lsh_text_index(survivors, index_path)
            else:
                # Bootstrap from the FULL corpus zone, not `survivors`:
                # enabling the index on an already-populated corpus must
                # index history too (the k-gram bootstrap's rule, for the
                # same silent-under-reporting reason; on a fresh corpus
                # the two are identical anyway).
                dedup.build_lsh_text_index(
                    sess.read.parquet(corpus_path).select("doc_id", "text"),
                    index_path,
                    k=k,
                    num_perm=num_perm,
                    bands=bands,
                )
        # k-gram span index: append set = this batch's docs that are IN
        # the corpus zone — NOT `survivors`: on crash recovery the LSH
        # probe drops re-delivered docs as self-matches (survivors goes
        # empty), but their span hashes may still be missing here. The
        # batch-ids x corpus-ids semi-join re-derives them; the
        # hash-level anti-join inside append_to_kgram_index makes
        # re-appends no-ops, so this is both crash-backfilling and
        # idempotent. Runs OUTSIDE the survivors guard for that reason.
        if kgram_index_path is not None and zone_exists(sess, corpus_path):
            accepted = uniq.join(
                # same range pruning as the corpus anti-join
                pruned_zone_ids(sess, corpus_path, uniq, "doc_id"),
                "doc_id",
                "left_semi",
            )
            if index_has(sess, kgram_index_path, "meta"):
                dedup.append_to_kgram_index(accepted, kgram_index_path)
            else:
                # Bootstrap from the FULL corpus zone, not `accepted`:
                # when the k-gram option is first enabled on an
                # already-populated corpus, `accepted` is only batch ∩
                # corpus — an index built from it would silently miss
                # every previously ingested doc's span hashes and
                # under-report duplicated spans while claiming to be the
                # corpus index. The corpus zone is the source of truth;
                # on a fresh corpus the two are identical anyway.
                full = sess.read.parquet(corpus_path)
                if not full.isEmpty():
                    dedup.build_kgram_index(full, kgram_index_path, k=kgram_k)

    prepare_flat_zone(spark, corpus_path)
    # run-START version GC (the embedding loop's cadence rule — see its
    # comment for why collecting right after a rebuild would be wrong)
    if gc_superseded_versions:
        from aws_data_pipeline_spark.sources.parquet import gc_index_versions

        gc_targets = {
            index_path: ("sets", "bands", "meta"),
            kgram_index_path: ("hashes", "meta"),
        }
        for p, subs in gc_targets.items():
            if p is not None:
                gc_index_versions(spark, p, subs=subs)

    (
        spark.readStream.schema(DOC_SCHEMA)
        .option("multiLine", "false")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "64")
        .json(docs_path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def forget_documents(
    spark: SparkSession,
    ids: DataFrame,
    corpus_path: str | None = None,
    index_path: str | None = None,
    kgram_index_path: str | None = None,
    id_col: str = "doc_id",
    gc_superseded: bool = True,
) -> dict[str, int]:
    """GDPR-style erasure across the text estate the ingest loop
    maintains — the document twin of
    :func:`streaming.embeddings.forget_vectors`: remove ``ids`` from the
    MinHash-LSH index, rebuild the k-gram span index from the SURVIVING
    corpus, erase from the flat corpus zone last
    (:func:`sources.parquet.erase_ids_from_flat_zone`: a crash-safe swap,
    re-run to complete), and collect the superseded index generations
    (they still hold the doomed rows). A hash-bucketed corpus zone
    (``_buckets`` marker) is refused with ``ValueError`` before anything
    is erased.

    The k-gram index stores DISTINCT hashes with no per-document
    provenance (that anonymity is its size story — see
    ``dedup.build_kgram_index``), so per-document deletion is not
    expressible on it: a hash shared with a surviving document must
    stay, and nothing records the sharing. Erasure therefore REBUILDS it
    from the surviving corpus (an O(corpus tokens) pass — the inherent
    cost of erasing from a provenance-free fingerprint set), through the
    same versioned swap as any rebuild. The surviving corpus is computed
    by anti-join BEFORE the zone is touched, so the ordering contract
    (corpus zone LAST — it is the ingest loop's idempotency authority)
    still holds and a crash anywhere re-runs to completion.

    Returns per-surface removed-row counts (``kgram_rebuilt`` reports the
    surviving-document count fed to the rebuild) for the erasure audit."""
    from aws_data_pipeline_spark.sources.parquet import (
        gc_index_versions,
        index_root,
    )

    if corpus_path is not None:
        prepare_flat_zone(spark, corpus_path)
    out: dict[str, int] = {}
    doomed = ids.select(F.col(id_col).alias("doc_id")).distinct()
    if index_path is not None and index_has(spark, index_path, "sets"):
        out["lsh"] = dedup.delete_from_lsh_text_index(
            spark, index_path, doomed
        )
    if (
        kgram_index_path is not None
        and corpus_path is not None
        and index_has(spark, kgram_index_path, "hashes")
        and zone_exists(spark, corpus_path)
    ):
        meta_k = (
            spark.read.parquet(
                f"{index_root(spark, kgram_index_path)}/meta"
            )
            .collect()[0]
            .k
        )
        survivors = (
            spark.read.parquet(corpus_path)
            .join(doomed, "doc_id", "left_anti")
            .localCheckpoint(eager=True)  # rebuild target feeds on the zone
        )
        dedup.build_kgram_index(
            survivors, kgram_index_path, k=meta_k, force_new_version=True
        )
        out["kgram_rebuilt"] = survivors.count()
    if corpus_path is not None:
        out["corpus"] = erase_ids_from_flat_zone(
            spark, corpus_path, doomed, "doc_id"
        )
    if gc_superseded:
        for p, subs in (
            (index_path, ("sets", "bands", "meta")),
            (kgram_index_path, ("hashes", "meta")),
        ):
            if p is not None and zone_exists(spark, p):
                gc_index_versions(spark, p, subs)
    return out
