"""Streaming near-duplicate gate: continuous-ingestion dedup against a
GROWING fingerprint index.

The production shape for "don't let near-copies into the corpus" under
continuous ingestion: every micro-batch is SimHash-fingerprinted, banded
against the persisted corpus fingerprint index (pigeonhole-exact candidate
generation — the 64 bits are split into ``max_hamming + 1`` contiguous
blocks, so any pair within the Hamming threshold shares at least one
identical block), Hamming-verified on 32-bit longs, and only
novel documents are appended to BOTH the corpus sink and the fingerprint
index — so later batches dedup against everything admitted before them.

Shares batch semantics with the batch dedup family (operators/dedup.simhash
fingerprints; the banding/verify arithmetic mirrors
workloads/graph_ops.py:230-260) — batch and streaming agree on what counts
as a near-dup.

Sink discipline (r7): every sink — fingerprint index, kept-docs corpus,
match reports — is APPEND-ONLY parquet partitioned by ``batch_id``,
written with dynamic partition overwrite. Per-batch write cost is
O(batch): a micro-batch creates (or, on a checkpoint-replayed retry,
atomically replaces) only its own ``batch_id=N`` partition and never
rewrites earlier batches — the previous read-merge-overwrite shape
re-read and re-wrote the ENTIRE corpus-so-far every micro-batch
(O(corpus) per batch ⇒ quadratic cumulative I/O over a long-running
stream). Retry idempotency needs no merge logic: replaying batch N
overwrites partition N with byte-identical content, because the gate
reads the index restricted to ``batch_id < N`` — exactly the state the
original attempt saw, even if the failed attempt left a partial
partition behind. The index READ is an incremental scan of all prior
partitions — inherent to gating against everything admitted so far.

Reference parity: the reference engine has no streaming or dedup surface;
this extends the §2.D capability envelope like the rest of the dedup
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from autonomus_datapipeline_spark.fsutil import resolve_fs
from autonomus_datapipeline_spark.operators.dedup import (
    band_table,
    minhash_signatures,
    shingle_table,
    simhash,
)

_N_BITS = 64


def _block_bounds(n_blocks: int) -> list[tuple[int, int]]:
    """(start, length) pairs splitting _N_BITS into n_blocks contiguous
    chunks as evenly as possible. Pigeonhole correctness holds for ANY
    partition into max_hamming+1 non-empty blocks."""
    base, extra = divmod(_N_BITS, n_blocks)
    bounds, start = [], 0
    for b in range(n_blocks):
        length = base + (1 if b < extra else 0)
        bounds.append((start, length))
        start += length
    return bounds


def _blocks(fp: DataFrame, id_name: str, n_blocks: int) -> DataFrame:
    """One row per (doc, band): contiguous bit-substrings of the
    fingerprint."""
    return fp.select(
        F.col("doc_id").alias(id_name),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.substring("simhash", start + 1, length).alias(
                            "block"
                        ),
                    )
                    for b, (start, length) in enumerate(
                        _block_bounds(n_blocks)
                    )
                ]
            )
        ).alias("_b"),
    ).select(id_name, "_b.block_idx", "_b.block")


def _halves(sh) -> list:
    return [
        F.conv(F.substring(sh, off + 1, 32), 2, 10).cast("long")
        for off in range(0, _N_BITS, 32)
    ]


def _hamming(a_halves: list, b_halves: list):
    total = F.lit(0)
    for ha, hb in zip(a_halves, b_halves):
        total = total + F.bit_count(ha.bitwiseXOR(hb))
    return total.cast("int")


def neardup_matches(
    new_fp: DataFrame, index_fp: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """(new_id, index_id, hamming) for every new fingerprint within
    ``max_hamming`` of an index fingerprint. Banded equi-join candidates
    (never all-pairs, max_hamming+1 pigeonhole blocks) + long-XOR popcount
    verify; the index side is NOT broadcast — it is corpus-sized."""
    n_blocks = max_hamming + 1
    cand = (
        _blocks(new_fp, "new_id", n_blocks)
        .join(_blocks(index_fp, "index_id", n_blocks), ["block_idx", "block"])
        .select("new_id", "index_id")
        .distinct()
    )
    a = new_fp.select(
        F.col("doc_id").alias("new_id"),
        *[h.alias(f"a{i}") for i, h in enumerate(_halves(F.col("simhash")))],
    )
    b = index_fp.select(
        F.col("doc_id").alias("index_id"),
        *[h.alias(f"b{i}") for i, h in enumerate(_halves(F.col("simhash")))],
    )
    ham = _hamming(
        [F.col(f"a{i}") for i in range(_N_BITS // 32)],
        [F.col(f"b{i}") for i in range(_N_BITS // 32)],
    )
    return (
        cand.join(a, "new_id")
        .join(b, "index_id")
        .select("new_id", "index_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def gate_batch(
    batch_df: DataFrame,
    index_fp: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch through the gate → (kept_docs, matches).

    A batch document is rejected if it is within ``max_hamming`` of the
    index OR of ANY batch document with a smaller doc_id (deterministic
    canonical-lowest-id convention; when the lower document was itself
    rejected against the index, its index match transitively covers this
    one — at near-dup thresholds chain members are interchangeable, the
    same convention dedup_keep_best_quality uses for cluster
    representatives).
    """
    named = batch_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    fp = simhash(named, "doc_id", "text", _N_BITS).localCheckpoint(eager=True)
    vs_index = neardup_matches(fp, index_fp, max_hamming).select(
        "new_id", "index_id", "hamming"
    )
    # intra-batch: candidate pairs by band, lower id wins
    intra = (
        neardup_matches(
            fp,
            fp.select(F.col("doc_id"), "simhash"),
            max_hamming,
        )
        .filter(F.col("index_id") < F.col("new_id"))
        .select("new_id", F.col("index_id").alias("batch_winner"), "hamming")
    )
    rejected = (
        vs_index.select("new_id")
        .unionByName(intra.select("new_id"))
        .distinct()
    )
    kept = named.join(rejected, named.doc_id == rejected.new_id, "left_anti")
    matches = vs_index.unionByName(
        intra.select(
            "new_id", F.col("batch_winner").alias("index_id"), "hamming"
        )
    )
    return kept, matches


def _append_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the sink's ``batch_id=N`` partition, replacing ONLY
    that partition (dynamic partition overwrite). O(batch) I/O; replaying
    the same batch id is idempotent — the partition is atomically swapped
    for byte-identical content, never appended twice."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def compact_gate_sink(spark, path: str, upto_batch_id: int, fs=None) -> int:
    """Periodic sink maintenance: fold every ``batch_id <= upto_batch_id``
    partition into the single partition ``batch_id=upto_batch_id`` and
    drop the older ones, so long-running streams don't accumulate one tiny
    partition per micro-batch (small-file pressure on the index scan).

    Safe w.r.t. the gate's replay contract as long as ``upto_batch_id`` is
    a COMMITTED batch (Structured Streaming only ever replays the last
    uncommitted batch, whose id is strictly greater): compacted rows keep
    a batch_id every future batch's ``batch_id < N`` index read still
    includes. CRASH-idempotent, not just replay-idempotent: if a previous
    attempt died after writing the consolidated ``batch_id=upto``
    partition but before deleting every older partition, a re-run's merge
    sees the same row once from the consolidated partition and once from
    each surviving original — the full-row ``dropDuplicates`` collapses
    those (gate sink rows are unique per batch by construction — doc_ids
    are admitted once, match pairs are distinct — and replayed partitions
    are byte-identical, so an exact duplicate row across partitions can
    only be a torn-compaction artifact). Cost is O(rows ≤ upto), run at an
    operator-chosen cadence (e.g. every ~100 batches), never per batch.
    Filesystem verbs go through the :mod:`..fsutil` seam (pure-Python for
    local paths, Hadoop bridge for remote schemes, or caller-injected
    ``fs=``). Returns the row count.
    """
    if fs is None:
        fs = resolve_fs(spark, path)
    merged = (
        spark.read.parquet(path)
        .filter(F.col("batch_id") <= upto_batch_id)
        .drop("batch_id")
        .dropDuplicates()
        # materialize BEFORE writing: the write overwrites a partition of
        # the same path being read
        .localCheckpoint(eager=True)
    )
    n = merged.count()
    _append_batch_partition(merged, path, upto_batch_id)
    # drop the now-folded older partitions
    for name in fs.listdir(path):
        if name.startswith("batch_id="):
            bid = int(name.split("=", 1)[1])
            if bid < upto_batch_id:
                fs.delete(f"{path}/{name}")
    return n


def _index_committed(spark, index_path: str, fs=None) -> bool:
    """True iff the index sink holds at least one COMMITTED ``batch_id=``
    partition. A directory that exists but has no such child (a crashed
    first index write that left an empty dir or only ``_temporary`` /
    ``_SUCCESS`` debris) is an ABSENT sink — reading it would fail
    deterministically on every micro-batch retry, wedging the stream
    forever on a state that holds no data at all. Anything beyond that
    (corrupt footer on a committed partition, transient FS error,
    permissions) still raises at read time so Structured Streaming fails
    and retries — swallowing those would silently re-admit near-dups of
    everything admitted so far."""
    if fs is None:
        fs = resolve_fs(spark, index_path)
    if not fs.exists(index_path):
        return False
    return any(n.startswith("batch_id=") for n in fs.listdir(index_path))


def gate_and_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    kept_path: str,
    matches_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    fs=None,
) -> None:
    """One micro-batch through the gate into the append-only sinks — the
    foreachBatch body, exposed so retries are testable: calling it twice
    with the same ``batch_id`` (the Structured Streaming replay contract)
    produces exactly the same sink state, because the gate reads the index
    restricted to STRICTLY EARLIER batches and the write replaces only
    this batch's partition. ``fs`` is the optional filesystem seam
    (:mod:`..fsutil`) for the sink-existence probe, for deployments whose
    index path needs an injected implementation (e.g. Spark Connect +
    object store)."""
    spark = batch_df.sparkSession
    if _index_committed(spark, index_path, fs):
        index_fp = spark.read.parquet(index_path).filter(
            F.col("batch_id") < batch_id
        ).select("doc_id", "simhash")
    else:
        index_fp = spark.createDataFrame([], "doc_id bigint, simhash string")
    kept, matches = gate_batch(
        batch_df, index_fp, id_col, text_col, max_hamming
    )
    kept = kept.localCheckpoint(eager=True)
    _append_batch_partition(matches, matches_path, batch_id)
    _append_batch_partition(kept, kept_path, batch_id)
    _append_batch_partition(
        simhash(kept, "doc_id", "text", _N_BITS), index_path, batch_id
    )


# ---------------------------------------------------------------------------
# MinHash-banded variant of the gate (shingle-Jaccard near-dup detector)
# ---------------------------------------------------------------------------

# Defaults mirror the batch MinHash family (workloads/pipeline_ops.py
# _MH_*): word bigrams, 12 salted-md5 permutations, 4 bands × 3 rows.
_MH_SHINGLE = 2
_MH_HASHES = 12
_MH_BANDS = 4


def minhash_band_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = _MH_SHINGLE,
    n_hashes: int = _MH_HASHES,
    n_bands: int = _MH_BANDS,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) for every document — the index payload
    of the MinHash gate. Built from the SAME shingle → signature → banding
    operators the batch dedup family uses (operators/dedup.py), so batch
    and streaming agree on what counts as a near-dup band collision.
    Documents with fewer than ``shingle_n`` words produce no shingles and
    therefore no bands — they can never collide and are always admitted."""
    named = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    sh = shingle_table(named, "doc_id", "text", shingle_n)
    sigs = minhash_signatures(sh, n_hashes)
    return band_table(sigs, n_bands, n_hashes // n_bands)


def minhash_matches(new_bands: DataFrame, index_bands: DataFrame) -> DataFrame:
    """(new_id, index_id, n_bands) for every new document sharing ≥ 1 LSH
    band with an index document. Pure equi-join on (band_idx, band_hash) —
    non-colliding pairs are never materialized; the index side is
    corpus-sized and is never broadcast."""
    a = new_bands.select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_hash"
    )
    b = index_bands.select(
        F.col("doc_id").alias("index_id"), "band_idx", "band_hash"
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .groupBy("new_id", "index_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    )


def minhash_gate_batch(
    batch_df: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = _MH_SHINGLE,
    n_hashes: int = _MH_HASHES,
    n_bands: int = _MH_BANDS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch through the MinHash gate →
    (kept_docs, matches, batch_bands). ``batch_bands`` is the WHOLE
    batch's (materialized) band table; callers filter it to the kept ids
    for the index payload — against the kept set they actually persisted,
    so the anti-join never re-executes.

    Admission rule (same deterministic convention as the SimHash gate,
    :func:`gate_batch`): a batch document is rejected iff it shares ≥ 1
    band with the index OR with a batch document of smaller doc_id."""
    named = batch_df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    bands = minhash_band_table(
        named, "doc_id", "text", shingle_n, n_hashes, n_bands
    ).localCheckpoint(eager=True)
    vs_index = minhash_matches(bands, index_bands)
    intra = (
        minhash_matches(bands, bands)
        .filter(F.col("index_id") < F.col("new_id"))
    )
    rejected = (
        vs_index.select("new_id").unionByName(intra.select("new_id")).distinct()
    )
    kept = named.join(rejected, named.doc_id == rejected.new_id, "left_anti")
    matches = vs_index.unionByName(intra)
    return kept, matches, bands


def minhash_gate_and_append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    kept_path: str,
    matches_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = _MH_SHINGLE,
    n_hashes: int = _MH_HASHES,
    n_bands: int = _MH_BANDS,
    fs=None,
) -> None:
    """MinHash foreachBatch body with the shared sink discipline: every
    sink is append-only parquet partitioned by batch_id, the gate reads
    the band index restricted to STRICTLY EARLIER batches, and a
    checkpoint-replayed retry atomically replaces only its own partition
    with byte-identical content (see :func:`gate_and_append_batch`). The
    index payload is the kept documents' (doc_id, band_idx, band_hash)
    rows — n_bands rows per admitted doc, so the index stays
    corpus-linear. :func:`compact_gate_sink` applies unchanged. Same
    failure contract and ``fs`` seam as the SimHash gate
    (:func:`_index_committed`)."""
    spark = batch_df.sparkSession
    if _index_committed(spark, index_path, fs):
        index_bands = spark.read.parquet(index_path).filter(
            F.col("batch_id") < batch_id
        ).select("doc_id", "band_idx", "band_hash")
    else:
        index_bands = spark.createDataFrame(
            [], "doc_id bigint, band_idx int, band_hash string"
        )
    kept, matches, bands = minhash_gate_batch(
        batch_df, index_bands, id_col, text_col, shingle_n, n_hashes, n_bands
    )
    kept = kept.localCheckpoint(eager=True)
    _append_batch_partition(matches, matches_path, batch_id)
    _append_batch_partition(kept, kept_path, batch_id)
    # index payload: the kept documents' bands, filtered from the already-
    # materialized batch band table against the already-persisted kept set
    _append_batch_partition(
        bands.join(kept.select("doc_id"), "doc_id", "left_semi"),
        index_path,
        batch_id,
    )


def stream_minhash_gate(
    stream: DataFrame,
    index_path: str,
    kept_path: str,
    matches_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = _MH_SHINGLE,
    n_hashes: int = _MH_HASHES,
    n_bands: int = _MH_BANDS,
    fs=None,
) -> StreamingQuery:
    """Checkpointed streaming wrapper for the MinHash gate — identical
    replay/append/O(batch) contract as :func:`stream_neardup_gate`, with
    banded MinHash signatures (shingle-Jaccard collisions) instead of
    SimHash Hamming blocks as the near-dup detector. ``fs`` is threaded
    into every foreachBatch body's sink probe."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        minhash_gate_and_append_batch(
            batch_df,
            batch_id,
            index_path,
            kept_path,
            matches_path,
            id_col,
            text_col,
            shingle_n,
            n_hashes,
            n_bands,
            fs=fs,
        )

    return (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_neardup_gate(
    stream: DataFrame,
    index_path: str,
    kept_path: str,
    matches_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    fs=None,
) -> StreamingQuery:
    """Checkpointed streaming wrapper: per micro-batch, gate against the
    persisted fingerprint index (all strictly earlier batch partitions),
    append this batch's kept docs + match reports + kept fingerprints as
    the sinks' ``batch_id=N`` partitions, and nothing else — per-batch
    cost is O(batch) + one incremental index scan, never a rewrite of the
    corpus so far. Retried micro-batches replace their own partition
    idempotently (see :func:`gate_and_append_batch`). ``fs`` is threaded
    into every foreachBatch body's sink probe."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        gate_and_append_batch(
            batch_df,
            batch_id,
            index_path,
            kept_path,
            matches_path,
            id_col,
            text_col,
            max_hamming,
            fs=fs,
        )

    return (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
