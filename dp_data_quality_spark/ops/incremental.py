"""Cross-run incremental deduplication against a persisted MinHash index.

A real training-data pipeline does not dedup one batch in isolation: each
incoming batch must be deduplicated against everything ALREADY ingested.
Re-shingling the whole historical corpus per batch is O(corpus) every
run; the scalable design is a persisted **signature index** — one row of
16 MinHash values per surviving document (``ops.dedup.minhash_signatures``)
— probed with the same banded-LSH join used within a batch:

1. signature the incoming batch (one shuffle over the batch only);
2. band-join batch signatures against the index (shuffle on band keys —
   16 longs/doc move, never text; the historical corpus is NEVER
   re-read, only its 17-column index);
3. verify candidates by **signature agreement** (fraction of the 16
   components equal — the standard unbiased MinHash estimate of
   Jaccard).  The index stores no text, so the verify is sketch-based
   by construction; at 16 components the estimator's resolution is
   1/16, which is the documented precision/recall dial (more
   permutations → finer);
4. drop batch docs that match the index (or an earlier doc within the
   batch), then APPEND the survivors' signatures as the batch's index
   partition.

Idempotent reruns: the index is partitioned by ``batch_id`` and written
with dynamic partition overwrite (same pattern as the pipeline sink,
pipeline.py:203) — re-running a batch overwrites its own partition and
probes only OTHER batches' partitions, so a crash-and-retry neither
dedups a batch against itself nor double-inserts signatures.

At 100 TB: the index is ~136 bytes/doc — 10⁹ documents ≈ 136 GB of
parquet, a routine broadcast-free band-join input.  Probe cost is
O(batch + candidates), independent of corpus text size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import minhash_signatures, signature_bands

N_PERMS = 16


def signature_agreement_pairs(
    left_sigs: DataFrame,
    right_sigs: DataFrame,
    threshold: float = 0.8,
    self_pairs: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) — banded-LSH candidates between two
    signature tables, scored by MinHash signature agreement.

    ``self_pairs=False`` (two distinct tables): every candidate pair is
    emitted as (left doc_a, right doc_b) — INCLUDING identical ids, so a
    document re-ingested in a later batch under the same doc_id matches
    its own index entry (est_jaccard 1.0) instead of silently appending a
    duplicate signature.  ``self_pairs=True`` (same table on both
    sides): pairs are deduplicated to doc_a < doc_b.  Candidates only
    exist where a band key matches, so the join shuffles band keys,
    never the corpus."""
    a = signature_bands(left_sigs).alias("a")
    b = signature_bands(right_sigs).alias("b")
    cond = (
        F.col("a.doc_id") < F.col("b.doc_id") if self_pairs else F.lit(True)
    )
    candidates = (
        a.join(b, on=["band", "key"])
        .where(cond)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sl = left_sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"la_{i}") for i in range(N_PERMS)],
    )
    sr = right_sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"lb_{i}") for i in range(N_PERMS)],
    )
    agree = sum(
        F.when(F.col(f"la_{i}") == F.col(f"lb_{i}"), 1).otherwise(0)
        for i in range(N_PERMS)
    )
    return (
        candidates.join(sl, "doc_a")
        .join(sr, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree / F.lit(float(N_PERMS))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


@dataclass
class IncrementalDedupResult:
    kept: DataFrame            # surviving batch rows (all input columns)
    dup_pairs: DataFrame       # (doc_a=new, doc_b=existing-or-earlier, est_jaccard, source)
    index_path: str
    n_input: int
    n_kept: int
    n_dropped_vs_index: int
    n_dropped_within_batch: int


def incremental_dedup(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    batch_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> IncrementalDedupResult:
    """Dedup ``batch`` against the persisted signature index AND within
    itself, then commit the survivors' signatures as partition
    ``batch_id=<batch_id>`` of the index.

    Drop policy: a batch doc is dropped when it matches any index doc
    (the corpus came first) or any LOWER-id doc in the same batch
    (keep-first, the rule-17 convention, applied GREEDILY in one pass:
    a chain a~b~c with no a~c edge keeps only a — near-dup similarity
    is not transitive, and single-pass least-element semantics is the
    deterministic, shuffle-bounded choice).  Rerunning the same
    ``batch_id`` is idempotent: the batch's own partition is excluded
    from the probe and overwritten on commit.

    Shingle-less docs (fewer than ``n`` words after normalization)
    produce no signature: they are KEPT — never probed against the
    index, never indexed — and they count toward ``n_input``/``n_kept``
    (``n_input`` is the full batch row count, so
    ``n_kept == kept.count()`` always holds)."""
    sigs = minhash_signatures(batch, id_col, text_col, n).persist()
    # full-batch accounting: sigs.count() would silently omit docs too
    # short to shingle, breaking n_kept == kept.count(); a column-pruned
    # count of the batch is the cheap correct source
    n_input = batch.count()

    # probe index existence explicitly — a transient read failure (object
    # store hiccup, permissions, corrupt footer) must PROPAGATE, not be
    # mistaken for "first batch" and silently skip historical dedup
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(index_path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jvm_path):
        index = spark.read.parquet(index_path)
        index = index.filter(F.col("batch_id") != batch_id).drop("batch_id")
        have_index = True
    else:  # first batch: no index yet
        index = None
        have_index = False

    if have_index:
        vs_index = signature_agreement_pairs(sigs, index, threshold).select(
            "doc_a", "doc_b", "est_jaccard", F.lit("index").alias("source")
        )
    else:
        vs_index = None

    within = signature_agreement_pairs(
        sigs, sigs, threshold, self_pairs=True
    ).select(
        # keep-first: the HIGHER id is the duplicate
        F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"),
        "est_jaccard", F.lit("batch").alias("source"),
    )
    dup_pairs = within if vs_index is None else vs_index.unionByName(within)
    dup_pairs = dup_pairs.persist()

    drop_ids = dup_pairs.select(F.col("doc_a").alias(id_col)).distinct()
    kept = batch.join(drop_ids, on=id_col, how="left_anti")

    # one job over the persisted (bounded) pair set: per dropped doc,
    # index-match wins the attribution; within-batch otherwise
    stats = (
        dup_pairs.groupBy("doc_a")
        .agg(F.max((F.col("source") == "index").cast("int")).alias("hit_idx"))
        .agg(
            F.coalesce(F.sum("hit_idx"), F.lit(0)).alias("vs_index"),
            F.coalesce(F.sum(1 - F.col("hit_idx")), F.lit(0)).alias("within"),
        )
        .first()
    )
    n_vs_index, n_within = int(stats["vs_index"]), int(stats["within"])
    n_kept = n_input - n_vs_index - n_within

    # commit survivors' signatures into this batch's index partition
    survivors = sigs.join(drop_ids.withColumnRenamed(id_col, "doc_id"),
                          on="doc_id", how="left_anti")
    (
        survivors.withColumn("batch_id", F.lit(batch_id))
        .repartition("batch_id")
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(index_path)
    )
    sigs.unpersist()  # everything downstream is materialized by now

    return IncrementalDedupResult(
        kept=kept,
        dup_pairs=dup_pairs,
        index_path=index_path,
        n_input=n_input,
        n_kept=n_kept,
        n_dropped_vs_index=n_vs_index,
        n_dropped_within_batch=n_within,
    )
