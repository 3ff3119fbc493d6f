"""Incremental near-dup dedup: a new document batch against a STORED
signature index -- the shape a production ingest actually runs.

A 100 TB corpus is not re-deduped from scratch per day; the MinHash
band keys and the shingle sets are materialized once
(:func:`build_minhash_index`), and each incoming batch joins its own
(tiny) signatures against the stored ones:

* candidate generation = new-bands x stored-bands equi-join on
  (band, bh) PLUS the new batch's internal self-join -- cost scales
  with the BATCH, never the corpus;
* exact-Jaccard verification reads only the candidate docs' shingle
  rows (stored shingles are parquet; at real scale they are bucketed
  by doc_id so the verification join is partition-pruned to the
  candidates);
* the decision is append-friendly: a new doc is a duplicate iff it
  pairs with a stored doc or with a smaller-id member of its own
  batch, so surviving docs + their signatures can be appended to the
  index and the invariant (no two stored near-dups) is preserved.

Same thresholds/signature family as the batch query
(plans/text_queries.py), so incremental and from-scratch agree -- that
agreement is unit-tested in tests/test_incremental_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_parquet
from .text_queries import (
    JACCARD_THRESHOLD,
    _documents,
    _jaccard_from_exploded,
    minhash_bands_of,
    shingles_exploded_of,
)


def build_minhash_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Materialize the dedup index for the stored corpus: the LSH band
    keys (n_docs x 64 rows) and the distinct (doc_id, shingle) set the
    verifier needs. At real scale both writes are bucketed by doc_id."""
    ex = shingles_exploded_of(_documents(spark, sf_dir))
    minhash_bands_of(ex).write.mode("overwrite").parquet(f"{index_dir}/bands")
    ex.write.mode("overwrite").parquet(f"{index_dir}/shingles")


def dedup_incremental(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> DataFrame:
    """New (doc_id, text) batch vs the stored index -> verified near-dup
    pairs ``(d1, d2, jaccard)`` with J >= {JACCARD_THRESHOLD}, where
    ``d2`` is always a new doc and ``d1`` is a stored doc or an
    earlier-id new doc. New doc_ids must be disjoint from stored ids
    (monotone ingest ids give this for free)."""
    return dedup_incremental_frames(
        new_docs,
        read_parquet(spark, f"{index_dir}/bands"),
        read_parquet(spark, f"{index_dir}/shingles"),
    )


def dedup_incremental_frames(
    new_docs: DataFrame, old_bands: DataFrame, old_ex: DataFrame
) -> DataFrame:
    """:func:`dedup_incremental` with the stored index passed as frames
    -- the form the streaming ingest sink uses, where the index lives in
    versioned stored tables (streaming/dedup_ingest.py) rather than
    plain parquet directories."""
    new_ex = shingles_exploded_of(new_docs)
    new_bands = minhash_bands_of(new_ex)

    cross = (
        old_bands.alias("o")
        .join(new_bands.alias("n"),
              (F.col("o.band") == F.col("n.band"))
              & (F.col("o.bh") == F.col("n.bh"))
              # strict < is vacuous under the monotone-id contract
              # (stored ids always precede new ids) but makes a REPLAYED
              # batch whose signatures already landed in the index
              # (crash between the corpus and index appends of the
              # streaming sink) re-dedup to the same answer instead of
              # pairing batch docs against their own stored copies
              & (F.col("o.doc_id") < F.col("n.doc_id")))
        .select(F.col("o.doc_id").alias("d1"), F.col("n.doc_id").alias("d2"))
    )
    a = new_bands.alias("a")
    b = new_bands.alias("b")
    within = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    )
    cand = cross.unionByName(within).distinct()
    # anti-join before the union for the same replay case as the <
    # above: if the batch's shingle rows already landed in the stored
    # index, a plain union would double them and halve every verified
    # Jaccard. Batch-sized broadcast, free in normal operation.
    new_ids = new_docs.select("doc_id").distinct()
    all_ex = old_ex.join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    ).unionByName(new_ex)
    # semi-join the shingle set down to CANDIDATE docs before the
    # verifier: _jaccard_from_exploded's sizes aggregation runs over its
    # whole input, so without this cut the per-batch cost would be
    # index-sized (every stored doc's shingles re-counted per batch)
    # instead of candidate-sized -- the "verification reads only
    # candidate docs' shingle rows" promise of the module docstring.
    # Candidate ids are pair-count-sized (broadcast); sizes stay exact
    # because the cut is by doc_id, never within a doc's shingles.
    cand_ids = (
        cand.select(F.col("d1").alias("doc_id"))
        .unionByName(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    all_ex = all_ex.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    return (
        _jaccard_from_exploded(all_ex, cand)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
    )


def incremental_keep(new_docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per new doc: ``keep`` = not a near-dup of anything stored or of an
    earlier batch member. The kept set (docs + signatures) is what gets
    appended to the index."""
    dupes = pairs.select(F.col("d2").alias("doc_id")).distinct()
    return (
        new_docs.select("doc_id")
        .join(dupes.withColumn("dup", F.lit(True)), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dup"), F.lit(False)).alias("is_dup"))
        .select("doc_id", (~F.col("is_dup")).alias("keep"))
    )
