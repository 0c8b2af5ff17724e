"""Incremental ingest (SURVEY §2.9): new pages land continuously; their
extractions upsert into the serving group tables.

The reference runs a daily cron that diffs file listings and
delete-merge-readds Lucene documents per group
(``hadoop/.../Ingester.scala:75,110-120``,
``IndexModifier.scala:50-105``). The Spark-native shape is Structured
Streaming over a landing directory with ``Trigger.AvailableNow`` (one
idempotent catch-up batch per invocation — the streaming equivalent of
the cron) and a ``foreachBatch`` MERGE into the groups table. With an
Iceberg catalog the merge is a transactional ``MERGE INTO``; on plain
parquet we emulate it with per-bucket dynamic partition overwrite
(only the hash buckets a batch touches are rewritten).

Failure semantics of the parquet emulation (weaker than Iceberg, by
construction): foreachBatch is at-least-once, and ``merge_groups``
sums sizes, so a replay after a successful write but failed checkpoint
commit would double-merge. A ``_batch_<run>_<id>.done`` marker per
table NARROWS (does not close) that window: the marker is written
after the parquet commit, so a crash in the instant between commit and
marker creation still double-merges on replay, and a crash in the
MIDDLE of the multi-bucket write can leave a subset of touched buckets
rewritten (no cross-bucket atomicity on plain parquet). Markers are
namespaced by a run id stored inside the checkpoint directory, so
batch ids from a deleted/replaced checkpoint (which restart at 0)
never match a stale marker and silently skip fresh data. The real fix
at cluster scale is the Iceberg catalog, where the whole merge is one
snapshot commit and the batch id rides the commit metadata.

The reference's probabilistic re-link schedule ("relink when
size>1 && (size<5 || size%2==0)", ``IndexModifier.scala:89``) becomes
the deterministic rule: a merged group is flagged ``needs_relink``
when the merge grew it (SURVEY §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openie_backend_spark.operators.dedup import bloom_bits, bloom_probe
from openie_backend_spark.operators.extract import extract_pages
from openie_backend_spark.operators.group import GROUP_KEY, group_extractions


def merge_groups(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """MERGE semantics on the group key: concat instance lists, sum
    sizes, keep existing entity links, flag grown groups for re-link."""
    e = existing.alias("e")
    i = incoming.alias("i")
    joined = e.join(i, GROUP_KEY, "full_outer")
    keep_cols = []
    for c in existing.columns:
        if c == "needs_relink":
            continue
        if c in GROUP_KEY:
            keep_cols.append(F.col(c))
        elif c == "instances":
            keep_cols.append(
                F.concat(
                    F.coalesce(F.col("e.instances"), F.array()),
                    F.coalesce(F.col("i.instances"), F.array()),
                ).alias("instances")
            )
        elif c == "size":
            keep_cols.append(
                (
                    F.coalesce(F.col("e.size"), F.lit(0))
                    + F.coalesce(F.col("i.size"), F.lit(0))
                ).alias("size")
            )
        else:
            src = (
                F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}"))
                if c in incoming.columns
                else F.col(f"e.{c}")
            )
            keep_cols.append(src.alias(c))
    keep_cols.append(
        (
            (
                F.coalesce(F.col("e.size"), F.lit(0))
                + F.coalesce(F.col("i.size"), F.lit(0))
            )
            > F.coalesce(F.col("e.size"), F.lit(0))
        ).alias("needs_relink")
    )
    return joined.select(*keep_cols)


N_BUCKETS = 64


def bucket_col(n_buckets: int = N_BUCKETS):
    """Deterministic key-hash bucket (Murmur3 with Spark's fixed seed —
    stable across runs/JVMs; no cross-engine requirement here)."""
    return F.pmod(F.hash(*GROUP_KEY), F.lit(n_buckets))


def run_incremental(
    spark: SparkSession,
    landing_dir: str,
    groups_dir: str,
    checkpoint_dir: str,
    pages_schema,
    n_buckets: int = N_BUCKETS,
    dedup_pages: bool = False,
    bloom_m_bits: int = 1 << 18,
    bloom_k: int = 3,
) -> None:
    """One AvailableNow catch-up pass: stream new page files from
    ``landing_dir``, extract+group each micro-batch, merge into the
    groups table at ``groups_dir``.

    The groups table is hash-partitioned on the group key into
    ``bucket=NN/`` directories; each micro-batch reads and rewrites
    ONLY the buckets its keys touch (dynamic partition overwrite —
    Spark's plain-parquet equivalent of Iceberg ``MERGE INTO``). A
    daily increment of i groups over a table of G groups costs
    O(i + G·touched/n_buckets), not O(G) (VERDICT r1 #6: the previous
    full-outer-join + directory swap rewrote the whole table per
    batch). Untouched bucket files are left byte-identical, which the
    streaming test asserts.

    ``dedup_pages=True`` adds a Bloom "seen" filter IN FRONT of the
    NLP: every ingested page text's bit positions persist to
    ``<groups_dir>/_seen_bits`` (underscore-prefixed — invisible to
    the groups parquet reader), and a new batch drops pages whose text
    the archive has already extracted — a re-crawl costs k md5s, not a
    CPython extraction pass. Bloom semantics, sized by
    ``bloom_m_bits``/``bloom_k``: a true re-crawl is ALWAYS dropped; a
    false positive (rate (1−e^(−kn/m))^k) drops a genuinely-new page
    whose text hashes onto k already-set bits — acceptable for crawl
    dedup, so the feature is opt-in. Crash ordering: bits append AFTER
    the merge commit, so a replay either re-merges (the existing
    at-least-once window) or — if bits landed but the marker did not —
    probes the batch as fully seen and no-ops, which is consistent
    because the merge had committed. Appending bit rows is set union
    (replay-idempotent by construction).

    Per-batch cost model: every input is read once and no job only
    lists files or infers a schema.

    - The kept pages are cut once (``localCheckpoint``) after the
      Bloom probe, so extraction and the bit append share one probe.
    - The grouped batch is cut once; ``touched`` is one collect on it.
    - The merge reads only the touched buckets that already exist, as
      explicit ``bucket=NN`` paths under ``basePath``, with the table
      schema given. A touched bucket can be new, and reading a path
      that does not exist fails, so missing ones are skipped.
    - The merge is repartitioned by ``bucket`` over at most
      ``defaultParallelism`` tasks: one writer per bucket, so each
      bucket holds one file at any batch size, and the touched buckets
      are written in parallel instead of by one coalesced task.
    - ``get_spark`` sets ``parallelPartitionDiscovery.threshold`` above
      ``N_BUCKETS``: up to that many paths are listed on the driver.
      At Spark's default of 32, both the touched-bucket read and a
      reader's refresh of the whole table start a 64-task listing job.

    What remains per batch is the Bloom probe, the extraction stage,
    the merge join and the write of one file per touched bucket."""

    # Batch ids are unique only per checkpoint: a deleted or replaced
    # checkpoint restarts them at 0, and a bare _batch_0.done from the
    # previous run would silently skip ALL data of the new run's first
    # batch. Namespace markers by a run id that lives (and dies) with
    # the checkpoint directory itself.
    os.makedirs(checkpoint_dir, exist_ok=True)
    # markers land here even when no batch has written a bucket yet
    os.makedirs(groups_dir, exist_ok=True)
    run_id_path = os.path.join(checkpoint_dir, "_ingest_run_id")
    if not os.path.exists(run_id_path):
        with open(run_id_path, "w") as fh:
            fh.write(os.urandom(8).hex())
    with open(run_id_path) as fh:
        run_id = fh.read().strip()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # At-least-once replay guard: foreachBatch re-delivers a batch if
        # the write succeeded but the checkpoint commit did not; merging
        # twice would double instance lists and sizes. Spark's parquet
        # reader ignores underscore-prefixed files, and dynamic partition
        # overwrite only replaces bucket=NN dirs, so markers persist.
        # (Written AFTER the commit — narrows, not closes, the replay
        # window; see module docstring.)
        marker = os.path.join(groups_dir, f"_batch_{run_id}_{batch_id}.done")
        if os.path.exists(marker):
            return
        seen_dir = os.path.join(groups_dir, "_seen_bits")
        pages = batch_df
        if dedup_pages and os.path.isdir(seen_dir):
            # the schema is known: reading with it starts no job to
            # infer it from a file footer
            bits_schema = bloom_bits(batch_df, m_bits=bloom_m_bits, k_hashes=bloom_k).schema
            flags = bloom_probe(
                spark.read.schema(bits_schema).parquet(seen_dir), batch_df,
                m_bits=bloom_m_bits, k_hashes=bloom_k, id_col="url",
            )
            # cut: extraction and the bit append both read the kept
            # pages, and the probe must run once, not once per reader.
            # Bits of the dropped pages are already all set, so the
            # kept pages' bits give the same union as the whole batch's.
            pages = batch_df.join(
                flags.filter(F.col("maybe_dup"))
                .select(F.col("doc_id").alias("url")),
                "url", "left_anti",
            ).localCheckpoint(eager=True)
        incoming = (
            group_extractions(extract_pages(pages), corpus="stream")
            .withColumn("bucket", bucket_col(n_buckets))
            .localCheckpoint(eager=True)  # small; avoids re-extraction
        )
        touched = [r["bucket"] for r in incoming.select("bucket").distinct().collect()]
        if touched:
            # only the touched buckets that exist: a path that does not
            # exist fails the read, and listing the whole table would
            # list all n_buckets directories
            paths = [
                p for p in (os.path.join(groups_dir, f"bucket={b}") for b in touched)
                if os.path.isdir(p)
            ]
            new_groups = incoming.withColumn("needs_relink", F.lit(True))
            if paths:
                # this function writes every bucket file, so the table
                # schema is the new groups' schema (no inference job)
                existing = (
                    spark.read.schema(new_groups.schema)
                    .option("basePath", groups_dir).parquet(*paths)
                )
                merged = merge_groups(existing, incoming)
            else:
                merged = new_groups
            (
                # one writer per bucket: every row of a bucket hashes to
                # one task, which writes the bucket's single file, while
                # the touched buckets are written in parallel, by no
                # more tasks than there are buckets to write
                merged.repartition(
                    min(spark.sparkContext.defaultParallelism, len(touched)), "bucket"
                )
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(groups_dir)
            )
        if dedup_pages:
            # after the merge commit (see docstring crash ordering);
            # duplicate bit rows from a replay are harmless set union.
            # Extraction-less pages count as seen too (ADVICE r5): else
            # every re-crawl of a page that yields no groups re-runs
            # the NLP, breaking the "re-crawl costs k md5s" contract.
            bloom_bits(pages, m_bits=bloom_m_bits, k_hashes=bloom_k) \
                .write.mode("append").parquet(seen_dir)
        with open(marker, "w") as fh:
            fh.write("merged\n")

    stream = (
        spark.readStream.schema(pages_schema)
        .parquet(landing_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
