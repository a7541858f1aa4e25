"""End-to-end pipeline runner — the Spark-native equivalent of the
reference's ``runme.py`` (reference: runme.py:6-32), which chains
clean-raw-data → generate-intermediate-files → generate-model-files.

Each stage materializes its outputs as parquet (partitioned where a
downstream consumer would prune on the key), and the final model export
also lands in the reference's European CSV convention. Stages read the
catalog lazily, so a stage's unused inputs are never scanned.

Concurrent run. Every output of ``run_pipeline`` reads only the raw
input tables, never another output, so the three phases are an order
for the manifest, not a dependency chain. Each output runs a handful
of small Spark jobs; written one at a time, they would leave most
cores idle while one Python thread plans and schedules the next. So
the outputs go to a thread pool of ``min(#outputs,
defaultParallelism)`` workers: one worker per core the scheduler can
fill, and no more threads than there are outputs.
Spark's default FIFO scheduler then shares the cores between the
concurrent writes. The pool size is not an option.

Each task takes the next output and builds its plan while holding one
lock, then writes it after releasing the lock. The lock is there
because the plan builders were not written for concurrent callers:
``catalog.load_table`` fills an unguarded memo and calls
``spark.conf.set``, and some builders run Spark jobs while planning.
Builds therefore run one at a time and in manifest order, while the
writes of earlier outputs run on the other workers. Each task runs
with a copy of the caller's Spark local properties and tags, so a
caller's job group or scheduler pool covers every stage job. On the
first failure the tasks not yet started are cancelled, the running
writes finish, and the error is re-raised: a partial manifest is never
returned.
"""

from __future__ import annotations

import os
import threading
from collections import deque
from concurrent.futures import ThreadPoolExecutor, as_completed

from pyspark.sql import SparkSession

# Stage membership mirrors runme.py's three phases.
CLEANING = (
    "recode_group",
    "shares_normalize",
    "mode_impute",
    "ffill_impute",
    "gap_fill_trend",
    "dedup_names",
    "clean_names_ascii",
    "interval_binning",
)
INTERMEDIATE = (
    "calendar_enrich",
    "profile_normalize",
    "resample_hourly",
    "weighted_disaggregate",
    "canonical_edges",
    "neighbor_expansion",
    "transmission_attrs",
    "cohort_rollup",
    "expansion_grid",
)
MODEL = (
    "export_demand_matrix",
    "unpivot_long",
)


def run_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """Run all three stages; returns {output name: path} manifest."""
    from pyspark import inheritable_thread_target

    from pyprima_spark.plans.queries import QUERIES
    from pyprima_spark.sources.readers import write_european_csv

    def write_parquet(df, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    # (output name, QUERIES key, writer) in manifest order.
    outputs = [
        (name, name, write_parquet)
        for stage in (CLEANING, INTERMEDIATE, MODEL)
        for name in stage
    ]
    # Model files additionally ship in the reference's CSV convention
    # (to_csv(sep=';', decimal=',') throughout generate_models.py).
    outputs.append(("demand_matrix_csv", "export_demand_matrix", write_european_csv))

    # Tasks are not bound to outputs: whichever task holds the lock
    # takes the next output, so builds follow manifest order.
    todo = deque(outputs)
    build_lock = threading.Lock()

    def run_next() -> None:
        with build_lock:
            name, key, write = todo.popleft()
            df = QUERIES[key](spark, sf_dir)
        write(df, os.path.join(out_dir, name))

    def with_caller_properties():
        # Wrapped once per task, so each gets its own copy of the
        # caller's local properties. Without pinned threads PySpark
        # returns the session itself: properties are not per thread
        # then, and there is nothing to copy.
        inherit = inheritable_thread_target(spark)
        return inherit(run_next) if callable(inherit) else run_next

    workers = min(len(outputs), spark.sparkContext.defaultParallelism)
    pool = ThreadPoolExecutor(workers, thread_name_prefix="run_pipeline")
    try:
        futures = [pool.submit(with_caller_properties()) for _ in outputs]
        for done in as_completed(futures):
            done.result()
    finally:
        pool.shutdown(cancel_futures=True)
    return {name: os.path.join(out_dir, name) for name, _, _ in outputs}


def run_curation(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """Materialize the LLM training-data curation pipeline: the curated
    corpus lands as parquet partitioned by source (downstream per-source
    sampling prunes on the partition key), alongside the funnel-count
    manifest table. Stage semantics are `queries.corpus_curation`'s —
    both read the same flag frame, so the written corpus always agrees
    with the oracled funnel counts.
    """
    from pyprima_spark.plans.queries import QUERIES, curation_flags

    d, keptn = curation_flags(spark, sf_dir)
    corpus_path = os.path.join(out_dir, "curated_docs")
    (
        d.filter(keptn)
        .select("doc_id", "source", "n_tok", "text")
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(corpus_path)
    )
    funnel_path = os.path.join(out_dir, "curation_funnel")
    QUERIES["corpus_curation"](spark, sf_dir).write.mode("overwrite").parquet(
        funnel_path
    )
    return {"curated_docs": corpus_path, "curation_funnel": funnel_path}


def ingest_warc(spark: SparkSession, warc_glob: str):
    """Crawl archives → the ``documents`` table shape: the ingest step
    in FRONT of the curation stack (WARC → here → run_curation →
    export_curated_tfrecord is the whole corpus pipeline end to end).

    ``response`` records are stripped of their stored HTTP header block
    (everything through the first blank line — WARC keeps the raw
    exchange; a bare ``\\n\\n`` separator from a non-compliant server
    is accepted as fallback, and a response with NO separator at all is
    DROPPED rather than leaking its header block into the text);
    ``resource`` records are taken whole; every other record type
    (warcinfo, request, metadata, …) is dropped.  All mapping is
    JVM-side on top of the verifying WARC reader: doc_id is the 60-bit
    md5 of the record id (stable across re-crawls of the same archive),
    source is the URI host via parse_url, lang is left null for the
    downstream language-ID operator, n_chars is computed after header
    stripping.  UTF-8 decode replaces malformed bytes (crawl reality)
    rather than failing the scan — enforced here via the session's
    codingErrorAction so driver-built sessions behave like
    build_session's.
    """
    from pyspark.sql import functions as F

    from pyprima_spark.functions import text as X
    from pyprima_spark.sources.warc import read_warc

    # Spark 4 default aborts the job on one malformed byte sequence
    # (MALFORMED_CHARACTER_CODING); crawls are not reliably UTF-8.
    spark.conf.set("spark.sql.legacy.codingErrorAction", "true")
    recs = read_warc(spark, warc_glob)
    txt = F.expr("decode(content, 'UTF-8')")
    sep_crlf = F.expr(r"instr(decode(content, 'UTF-8'), '\r\n\r\n')")
    sep_lf = F.expr(r"instr(decode(content, 'UTF-8'), '\n\n')")
    body = (
        F.when(F.col("warc_type") != "response", txt)
        .when(
            sep_crlf > 0,
            F.expr(
                r"substring(decode(content, 'UTF-8'),"
                r" instr(decode(content, 'UTF-8'), '\r\n\r\n') + 4)"
            ),
        )
        .when(
            sep_lf > 0,
            F.expr(
                r"substring(decode(content, 'UTF-8'),"
                r" instr(decode(content, 'UTF-8'), '\n\n') + 2)"
            ),
        )
        # responses with no header/body separator: NULL -> filtered
    )
    return (
        recs.filter(F.col("warc_type").isin("response", "resource"))
        .withColumn("text", body)
        .filter(F.col("text").isNotNull())
        .select(
            F.expr(X.hash64_spark("record_id")).alias("doc_id"),
            F.col("text"),
            F.lit(None).cast("string").alias("lang"),
            F.coalesce(
                F.expr("parse_url(target_uri, 'HOST')"),
                F.lit("unknown"),
            ).alias("source"),
            F.length("text").alias("n_chars"),
        )
    )


def export_curated_tfrecord(
    spark: SparkSession, sf_dir: str, out_dir: str, n_shards: int = 16
):
    """The curation stack's EXPORT leg: the curated corpus (same flag
    frame `corpus_curation` oracles) written as ``n_shards`` TFRecord
    files of tf.train.Example records — the hand-off format a training
    job actually consumes.  Sharding is hash-of-doc_id (data-derived,
    byte-identical reruns; sources/tfrecord.py); returns the per-shard
    manifest DataFrame."""
    from pyprima_spark.plans.queries import curation_flags
    from pyprima_spark.sources.tfrecord import write_tfrecord_shards

    d, keptn = curation_flags(spark, sf_dir)
    curated = d.filter(keptn).select("doc_id", "source", "n_tok", "text")
    return write_tfrecord_shards(
        curated,
        out_dir,
        n_shards=n_shards,
        shard_by=["doc_id"],
        order_by=["doc_id"],
    )
