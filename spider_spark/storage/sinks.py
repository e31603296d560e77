"""Document sinks — the REVA-pipeline analog (SURVEY.md §2.8).

Reference flow: ``PythonSpidersPipeline`` buffers all items per run and
POSTs them in 100,000-item batches to ``/api/spiders/validate``
(testing) or ``/api/spiders/process_data`` (production), with
X-Country/X-Locale headers (``pipelines.py:39-97``). Our sinks:

* :func:`write_documents` — parquet/json writer with the 100k batching
  re-expressed as ``maxRecordsPerFile`` (the batch boundary becomes a
  file boundary — downstream consumers stream files, not one giant
  blob) and ``execution_type`` as a column, not a code path;
* :func:`rest_forwarder` — the POST path as a ``foreachPartition``
  stage; the HTTP call is injected (no egress in the sandbox), one
  session per partition, requests batched exactly like the reference;
* :func:`validate_documents` — the local stand-in for the validate
  API's report: required-field + span-shape checks returning the
  summary/error-detail shape (``pipelines.py:50-54``) as DataFrames.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SINK_BATCH = 100_000  # pipelines.py:85


def write_documents(
    documents: DataFrame,
    path: str,
    fmt: str = "parquet",
    execution_type: str = "testing",
    batch_rows: int = SINK_BATCH,
) -> None:
    """Append documents with reference-style batch boundaries."""
    (
        documents.withColumn("execution_type", F.lit(execution_type))
        .write.mode("append")
        .option("maxRecordsPerFile", batch_rows)
        .format(fmt)
        .save(path)
    )


def rest_forwarder(
    documents: DataFrame,
    poster: Callable[[list[dict]], None] | None = None,
    batch_rows: int = SINK_BATCH,
    country: str = "",
    locale: str = "",
):
    """POST documents in batches from each partition.

    ``poster`` receives one list of row-dicts per batch (it owns the
    HTTP session, retries, headers — X-Country/X-Locale are closed
    over). The sandbox has no egress, so the default raises — the
    partition-batching plumbing is the tested part.
    """

    def send(rows: Iterator) -> None:
        batch: list[dict] = []
        for row in rows:
            batch.append(row.asDict(recursive=True))
            if len(batch) >= batch_rows:
                _post(batch)
                batch = []
        if batch:
            _post(batch)

    def _post(batch: list[dict]) -> None:
        if poster is None:
            raise NotImplementedError(
                "REST sink is stubbed in the sandbox; inject `poster` "
                f"(headers: X-Country={country!r}, X-Locale={locale!r})"
            )
        poster(batch)

    documents.foreachPartition(send)


def validate_documents(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Local validate-API analog: returns (summary, error_details).

    Checks mirror the pipeline's required-set enforcement
    (``pipelines.py:23-36``) adapted to the span schema: non-null
    doc_id, non-empty spans, every span kind in {text, media} with the
    matching payload field set, offsets dense from 0.
    """
    checks = documents.select(
        "doc_id",
        F.col("doc_id").isNotNull().alias("has_id"),
        (F.size(F.coalesce(F.col("spans"), F.array())) > 0).alias("has_spans"),
        F.forall(
            "spans",
            lambda s: (
                ((s["kind"] == "text") & s["text"].isNotNull())
                | ((s["kind"] == "media") & s["media_ref"].isNotNull())
            ),
        ).alias("kinds_ok"),
        F.forall(
            F.expr("arrays_zip(spans, sequence(0, size(spans) - 1))"),
            lambda z: z["spans"]["offset"] == z["1"],
        ).alias("offsets_dense"),
    )
    errors = checks.filter(
        ~(F.col("has_id") & F.col("has_spans") & F.col("kinds_ok") & F.col("offsets_dense"))
    )
    summary = checks.agg(
        F.count("*").alias("n_docs"),
        F.sum((~F.col("has_spans")).cast("long")).alias("missing_spans"),
        F.sum((~F.col("kinds_ok")).cast("long")).alias("bad_kinds"),
        F.sum((~F.col("offsets_dense")).cast("long")).alias("bad_offsets"),
    )
    return summary, errors
