"""Arrow-vectorized extraction stage (SURVEY.md F7): html binary -> PageData.

One ``mapInPandas`` over the web_pages scan. The reference's per-process
scatter/gather (worker_pool.go:52-134, gob IPC) is replaced by Spark's own
executor -> Python-worker Arrow protocol; batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.

The input's ``doc_id`` rides through the stage, so downstream stages need
no join back to the input. The language filter F1 runs BEFORE this stage
when the input carries a trusted ``lang`` column (it's an input column —
Catalyst pushes the predicate into the parquet scan); the extractor still
enforces its own gate from ``<html lang>`` for parity, emitting error
rows, never exceptions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webcrawler_spark.extract.extractor import gate_and_extract

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("domain", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("charset", T.StringType()),
        T.StructField("meta_description", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("headings", T.MapType(T.StringType(), T.ArrayType(T.StringType()))),
        T.StructField("alt_texts", T.ArrayType(T.StringType())),
        T.StructField("anchor_texts", T.ArrayType(T.StringType())),
        T.StructField("internal_links", T.ArrayType(T.StringType())),
        T.StructField("external_links", T.ArrayType(T.StringType())),
        T.StructField("social_links", T.ArrayType(T.StringType())),
        T.StructField("structured_data", T.ArrayType(T.StringType())),
        T.StructField("open_graph", T.MapType(T.StringType(), T.StringType())),
        T.StructField("date_published", T.TimestampType()),
        T.StructField("date_modified", T.TimestampType()),
        T.StructField("text", T.StringType()),
        T.StructField("is_secure", T.BooleanType()),
        T.StructField("fetch_error", T.StringType()),
    ]
)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from webcrawler_spark.extract.urlutil import get_domain, URLError

    for pdf in batches:
        out: dict[str, list] = {f.name: [] for f in PAGE_SCHEMA.fields}
        out["doc_id"] = pdf["doc_id"].tolist()
        for url, warc_ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
            pd_ = gate_and_extract(bytes(html) if html is not None else b"", url)
            try:
                domain = get_domain(pd_.url or url)
            except URLError:
                domain = ""
            out["url"].append(pd_.url)
            out["warc_ts"].append(warc_ts)
            out["domain"].append(domain)
            out["canonical_url"].append(pd_.canonical_url)
            out["title"].append(pd_.title)
            out["charset"].append(pd_.charset)
            out["meta_description"].append(pd_.meta_description)
            out["language"].append(pd_.language)
            out["headings"].append(pd_.headings)
            out["alt_texts"].append(pd_.alt_texts)
            out["anchor_texts"].append(pd_.anchor_texts)
            out["internal_links"].append(pd_.internal_links)
            out["external_links"].append(pd_.external_links)
            out["social_links"].append(pd_.social_links)
            out["structured_data"].append(pd_.structured_data)
            out["open_graph"].append(pd_.open_graph)
            out["date_published"].append(pd_.date_published)
            out["date_modified"].append(pd_.date_modified)
            out["text"].append(pd_.visible_text)
            out["is_secure"].append(pd_.is_secure)
            out["fetch_error"].append(pd_.fetch_error)
        yield pd.DataFrame(out)


def extract_pages(web_pages: DataFrame) -> DataFrame:
    """web_pages(url, warc_ts, html, doc_id[, lang]) -> pages(PAGE_SCHEMA +
    doc_id).

    When a trusted ``lang`` column exists, F1 runs as a pushed-down scan
    predicate first (cheap, avoids parsing non-en pages at all); the
    extractor's own <html lang> gate still applies inside the UDF.
    """
    df = web_pages
    if "lang" in df.columns:
        df = df.filter(
            F.col("lang").isNull()
            | (F.lower(F.split(F.col("lang"), "-")[0]) == "en")
        )
    schema = T.StructType(PAGE_SCHEMA.fields + [df.schema["doc_id"]])
    return df.select("url", "warc_ts", "html", "doc_id").mapInPandas(
        _extract_batches, schema=schema
    )


def good_pages(pages: DataFrame) -> DataFrame:
    """Drop error rows (non-en, filtered titles, invalid UTF-8, bad URLs)."""
    return pages.filter(F.col("fetch_error") == "")
