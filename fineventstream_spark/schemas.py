"""Ring-[R] schemas: the reference's two topics, typed at the edge.

The reference keeps schemas implicit (producers build dicts with fixed
keys, nothing validates downstream — processor_company_news.py:37-38
"trusts producer format"); the engine makes them explicit StructTypes so
`from_json` gives PERMISSIVE null semantics for malformed records, exactly
the skip-behavior of the reference's try/except decode loop
(processor_stock_quotes.py:56-60).

Field inventory from the producers:
- stock_quotes: producer_stock_quotes.py:98-110
- company_news: producer_company_news.py:152-164
"""

from __future__ import annotations

from pyspark.sql import types as T

SYMBOLS = ["AAPL", "MSFT", "GOOGL", "AMZN", "NVDA", "META"]  # src/config.py:4

COMPANY_NEWS_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("news_id", T.LongType()),
        T.StructField("fetch_timestamp_utc", T.TimestampType()),
        T.StructField("article_published_unix", T.LongType()),
        T.StructField("article_published_utc", T.TimestampType()),
        T.StructField("category", T.StringType()),
        T.StructField("headline", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("image_url", T.StringType()),
    ]
)

# Raw Finnhub quote shape (terse keys) pre-projection:
# producer_stock_quotes.py:64-67
RAW_QUOTE_SCHEMA = T.StructType(
    [
        T.StructField("c", T.DoubleType()),  # current price
        T.StructField("d", T.DoubleType()),  # change
        T.StructField("dp", T.DoubleType()),  # percent change
        T.StructField("h", T.DoubleType()),
        T.StructField("l", T.DoubleType()),
        T.StructField("o", T.DoubleType()),
        T.StructField("pc", T.DoubleType()),
        T.StructField("t", T.LongType()),  # epoch seconds
        T.StructField("symbol", T.StringType()),
    ]
)

# Raw Finnhub company-news article shape (one element of the response
# array) pre-projection: producer_company_news.py:76-79,152-164
RAW_NEWS_SCHEMA = T.StructType(
    [
        T.StructField("category", T.StringType()),
        T.StructField("datetime", T.LongType()),  # epoch seconds published
        T.StructField("headline", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("image", T.StringType()),
        T.StructField("related", T.StringType()),  # the symbol
        T.StructField("source", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

# Kinesis-style envelope: (partition_key, base64 payload) —
# processor_stock_quotes.py:32-44
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.StringType()),
        T.StructField("data", T.StringType()),
    ]
)
