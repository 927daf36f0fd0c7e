"""The benchmark's workloads: which items each runs, and why.

An item is one unit a single client runs start to finish:

- ``query``: a registry key, built with ``QUERIES[key](spark, dir)``
  and drained; checked against the key's DuckDB oracle.
- ``pipeline``: an ``examples/*.yaml`` container spec with a
  ``parquet_sink`` appended, run by ``run_pipeline``; its written output
  is checked against the DuckDB translation below.
- ``stream_spec``: a container streaming spec (``stream_parquet_source``
  -> ``anomaly_screen``) replayed by ``run_to_memory``; checked against
  ``stream_anomaly``'s oracle.

Item lists are trimmed from longer key lists so that a run (set-up, the
untimed checking and warm-up passes, two timed passes) takes 45-60 s
on a calm 4-core box; each list keeps its workload's emphasis.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Item:
    id: str
    kind: str  # "query" | "pipeline" | "stream_spec"
    ref: str  # registry key, spec file name, or the oracle key of a stream spec


def _queries(*keys: str) -> list[Item]:
    return [Item(k, "query", k) for k in keys]


STREAM_SPEC_ORACLE = "stream_anomaly"

WORKLOADS: dict[str, list[Item]] = {
    # Registry keys without containers or streams. The relational half
    # is Catalyst, JVM shuffle and per-stage fixed cost with almost no
    # Python; the extension half is Arrow/pandas worker time and the
    # iterate-to-fixpoint jobs k-means launches inside its builder.
    "batch": _queries(
        "flagship_q3",
        "win_sessionize",
        "sort_limit_topk",
        "ext_cluster_kmeans",
        "udf_pandas_scalar",
    ),
    # The reference's own artifact: container composition with writes
    # next to reads, per-micro-batch planning, state and WAL commits,
    # and the file sink's transaction-log commits.
    "pipeline_stream": [
        Item("web_dedup_pipeline", "pipeline", "web_dedup_pipeline.yaml"),
        Item("curation_pipeline", "pipeline", "curation_pipeline.yaml"),
        Item("anomaly_monitor", "pipeline", "anomaly_monitor.yaml"),
        Item("anomaly_screen_stream", "stream_spec", STREAM_SPEC_ORACLE),
        *_queries("snk_stream_parquet"),
    ],
}

# DuckDB translations of the three container specs' terminal ports
# (the Spark SQL in the specs uses DIV, size(split()) and escaped regex
# literals, which DuckDB spells differently).
PIPELINE_ORACLES = {
    "web_dedup_pipeline.yaml": r"""
    WITH urls AS (
      SELECT doc_id,
             concat(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END,
                    CASE WHEN doc_id % 3 = 0 THEN 'WWW.Docs.Example.COM'
                         ELSE 'docs.example.com' END,
                    '/articles/', CAST(doc_id // 7 AS VARCHAR),
                    CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END,
                    CASE WHEN doc_id % 4 = 0
                         THEN '?utm_source=feed&ref=rss' ELSE '' END) AS url
      FROM documents
    ),
    canonical AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(url), '^https?://', ''), '^www\.', ''),
               '\?(utm_[a-z]+|ref)=[^&]*(&(utm_[a-z]+|ref)=[^&]*)*$', ''),
               '/$', '') AS canonical_url
      FROM urls
    ),
    survivors AS (
      SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM canonical GROUP BY canonical_url
    )
    SELECT n_copies, COUNT(*) AS n_groups FROM survivors GROUP BY n_copies
    """,
    "curation_pipeline.yaml": """
    WITH f AS (
      SELECT source, len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE lang = 'en'
    )
    SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens
    FROM f WHERE n_tokens BETWEEN 16 AND 512 GROUP BY source
    """,
    "anomaly_monitor.yaml": """
    WITH u AS (
      SELECT event_id, event_type,
             CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS x
      FROM events
    ),
    win AS (
      SELECT event_id, event_type, x,
             COUNT(x) OVER w AS n,
             COALESCE(SUM(x) OVER w, 0) AS su,
             COALESCE(SUM(x * x) OVER w, 0) AS sq
      FROM u
      WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ),
    screened AS (
      SELECT event_type, CAST(x AS DOUBLE) / 10000.0 AS value,
             (n >= 12 AND (x * n - su) * (x * n - su) > 9 * (n * sq - su * su))
               AS is_anomaly
      FROM win
    )
    SELECT event_type, COUNT(*) AS n_alerts,
           MIN(value) AS min_flagged, MAX(value) AS max_flagged
    FROM screened WHERE is_anomaly GROUP BY event_type
    """,
}
