"""Expected outputs computed with DuckDB from the seeded input alone.

- batch_throughput: the four sink row counts. Entries follow the start-line
  rule of the ``multiline_entry_stats`` oracle; the error sink re-derives
  the parse stage's level pick (prefix strip, JSON object check, first
  string-valued key of level/lvl/severity/priority) in SQL.
- query_latency: each query's ``oracle_sql()`` text, read unchanged from
  the query modules and run over the generated ``events``/``documents``.
"""

from __future__ import annotations

import datetime as dt
import decimal

import duckdb

QUERY_MIX = (
    "parse_severity_counts",
    "multiline_entry_stats",
    "conversation_rollup",
    "flush_window_counts",
    "dedup_canonical",
    "leakage_split",
)

_PREFIX_RE = r"^(\d{4}-\d{2}-\d{2}[T\s]\d{2}:\d{2}:\d{2}[.\d]*[Z\-+\d:]*\s*)?(.*)$"

_LEVEL_KEYS = ("level", "lvl", "severity", "priority")

_SINK_COUNTS_SQL = """
WITH ne AS (SELECT * FROM read_parquet('{glob}') WHERE length(text) > 0),
tagged AS (
  SELECT *, CASE WHEN substring(text, 1, 1) IN (' ', chr(9))
                   OR trim(text) IN (']','}}','],','}},') THEN 0 ELSE 1 END AS is_start
  FROM ne),
run AS (SELECT *, SUM(is_start) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS entry_id
        FROM tagged),
ent AS (
  SELECT conv_id, entry_id, first(tool ORDER BY turn_idx) AS tool,
         string_agg(text, chr(10) ORDER BY turn_idx) AS text
  FROM run WHERE entry_id > 0 GROUP BY 1, 2),
px AS (
  SELECT *, CASE WHEN substring(text, 1, 1) = '{{' OR strpos(text, chr(10)) > 0 THEN text
                 ELSE coalesce(nullif(regexp_extract(text, '{prefix}', 2), ''), text)
            END AS js
  FROM ent),
lv AS (
  SELECT *, CASE WHEN ltrim(js, ' ' || chr(9) || chr(10) || chr(13)) NOT LIKE '{{%' THEN 'info'
                 WHEN NOT json_valid(js) THEN 'info'
                 WHEN json_type(js) <> 'OBJECT' THEN 'info'
                 ELSE coalesce({level_pick}, 'info') END AS level
  FROM px)
SELECT COUNT(*) AS logs,
       COUNT(*) FILTER (WHERE lower(level) IN ('error', 'fatal')) AS error,
       COUNT(*) FILTER (WHERE tool IS NOT NULL) AS tool_call,
       COUNT(DISTINCT conv_id) AS conversation_metrics
FROM lv
"""


def predict_sink_counts(data_dir: str) -> dict[str, int]:
    level_pick = ", ".join(
        f"CASE WHEN json_type(js, '$.{k}') = 'VARCHAR' THEN json_extract_string(js, '$.{k}') END"
        for k in _LEVEL_KEYS
    )
    sql = _SINK_COUNTS_SQL.format(glob=f"{data_dir}/*.parquet", prefix=_PREFIX_RE, level_pick=level_pick)
    con = duckdb.connect()
    try:
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        return {n: int(v) for n, v in zip(names, cur.fetchone())}
    finally:
        con.close()


def oracle_texts() -> dict[str, str]:
    from otel_logger_spark.queries import ORACLES_AB
    from otel_logger_spark.queries_training import ORACLES_C

    merged = {**ORACLES_AB, **ORACLES_C}
    return {q: merged[q] for q in QUERY_MIX}


def _norm_value(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, decimal.Decimal)):
        return int(v)
    if isinstance(v, float):
        return int(v) if v.is_integer() else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return str(v)


def normalize(columns, rows) -> list[list]:
    """Order-insensitive comparable form: columns sorted by name, values
    made JSON-stable, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_norm_value(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: [(x is None, str(type(x)), x if x is not None else 0) for x in r])
    return [[columns[i] for i in order], *out]


def query_expectations(data_dir: str) -> dict[str, list]:
    con = duckdb.connect()
    try:
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for q, sql in oracle_texts().items():
            cur = con.execute(sql)
            out[q] = normalize([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
