"""Ingest normalization operators (reference parity: P1, P2, P4).

The reference's entire transform layer is two pandas lines: lowercase all
column names (reference utils.py:307) and coerce a denylist of date columns
through ``pd.to_datetime(errors="coerce").dt.strftime("%Y-%m-%d %H:%M:%S")``
(reference utils.py:301-305, column list config.py:134-145). Re-expressed
here as Catalyst column expressions so they run JVM-side inside whole-stage
codegen — no Python in the row path, which is what makes the same two lines
hold at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.queries import register

# Reference denylist (config.py:134-145), kept as the engine default; callers
# pass their own list for other domains.
DEFAULT_DATE_COLUMNS = [
    "dtalteracao",
    "dtnascimento",
    "dtcadastro",
    "dtemissao",
    "dtmovimento",
    "dtrecebimento",
    "dtpagamento",
    "dtvencimento",
    "dtiniciotabela",
    "dtfimtabela",
]

NORM_FORMAT = "yyyy-MM-dd HH:mm:ss"


def lowercase_columns(df: DataFrame) -> DataFrame:
    """P1 — rename every column to lowercase (reference utils.py:307)."""
    return df.toDF(*[c.lower() for c in df.columns])


# pd.to_datetime infers many formats; try_to_timestamp alone only parses
# ISO-ish strings. This ordered chain covers the formats a BR-domain API
# actually emits (the reference's data is Brazilian ERP output): ISO with
# time, ISO date, day-first with time, day-first date. First match wins —
# deterministic, unlike pandas' per-value inference.
COERCE_FORMATS = ["dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy"]


def coerce_timestamp(col: Column | str) -> Column:
    """P2 parse half: parse-or-null, the Spark equivalent of
    ``pd.to_datetime(errors='coerce')`` (reference utils.py:303).
    ``try_to_timestamp`` returns null on unparseable input instead of
    raising; a coalesce over an explicit format chain replaces pandas'
    per-value format inference (which is nondeterministic across mixed
    columns — a foot-gun we deliberately fix, SURVEY.md §7.4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_timestamp(c),
        *[F.try_to_timestamp(c, F.lit(fmt)) for fmt in COERCE_FORMATS],
    )


def normalize_date_column(col: Column | str) -> Column:
    """P2 — parse-or-null then re-format to 'yyyy-MM-dd HH:mm:ss' string
    (reference utils.py:301-305 keeps dates as strings; we preserve that
    at the ingest boundary and keep TimestampType internally elsewhere)."""
    return F.date_format(coerce_timestamp(col), NORM_FORMAT)


def normalize_dates(df: DataFrame, date_columns: list[str] | None = None) -> DataFrame:
    """Apply P2 to every date column present in ``df`` (case-insensitive
    membership, like the reference's ``if col in df.columns`` check,
    utils.py:301)."""
    wanted = {c.lower() for c in (date_columns or DEFAULT_DATE_COLUMNS)}
    out = df
    for c in df.columns:
        if c.lower() in wanted:
            out = out.withColumn(c, normalize_date_column(c))
    return out


def ingest_normalize(df: DataFrame, date_columns: list[str] | None = None) -> DataFrame:
    """The reference's full transform: P2 then P1 (utils.py:300-307)."""
    return lowercase_columns(normalize_dates(df, date_columns))


def string_date_between(col: Column | str, start: str, end: str) -> Column:
    """P4 — the reference's DELETE predicate semantics:
    ``DATE(LOWER(f)) BETWEEN DATE(a) AND DATE(b)`` over a *string* date
    column (reference utils.py:266-269), day-granular."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(F.lower(c)).between(F.to_date(F.lit(start)), F.to_date(F.lit(end)))


# ---------------------------------------------------------------------------
# driver-gate queries demonstrating P1/P2/P4 semantics on the fixture tables


@register(
    "etl_normalize",
    oracle="""
    SELECT
      event_id,
      strftime(ts, '%Y-%m-%d %H:%M:%S') AS dtmovimento,
      strftime(try_cast(event_type AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS dtcadastro,
      event_type
    FROM events
    """,
    doc="P1+P2 parity: lowercase rename + parse-or-null date normalization "
    "(reference utils.py:300-307). dtmovimento round-trips a real timestamp "
    "through string parse+format; dtcadastro coerces an unparseable string "
    "to null, matching pd.to_datetime(errors='coerce').",
    tags=("etl", "normalize"),
)
def etl_normalize(spark, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    # Build an API-shaped frame: uppercase names, date columns as strings
    # (the reference's input is JSON records with uppercase keys).
    raw = ev.select(
        F.col("event_id").alias("EVENT_ID"),
        F.date_format("ts", NORM_FORMAT).alias("DTMOVIMENTO"),
        F.col("event_type").alias("DTCADASTRO"),  # unparseable → null
        F.col("event_type").alias("EVENT_TYPE"),
    )
    return ingest_normalize(raw)


@register(
    "etl_filter_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, dtmovimento
    FROM (
      SELECT l_orderkey, l_linenumber,
             strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS dtmovimento
      FROM lineitem
    )
    WHERE CAST(lower(dtmovimento) AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
    """,
    doc="P4/S2 parity: the reference's day-granular string-date BETWEEN "
    "predicate (DELETE at utils.py:266-269; source pushdown payload at "
    "utils.py:177-183) as a Catalyst filter.",
    tags=("etl", "filter"),
)
def etl_filter_range(spark, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", NORM_FORMAT).alias("dtmovimento"),
    )
    return li.filter(string_date_between("dtmovimento", "1995-01-01", "1995-12-31"))
