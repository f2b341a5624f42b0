"""GTS text-format ingest and export — the reference's front door.

Input format (GTSHelper.java:2682 MEASUREMENT_RE, parser :2860):

    TS/LAT:LON/ELEV class{label=value,...} value

every segment before the class optional (`//` = server-side tick, no
geo). Value typing (GTSHelper.parseValue_regexp:3582-3584):
STRING ('...' or "..."), BOOLEAN (T|F|true|false, case-insensitive),
LONG ([+-]?digits), DOUBLE otherwise-numeric.

Everything is a Column expression over a text DataFrame —
regexp_extract / str_to_map / typed CASE — so the same projection runs
identically under spark.read.text (batch) and spark.readStream.text
(Structured Streaming ingest, streaming/ingest.py); predicate pushdown
and whole-stage codegen apply, and ingest parallelism is the file-split
parallelism of the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warp10_platform_spark.core.schema import with_gts_id

# Groups: 1=ts 2=lat:lon 3=lat 4=lon 5=elev 6=class 7=labels 8=value
GTS_LINE_RE = r"^([0-9]+)?/(([0-9.\-]+):([0-9.\-]+))?/([0-9\-]+)? +([^ ]+)\{([^}]*)\} +(.+)$"

_BOOL_RE = r"^(?i)(T|F|true|false)$"
_LONG_RE = r"^[+-]?[0-9]+$"
_DOUBLE_RE = r"^[+-]?([0-9]+)(\.[0-9]+)?([eE][+-]?[0-9]+)?$"
_STRING_RE = "^['\"].*['\"]$"


def _g(i: int) -> Column:
    return F.regexp_extract(F.col("value"), GTS_LINE_RE, i)


def parse_gts_lines(lines: DataFrame, default_ts: int | None = None) -> DataFrame:
    """text lines → canonical points DataFrame (POINTS_SCHEMA + gts_id).

    `lines` must have a string column named `value` (the shape of
    spark.read.text / spark.readStream.text). Unparseable lines are
    dropped (the reference throws per line; a distributed reader
    quarantines instead — count them upstream with a filter if needed).
    """
    vs = _g(8)
    parsed = lines.where(F.col("value").rlike(GTS_LINE_RE)).select(
        _g(6).alias("class"),
        F.when(_g(7) == "", F.create_map().cast("map<string,string>"))
        .otherwise(F.str_to_map(_g(7), F.lit(","), F.lit("=")))
        .alias("labels"),
        F.create_map().cast("map<string,string>").alias("attributes"),
        F.when(_g(1) == "", F.lit(default_ts).cast("long")).otherwise(_g(1).cast("long")).alias("ts"),
        F.when(_g(3) == "", F.lit(None)).otherwise(_g(3)).cast("double").alias("lat"),
        F.when(_g(4) == "", F.lit(None)).otherwise(_g(4)).cast("double").alias("lon"),
        F.when(_g(5) == "", F.lit(None)).otherwise(_g(5)).cast("long").alias("elev"),
        vs.alias("_vs"),
    )
    typed = parsed.select(
        "class",
        "labels",
        "attributes",
        "ts",
        "lat",
        "lon",
        "elev",
        F.when(F.col("_vs").rlike(_STRING_RE) | F.col("_vs").rlike(_BOOL_RE), None)
        .when(F.col("_vs").rlike(_LONG_RE), F.col("_vs").cast("long"))
        .alias("v_long"),
        F.when(
            ~F.col("_vs").rlike(_STRING_RE)
            & ~F.col("_vs").rlike(_BOOL_RE)
            & ~F.col("_vs").rlike(_LONG_RE)
            & F.col("_vs").rlike(_DOUBLE_RE),
            F.col("_vs").cast("double"),
        ).alias("v_double"),
        F.when(F.col("_vs").rlike(_BOOL_RE), F.lower(F.col("_vs")).isin("t", "true")).alias("v_bool"),
        F.when(F.col("_vs").rlike(_STRING_RE), F.expr("substring(_vs, 2, length(_vs) - 2)")).alias("v_string"),
    )
    return with_gts_id(typed)


def parse(spark, lines: list[str] | DataFrame, default_ts: int | None = None) -> DataFrame:
    """PARSE / SMARTPARSE (script/functions/PARSE.java, SMARTPARSE.java):
    parse GTS input-format strings inside a job — literal list or an
    existing one-string-column DataFrame; same regex pipeline as ingest.

    A literal list enters as an Arrow table, a JVM-side local relation:
    no Python worker starts for the jobs that read it."""
    if isinstance(lines, list):
        import pyarrow as pa

        lines = spark.createDataFrame(pa.table({"value": pa.array(lines, pa.string())}))
    return parse_gts_lines(lines, default_ts=default_ts)


def format_gts_lines(points: DataFrame) -> DataFrame:
    """points DataFrame → text lines (single `value` string column) — the
    /fetch text export format (EgressFetchHandler.java:1077-1085) and the
    UPDATE wire format. Inverse of parse_gts_lines; doubles use Spark's
    shortest-roundtrip string form so re-ingest is loss-free."""
    geo = F.when(
        F.col("lat").isNotNull() & F.col("lon").isNotNull(),
        F.concat(F.col("lat").cast("string"), F.lit(":"), F.col("lon").cast("string")),
    ).otherwise(F.lit(""))
    elev = F.coalesce(F.col("elev").cast("string"), F.lit(""))
    labels_str = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(F.col("labels"))),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        ",",
    )
    value_str = (
        F.when(F.col("v_string").isNotNull(), F.concat(F.lit("'"), F.col("v_string"), F.lit("'")))
        .when(F.col("v_bool").isNotNull(), F.when(F.col("v_bool"), F.lit("T")).otherwise(F.lit("F")))
        .when(F.col("v_long").isNotNull(), F.col("v_long").cast("string"))
        .otherwise(F.col("v_double").cast("string"))
    )
    return points.select(
        F.concat(
            F.col("ts").cast("string"),
            F.lit("/"),
            geo,
            F.lit("/"),
            elev,
            F.lit(" "),
            F.col("class"),
            F.lit("{"),
            labels_str,
            F.lit("} "),
            value_str,
        ).alias("value")
    )
