"""Reference-semantics article ingestion: bronze → silver → merged.

Reproduces the reference scrapers' data model exactly (SURVEY.md §1):

- **bronze**: the literal record shapes the scrapers emit — IEEE 11
  string columns (reference main.py:94-107), ACM 9 string columns
  (mainn.py:67-83), with empty string `""` as the null sentinel
  (`_safe_get_text` returns "" on any miss, main.py:165-171).
- **silver**: typed normalization — `""`→NULL everywhere, trimmed
  strings, `chercheurs` split on "; " into array<string> (main.py:101),
  both DOI encodings (`"DOI: 10.1109/…"` IEEE / `"https://doi.org/…"`
  ACM URL form) canonicalized to the bare DOI by one regexp, ACM
  publication dates parsed.
- **merged**: the cross-source schema-drift union (11-col ∪ 9-col via
  unionByName(allowMissingColumns=True)) — one logical articles table.

Sinks mirror A14/A15: header/UTF-8 CSV and JSON — both the distributed
JSON-lines form and `write_json_array`, a size-guarded small-export
sink byte-compatible with the reference's pretty-printed array dump
(json.dump(..., ensure_ascii=False, indent=2), main.py:197-198).

Scale: every step is a narrow projection; the union is metadata-only;
sinks write one file per partition. Nothing here shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 11-column IEEE bronze schema, all nullable strings (main.py:94-107).
IEEE_COLUMNS = (
    "journal",
    "indexation",
    "publication",
    "doi",
    "titre",
    "chercheurs",
    "laboratoires",
    "abstract",
    "keywords",
    "pays",
    "quartile",
)
# ACM bronze = first 9 of the IEEE columns (mainn.py:67-83).
ACM_COLUMNS = IEEE_COLUMNS[:9]

IEEE_BRONZE_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in IEEE_COLUMNS]
)
ACM_BRONZE_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in ACM_COLUMNS]
)

# One regexp canonicalizes both observed DOI encodings:
#   IEEE: "DOI: 10.1109/Blockchain.2019.00068"
#   ACM:  "https://doi.org/10.1145/3688225.3688241"
DOI_PATTERN = r"(10\.\d{4,9}/[^\s]+)"

# What "trimmed" strips: the Unicode space separators (category Zs),
# the set DuckDB's trim() strips. F.trim alone strips only U+0020, and
# a scraped '\xa0Publisher: IEEE\xa0' must still hit the publisher
# lookup. Tabs, newlines, U+0085 and U+200B are kept, as in DuckDB.
SPACE_SEPARATORS = (
    "\u0020\u00a0\u1680\u2000\u2001\u2002\u2003\u2004\u2005\u2006"
    "\u2007\u2008\u2009\u200a\u202f\u205f\u3000"
)


def read_bronze_json(spark: SparkSession, path, source: str) -> DataFrame:
    """Read one or more scraper JSON dumps (array-of-objects, as the
    reference writes with json.dump(..., indent=2) — hence multiLine)
    into the bronze schema for `source` ('ieee' | 'acm')."""
    schema = IEEE_BRONZE_SCHEMA if source == "ieee" else ACM_BRONZE_SCHEMA
    return spark.read.schema(schema).option("multiLine", True).json(path)


def read_bronze_jsonl_permissive(
    spark: SparkSession, path: str, source: str
) -> DataFrame:
    """Read a JSON-lines feed in PERMISSIVE mode: malformed lines land
    in `_corrupt_record` instead of failing the job — the engine's form
    of the reference's per-record skip-and-continue (A16, reference
    main.py:117-123), except nothing is silently lost: corrupt payloads
    stay queryable for quarantine/retry. Callers split on
    `_corrupt_record IS NULL`.

    The frame is cached before returning: Spark forbids queries that
    reference ONLY the corrupt-record column against the raw file scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); caching
    materializes the parse once and makes any split legal."""
    base = IEEE_BRONZE_SCHEMA if source == "ieee" else ACM_BRONZE_SCHEMA
    # copy, don't .add() in place: StructType.add mutates the receiver,
    # which would silently grow the shared module-level bronze schema
    schema = T.StructType(
        list(base.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )


def read_bronze_csv(spark: SparkSession, path: str, source: str) -> DataFrame:
    schema = IEEE_BRONZE_SCHEMA if source == "ieee" else ACM_BRONZE_SCHEMA
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)  # abstracts contain newlines
        .option("escape", '"')
        .csv(path)
    )


def bronze_to_silver(bronze: DataFrame) -> DataFrame:
    """The "" → NULL + typing rule (SURVEY.md §4 item 5).

    Every string column is trimmed of `SPACE_SEPARATORS` and
    ''-nullified; then:
    - `doi_canonical`: bare DOI extracted from either encoding;
    - `auteurs`: chercheurs split on '; ' into array<string>;
    - `pub_date`: publication parsed as a date where it is one (the
      ACM case, selector .issue-item__publication-date, mainn.py:70) —
      NULL where it's free text like 'Publisher: IEEE'.
    Missing columns (ACM's pays/quartile) are added as NULL so one
    silver schema serves both sources.

    Built as ONE select (not chained withColumn): a withColumn per
    column re-analyzes the whole plan each time, and the 14-deep
    projection chain per source was the dominant cost of every consumer
    of this function (~1 s of analyzer time per action at any data
    size). Single-projection form is semantically identical.
    """
    present = set(bronze.columns)
    silver = {
        c: (
            F.nullif(F.btrim(F.col(c), F.lit(SPACE_SEPARATORS)), F.lit(""))
            if c in present
            else F.lit(None).cast("string")
        )
        for c in IEEE_COLUMNS
    }
    cols = [expr.alias(name) for name, expr in silver.items()]
    cols.append(
        F.nullif(F.regexp_extract(silver["doi"], DOI_PATTERN, 1), F.lit("")).alias(
            "doi_canonical"
        )
    )
    chercheurs = silver["chercheurs"]
    cols.append(
        F.when(chercheurs.isNotNull(), F.split(chercheurs, "; "))
        .otherwise(F.lit(None).cast(T.ArrayType(T.StringType())))
        .alias("auteurs")
    )
    # try_to_date-like: ACM dates come as e.g. "01 June 2024" or ISO;
    # non-dates (IEEE 'Publisher: IEEE') → NULL.
    publication = silver["publication"]
    cols.append(
        F.coalesce(
            F.try_to_timestamp(publication, F.lit("dd MMMM yyyy")),
            F.try_to_timestamp(publication, F.lit("yyyy-MM-dd")),
        )
        .cast("date")
        .alias("pub_date")
    )
    return bronze.select(*cols)


def merge_sources(ieee_silver: DataFrame, acm_silver: DataFrame) -> DataFrame:
    """A12: one logical articles table across the 11/9-column drift."""
    return ieee_silver.unionByName(acm_silver, allowMissingColumns=True)


def write_csv(df: DataFrame, path: str) -> None:
    """A14 sink semantics: header row, UTF-8, RFC-4180 quoting
    (reference main.py:194 — pandas to_csv(index=False))."""
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, T.ArrayType):
            out = out.withColumn(field.name, F.array_join(F.col(field.name), "; "))
    out.write.mode("overwrite").option("header", True).option("encoding", "UTF-8").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """A15 sink semantics: JSON with non-ASCII preserved (Spark writes
    JSON-lines, unescaped unicode by default — the distributed
    equivalent of ensure_ascii=False, main.py:197-198)."""
    df.write.mode("overwrite").json(path)


# A json.dump(indent=2) array is a single in-memory document — it cannot
# be written distributed. This sink exists for byte-parity with the
# reference's downstream consumers, which parse an ARRAY, not JSON-lines.
JSON_ARRAY_MAX_ROWS = 100_000


def write_json_array(df: DataFrame, path: str, columns=None) -> None:
    """A15 exact-form sink: ONE pretty-printed JSON array, byte-identical
    to the reference's `json.dump(results, f, ensure_ascii=False,
    indent=2)` (main.py:197-198) for the same records.

    This is deliberately a driver-side small-export path: the output
    format is a single document, so there is nothing to distribute. The
    guard caps the collect at JSON_ARRAY_MAX_ROWS and fails loudly past
    it — for large exports use `write_json` (JSON-lines) and let the
    consumer stream. `columns` fixes the key order (default: DataFrame
    column order, which for bronze frames is the scraper's dict
    insertion order)."""
    import json

    cols = list(columns) if columns is not None else df.columns
    capped = df.select(*cols).limit(JSON_ARRAY_MAX_ROWS + 1).collect()
    if len(capped) > JSON_ARRAY_MAX_ROWS:
        raise ValueError(
            f"write_json_array is a small-export sink (≤{JSON_ARRAY_MAX_ROWS} rows); "
            "use write_json (JSON-lines) for large outputs"
        )
    records = [{c: row[c] for c in cols} for row in capped]
    with open(path, "w", encoding="utf-8") as f:
        json.dump(records, f, ensure_ascii=False, indent=2)
