"""Golden-file ingestion tests (SURVEY.md §5.2).

The reference's shipped scrape outputs (/root/reference/data/*, read
only) act as fixtures: bronze reads must reproduce their record counts
and schema, and silver normalization must match the profiled
null/fill-rate structure and canonicalize both DOI encodings."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_collection_ieee_spark.sources import articles

REF_DATA = "/root/reference/data"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference data not available"
)


@pytest.fixture(scope="module")
def ieee_silver(spark):
    bronze = articles.read_bronze_json(spark, f"{REF_DATA}/ai_articles.json", "ieee")
    return articles.bronze_to_silver(bronze).cache()


@pytest.fixture(scope="module")
def acm_silver(spark):
    bronze = articles.read_bronze_json(
        spark, f"{REF_DATA}/acm_blockchain_articles.json", "acm"
    )
    return articles.bronze_to_silver(bronze).cache()


def _filled(df, col):
    return df.filter(F.col(col).isNotNull()).count()


def test_ieee_bronze_shape(spark):
    bronze = articles.read_bronze_json(spark, f"{REF_DATA}/ai_articles.json", "ieee")
    assert bronze.count() == 50
    assert bronze.columns == list(articles.IEEE_COLUMNS)


def test_ieee_silver_null_profile(ieee_silver):
    # profiled in SURVEY.md §5: journal/keywords/laboratoires/pays/
    # quartile are always-"" in the shipped IEEE data → all NULL at silver
    for dead in ("journal", "keywords", "laboratoires", "pays", "quartile"):
        assert _filled(ieee_silver, dead) == 0, dead
    assert _filled(ieee_silver, "indexation") == 50
    assert _filled(ieee_silver, "publication") == 48
    assert _filled(ieee_silver, "doi") == 36
    assert _filled(ieee_silver, "chercheurs") == 46


def test_acm_bronze_shape(spark):
    bronze = articles.read_bronze_json(
        spark, f"{REF_DATA}/acm_blockchain_articles.json", "acm"
    )
    assert bronze.count() == 20
    assert bronze.columns == list(articles.ACM_COLUMNS)


def test_doi_canonicalization_both_encodings(ieee_silver, acm_silver):
    ieee_dois = [
        r[0]
        for r in ieee_silver.filter(F.col("doi_canonical").isNotNull())
        .select("doi_canonical")
        .collect()
    ]
    acm_dois = [
        r[0]
        for r in acm_silver.filter(F.col("doi_canonical").isNotNull())
        .select("doi_canonical")
        .collect()
    ]
    assert ieee_dois and acm_dois
    # canonical form: bare DOI — no "DOI: " prefix, no URL scheme
    for d in ieee_dois + acm_dois:
        assert d.startswith("10."), d
        assert "doi.org" not in d and not d.upper().startswith("DOI"), d
    # provenance: ACM DOIs are uniformly 10.1145/*; IEEE-indexed venues
    # are mostly (not exclusively) 10.1109/*
    assert all(d.startswith("10.1145/") for d in acm_dois)
    assert sum(d.startswith("10.1109/") for d in ieee_dois) >= len(ieee_dois) / 2


def test_author_split(ieee_silver):
    multi = ieee_silver.filter(F.size("auteurs") >= 2)
    assert multi.count() > 0
    row = multi.select("chercheurs", "auteurs").first()
    assert row["auteurs"] == row["chercheurs"].split("; ")
    assert all("; " not in a for a in row["auteurs"])


def test_cross_source_merge_schema_drift(ieee_silver, acm_silver):
    merged = articles.merge_sources(ieee_silver, acm_silver)
    assert merged.count() == 70
    # ACM rows surface with NULL pays/quartile, not missing columns
    acm_rows = merged.filter(F.col("indexation") == "ACM")
    assert acm_rows.count() == 20
    assert acm_rows.filter(F.col("pays").isNull()).count() == 20
    by_src = {
        r["indexation"]: r["n"]
        for r in merged.groupBy("indexation").agg(F.count("*").alias("n")).collect()
    }
    assert by_src == {"IEEE": 50, "ACM": 20}


def test_sink_roundtrip_csv_json(tmp_path, spark, ieee_silver):
    csv_path = str(tmp_path / "articles_csv")
    json_path = str(tmp_path / "articles_json")
    subset = ieee_silver.select("indexation", "titre", "doi_canonical", "auteurs")
    articles.write_csv(subset, csv_path)
    articles.write_json(subset, json_path)
    back_json = spark.read.json(json_path)
    assert back_json.count() == 50
    back_csv = spark.read.option("header", True).csv(csv_path)
    assert back_csv.count() == 50
    # UTF-8 preservation through both sinks (A14/A15)
    titles = {r[0] for r in back_json.select("titre").collect()}
    orig = {r[0] for r in subset.select("titre").collect()}
    assert titles == orig


def test_permissive_jsonl_quarantines_corrupt_records(spark, tmp_path):
    """A16 re-designed: malformed lines neither kill the job nor vanish
    — they land in _corrupt_record for quarantine."""
    import json as _json

    from data_collection_ieee_spark.sources.articles import (
        read_bronze_jsonl_permissive,
    )

    good = [
        {"journal": "", "indexation": "IEEE", "publication": "P", "doi": f"DOI: 10.1109/X.{i}",
         "titre": f"T{i}", "chercheurs": "A; B", "laboratoires": "", "abstract": "a",
         "keywords": "", "pays": "", "quartile": ""}
        for i in range(4)
    ]
    lines = [_json.dumps(g) for g in good]
    lines.insert(2, '{"titre": "broken, unterminated')  # malformed JSON
    lines.insert(4, "not json at all {{{{")
    p = tmp_path / "feed.jsonl"
    p.write_text("\n".join(lines) + "\n")

    df = read_bronze_jsonl_permissive(spark, str(p), "ieee")
    clean = df.filter("_corrupt_record IS NULL")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert df.count() == 6
    assert clean.count() == 4
    assert sorted(r["titre"] for r in clean.collect()) == ["T0", "T1", "T2", "T3"]
    assert bad.count() == 2
    # the corrupt payloads are preserved verbatim for quarantine
    assert {r["_corrupt_record"] for r in bad.collect()} == {
        '{"titre": "broken, unterminated',
        "not json at all {{{{",
    }


def test_json_array_export_golden_byte_parity(tmp_path, spark):
    """A15 exact form: a bronze roundtrip of the reference's own array
    dump re-serializes byte-identically (json.dump(..., ensure_ascii=
    False, indent=2), reference main.py:197-198)."""
    src = f"{REF_DATA}/ai_articles.json"
    bronze = articles.read_bronze_json(spark, src, "ieee")
    out = tmp_path / "roundtrip.json"
    articles.write_json_array(bronze, str(out))
    assert out.read_bytes() == open(src, "rb").read()


def test_json_array_export_size_guard(tmp_path, spark):
    import pyspark.sql.functions as SF

    big = spark.range(5).select(SF.col("id"))
    old = articles.JSON_ARRAY_MAX_ROWS
    articles.JSON_ARRAY_MAX_ROWS = 3
    try:
        with pytest.raises(ValueError, match="small-export"):
            articles.write_json_array(big, str(tmp_path / "x.json"))
    finally:
        articles.JSON_ARRAY_MAX_ROWS = old


def test_articles_enrich_dims_joins(spark):
    """A17 realized: both dimension joins enrich the merged table."""
    from data_collection_ieee_spark.operators.articles_queries import enrich_dims

    df = enrich_dims(
        spark,
        [f"{REF_DATA}/ai_articles.json", f"{REF_DATA}/blockchain_articles.json"],
        [
            f"{REF_DATA}/acm_machine_learning_articles.json",
            f"{REF_DATA}/acm_blockchain_articles.json",
        ],
    ).cache()
    assert df.count() == 140
    # IEEE rows enrich via publisher→country, ACM rows via venue→quartile
    assert df.filter(F.col("pays_dim") == "United States").count() > 0
    assert df.filter(F.col("quartile_dim").isNotNull()).count() == 40
    assert df.filter(
        (F.col("indexation") == "ACM") & F.col("pays_dim").isNotNull()
    ).count() == 0
