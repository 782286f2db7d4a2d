"""Web-pages source tests: deterministic synthesis, byte-identical
extracted text per url (input_hint per-row invariant), skew shape."""

import hashlib

import numpy as np
from pyspark.sql import functions as F

from tdigest_spark.sources import extract_text, extract_text_column, generate_webpages
from tdigest_spark.sources.webpages import LANGS, _gen_batch


def test_generation_deterministic_local():
    a = _gen_batch(np.arange(100))
    b = _gen_batch(np.arange(100))
    assert (a["text"] == b["text"]).all()
    assert (a["url"] == b["url"]).all()
    # independent of batch split
    c1 = _gen_batch(np.arange(0, 50))
    c2 = _gen_batch(np.arange(50, 100))
    assert list(a["text"]) == list(c1["text"]) + list(c2["text"])


def test_extract_text_identity_local():
    pdf = _gen_batch(np.arange(200))
    for html, text in zip(pdf["html"], pdf["text"]):
        assert extract_text(html) == text
        assert (
            hashlib.sha256(extract_text(html).encode()).digest()
            == hashlib.sha256(text.encode()).digest()
        )


def test_spark_generation_partitioning_invariant(spark):
    a = generate_webpages(spark, 500, partitions=2).orderBy("url").collect()
    b = generate_webpages(spark, 500, partitions=7).orderBy("url").collect()
    assert [(r["url"], r["text"], r["lang"]) for r in a] == [
        (r["url"], r["text"], r["lang"]) for r in b
    ]


def test_spark_extract_text_invariant(spark):
    df = generate_webpages(spark, 300, partitions=4)
    out = extract_text_column(df)
    bad = out.filter(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0
    # sha256 per url is stable across two independent generations
    h1 = {
        r["url"]: r["h"]
        for r in extract_text_column(generate_webpages(spark, 100))
        .select("url", F.sha2(F.col("extracted_text"), 256).alias("h"))
        .collect()
    }
    h2 = {
        r["url"]: r["h"]
        for r in extract_text_column(generate_webpages(spark, 100))
        .select("url", F.sha2(F.col("extracted_text"), 256).alias("h"))
        .collect()
    }
    assert h1 == h2


def test_lang_skew(spark):
    counts = dict(
        generate_webpages(spark, 3000, partitions=4)
        .groupBy("lang")
        .count()
        .collect()
    )
    assert set(counts) <= set(LANGS)
    total = sum(counts.values())
    assert counts["en"] / total > 0.45  # Zipf head
    assert len(counts) >= 8  # long tail present


def test_schema(spark):
    df = generate_webpages(spark, 10)
    assert [f.name for f in df.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types == {
        "url": "string",
        "warc_ts": "timestamp",
        "html": "binary",
        "text": "string",
        "lang": "string",
    }


def test_jvm_extraction_byte_identical(spark, tmp_path):
    """The whole-stage-codegen extraction column equals the Python
    extract_text byte-for-byte on every row (the per-url invariant)."""
    from tdigest_spark.sources.webpages import (
        extract_text,
        extract_text_jvm,
        write_webpages,
    )

    path = str(tmp_path / "wp_jvm")
    write_webpages(spark, 3000, path)
    df = spark.read.parquet(path)
    rows = df.select(
        "url",
        "html",
        extract_text_jvm("html").alias("jvm_text"),
        extract_text_jvm("html", fixed_suffix=None).alias("jvm_text_generic"),
    ).collect()
    assert len(rows) == 3000
    for r in rows:
        py_text = extract_text(bytes(r["html"]))
        assert r["jvm_text"] == py_text, r["url"]           # arithmetic path
        assert r["jvm_text_generic"] == py_text, r["url"]   # reverse-scan path
        assert r["jvm_text"].encode("utf-8") == py_text.encode("utf-8")


def test_jvm_extraction_is_codegen(spark, tmp_path):
    from tdigest_spark.plans import explain_str
    from tdigest_spark.sources.webpages import extract_text_jvm, write_webpages
    from pyspark.sql import functions as F

    path = str(tmp_path / "wp_cg")
    write_webpages(spark, 200, path)
    df = spark.read.parquet(path)
    q = df.select("lang", F.length(extract_text_jvm("html")).alias("n"))
    plan = explain_str(q, "simple")
    assert "*(1)" in plan  # whole-stage codegen
    assert "Python" not in plan and "Arrow" not in plan
